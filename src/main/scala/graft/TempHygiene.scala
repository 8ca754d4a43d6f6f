package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.nio.file.attribute.FileTime

/** Scratch-space hygiene shared by every entry point.
  *
  * The engine's layout/index operators write throwaway artifacts under
  * `/tmp/graft*` (and `graft_*` under `java.io.tmpdir`) and managed
  * bucketed tables under the warehouse, tagged with the owning pid
  * ([[SessionMemo.pathTag]]) so concurrent JVMs never collide. The tag
  * also means a crashed or killed process's artifacts match no later
  * process's cleanup pass — without a reaper they
  * accumulate without bound (the r11 driver-bench stall was diagnosed as
  * exactly this disk pressure; round 13 found 1,991 orphan dirs / 5.6 GB
  * in /tmp and 64 stale warehouse tables from 12 rounds of runs).
  *
  * [[sweepOrphans]] reclaims them safely:
  *  - pid-tagged entries (`…_p<pid>`): deleted when the pid is no longer
  *    alive (`ProcessHandle.of(pid).isEmpty`) — precise, age-independent;
  *  - untagged entries (random-suffix `Files.createTempDirectory` dirs
  *    from test suites; since r14 the stream-replay harness pid-tags its
  *    dirs too, so only suites land here): deleted when their mtime is
  *    older than `SPARK_GRAFT_TMP_MAX_AGE_H` (default 12 h) — a live
  *    JVM's memoized dirs are never at risk because every dir a live
  *    process may still read carries its pid;
  *  - `/tmp/graft_pair_store` is NEVER swept: the persisted pair graph is
  *    a deliberate write-once/read-many cross-process artifact (its
  *    production analog is a table-adjacent index, not scratch).
  *
  * All deletion goes through [[deleteRecursively]], which never follows
  * symlinks (`NOFOLLOW_LINKS`): a link inside a scratch dir is deleted as
  * a link — its target's contents are untouched (r12 ADVICE).
  */
object TempHygiene {

  /** Recursive delete that treats symlinks as leaves: only a REAL
    * directory (not a link to one) is descended into, so a hostile or
    * accidental link pointing outside the scratch tree can never cause
    * collateral deletion. Best-effort; errors are swallowed by callers. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val st = Files.list(p)
      try st.forEach(c => deleteRecursively(c)) finally st.close()
    }
    Files.deleteIfExists(p): Unit
  }

  private val PidTag = ".*_p(\\d+)$".r

  /** True when the entry's embedded `_p<pid>` names a process that no
    * longer exists; false for live pids AND for untagged names. */
  private def deadPidTagged(name: String): Boolean = name match {
    case PidTag(pid) =>
      pid.toLongOption.exists(p => ProcessHandle.of(p).isEmpty)
    case _ => false
  }

  private def olderThan(p: Path, cutoff: FileTime): Boolean =
    try Files.getLastModifiedTime(p, LinkOption.NOFOLLOW_LINKS)
      .compareTo(cutoff) < 0
    catch { case _: Throwable => false }

  private def maxAgeHours: Long =
    sys.env.get("SPARK_GRAFT_TMP_MAX_AGE_H").flatMap(_.toLongOption)
      .getOrElse(12L)

  /** Sweep one directory: delete children matching `prefixes` that are
    * either dead-pid-tagged or (untagged and older than the age cutoff),
    * skipping `exclude` names. */
  private def sweepDir(dir: Path, prefixes: Seq[String],
      exclude: String => Boolean): Int = {
    if (!Files.isDirectory(dir)) return 0
    val cutoff = FileTime.fromMillis(
      System.currentTimeMillis() - maxAgeHours * 3600L * 1000L)
    var n = 0
    val st = try Files.list(dir) catch { case _: Throwable => return 0 }
    try st.forEach { p =>
      val name = p.getFileName.toString
      if (prefixes.exists(name.startsWith) && !exclude(name)) {
        val reap =
          if (PidTag.matches(name)) deadPidTagged(name)
          else olderThan(p, cutoff)
        if (reap) {
          try { deleteRecursively(p); n += 1 }
          catch { case _: Throwable => () }
        }
      }
    } finally st.close()
    n
  }

  /** Where the engine's `graft_*` scratch lands: `/tmp`, `/dev/shm` and
    * `java.io.tmpdir` (index layouts), without duplicates. */
  def scratchRoots: Seq[String] =
    (Seq("/tmp", "/dev/shm") :+ System.getProperty("java.io.tmpdir"))
      .map(d => Paths.get(d).toAbsolutePath.normalize.toString).distinct

  @volatile private var swept = false

  /** Reap orphan scratch artifacts left by processes that no longer
    * exist: `/tmp/graft*` dirs and stale `b_orders_*`/`b_lineitem_*`
    * managed-bucketed-table dirs under the warehouse. Runs at most once
    * per JVM (entry points call it at startup); never throws. */
  def sweepOrphans(warehouseDir: String = "spark-warehouse"): Unit = {
    if (swept) return
    swept = true
    try {
      val nTmp = scratchRoots.map(d =>
        sweepDir(Paths.get(d), Seq("graft_", "graft-"),
          name => name.startsWith("graft_pair_store"))).sum
      // stale managed bucketed tables: the catalog of the process that
      // created them died with it, so the FILES are the only handle left —
      // prefix-match and reap like any other scratch (r12 ADVICE, medium)
      val nWh = sweepDir(Paths.get(warehouseDir),
        Seq("b_orders_", "b_lineitem_"), _ => false)
      if (nTmp + nWh > 0)
        System.err.println(
          s"[graft] reaped $nTmp orphan /tmp dirs, $nWh stale warehouse tables")
    } catch { case _: Throwable => () }
  }
}
