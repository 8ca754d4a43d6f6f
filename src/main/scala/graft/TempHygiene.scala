package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.util.control.NonFatal

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
  *    older than 12 h — a live
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

  private def olderThan(p: Path, cutoff: FileTime): Boolean =
    try Files.getLastModifiedTime(p, LinkOption.NOFOLLOW_LINKS)
      .compareTo(cutoff) < 0
    catch { case NonFatal(_) => false }

  /** Age past which an untagged scratch entry counts as orphaned. */
  private val MaxAgeHours = 12L

  /** Delete the children of `dir` (if it is a directory) that `reap`
    * selects by name and path; returns how many were deleted. Never
    * throws. */
  private def sweepDir(dir: Path)(reap: (String, Path) => Boolean): Int = {
    var n = 0
    try {
      val st = Files.list(dir)
      try st.forEach { p =>
        if (reap(p.getFileName.toString, p))
          try { deleteRecursively(p); n += 1 } catch { case NonFatal(_) => () }
      } finally st.close()
    } catch { case NonFatal(_) => () }
    n
  }

  /** A new directory `<base>/<prefix><random>_p<pid>`: the pid tag makes
    * [[sweepOrphans]] reap it only once this process is gone. */
  def pidTaggedDir(base: Path, prefix: String): Path =
    Files.createDirectories(base.resolve(
      s"$prefix${java.util.UUID.randomUUID().toString.take(8)}_p${ProcessHandle.current().pid()}"))

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
    val cutoff = FileTime.fromMillis(
      System.currentTimeMillis() - MaxAgeHours * 3600L * 1000L)
    // matching `prefixes`, and either tagged with the pid of a process
    // that no longer exists, or untagged and older than the age cutoff
    def orphan(prefixes: String*)(name: String, p: Path): Boolean =
      prefixes.exists(name.startsWith) && (name match {
        case PidTag(pid) => pid.toLongOption.exists(ProcessHandle.of(_).isEmpty)
        case _ => olderThan(p, cutoff)
      })
    val nTmp = scratchRoots.map(d => sweepDir(Paths.get(d))((name, p) =>
      !name.startsWith("graft_pair_store") && orphan("graft_", "graft-")(name, p))).sum
    // stale managed bucketed tables: the catalog of the process that
    // created them died with it, so the FILES are the only handle left —
    // prefix-match and reap like any other scratch (r12 ADVICE, medium)
    val nWh = sweepDir(Paths.get(warehouseDir))(orphan("b_orders_", "b_lineitem_"))
    if (nTmp + nWh > 0)
      System.err.println(
        s"[graft] reaped $nTmp orphan /tmp dirs, $nWh stale warehouse tables")
  }

  /** Delete this process's own pid-tagged `graft_*` scratch under the
    * [[scratchRoots]]; other runs' files are never touched. The r11 driver
    * bench left tens of thousands of temp files across /tmp, the prime
    * suspect for the h→l stall's disk pressure. Never throws. */
  def cleanOwn(): Unit = {
    val pidTag = s"_p${ProcessHandle.current().pid()}"
    scratchRoots.foreach(d => sweepDir(Paths.get(d))((name, _) =>
      name.startsWith("graft_") && name.endsWith(pidTag)))
  }
}
