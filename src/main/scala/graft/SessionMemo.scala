package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The session-scoped artifact registry: expensive derived artifacts —
  * converged near-dup component labels, fitted index models, persisted
  * intermediates, on-disk index layouts, resolved base tables — built once
  * per session and input snapshot and shared by every query that consumes
  * them.
  *
  * This is the Spark-session analog of the reference's persistent index
  * (reference: src/storage/index.rs — the EM-tree is built once and lives
  * with the table, queries only read it): an INDEX is by definition an
  * amortized artifact, so per-query rebuilds are the wrong physical plan
  * even when each rebuild's own shape is right. What "build once" means
  * here per artifact kind:
  *
  *  - driver-side models (KMeans codebooks, PQ centroids): fitting is
  *    eager at build time, so the registry holds the fitted coefficients —
  *    later queries plan pure transforms over them;
  *  - RDD-backed label sets (connected components): the registry holds the
  *    final RDD reference, so later jobs reuse its computed shuffle files
  *    as skipped stages — nothing is persist()ed, and dropping the entry
  *    is what lets the ContextCleaner reclaim the files;
  *  - persisted relations ([[ofPersisted]]): `.persist()`ed once, released
  *    by `unpersist` when the entry goes;
  *  - layouts ([[layout]]): the registry hands the build a fresh
  *    pid-tagged directory under `java.io.tmpdir` and owns its deletion.
  *
  * An entry is keyed by (session id, artifact name) and stores the input
  * snapshot it was built from — the way any index keys by its base table's
  * snapshot. The snapshot is computed here, on every lookup, by the one
  * [[fingerprint]]: for a corpus directory it covers the corpus tables
  * under it, for a relation input the semantic hash of its analyzed plan
  * plus a listing of its file roots. A lookup whose snapshot differs from
  * the stored one rebuilds the artifact and releases the superseded value,
  * so a rewritten corpus or a new table generation is never served from a
  * stale entry. Names must therefore differ for inputs that are live
  * together, or they would keep superseding each other. */
object SessionMemo {

  /** A built artifact, the snapshot it was built from, and what releasing
    * it takes. `retired` is the layout of the entry this one superseded:
    * a read planned on it may still be scanning it, so it is deleted only
    * when this entry is superseded in turn. */
  private final case class Entry(snapshot: String, value: AnyRef, persisted: Boolean,
      layout: Option[String], retired: Option[String])

  /** A unique id per live session object; weak keys, so the id map never
    * pins a stopped session. */
  private val ids = new java.util.WeakHashMap[SparkSession, String]()

  private def sessionId(s: SparkSession): String = ids.synchronized {
    ids.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()

  /** The artifact `name` over the corpus under `dir`. */
  def of[T <: AnyRef](s: SparkSession, dir: String, name: String)(build: => T): T =
    lookup(s, s"$name@$dir", corpusSnapshot(s, dir), persist = false, None)(_ => build)

  /** The artifact `name` over the relation `input`. */
  def of[T <: AnyRef](input: DataFrame, name: String)(build: => T): T =
    lookup(input.sparkSession, name, relationSnapshot(input), persist = false, None)(_ => build)

  /** [[of]] for a relation that is `persist()`ed once: every later caller
    * gets the SAME cached instance, so a repeated query re-reads the cache
    * instead of stacking a duplicate `InMemoryRelation`. */
  def ofPersisted(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    lookup(s, s"$name@$dir", corpusSnapshot(s, dir), persist = true, None)(_ => build)

  def ofPersisted(input: DataFrame, name: String)(build: => DataFrame): DataFrame =
    lookup(input.sparkSession, name, relationSnapshot(input), persist = true, None)(
      _ => build)

  /** [[of]] for an on-disk layout: `write` gets a fresh directory
    * `java.io.tmpdir/<prefix>…_p<pid>` (pid-tagged, so another process's
    * sweep never reaps it while this one lives) and returns the artifact
    * read from it. */
  def layout[T <: AnyRef](s: SparkSession, dir: String, name: String, prefix: String)(
      write: String => T): T =
    lookup(s, s"$name@$dir", corpusSnapshot(s, dir), persist = false, Some(prefix))(
      p => write(p.get))

  def layout[T <: AnyRef](input: DataFrame, name: String, prefix: String)(
      write: String => T): T =
    lookup(input.sparkSession, name, relationSnapshot(input), persist = false,
      Some(prefix))(p => write(p.get))

  /** Check-then-put rather than computeIfAbsent: a build may itself
    * consult the registry (components build on the shared postings), and
    * nested computeIfAbsent on one map is not allowed. A racing duplicate
    * build of the same snapshot is benign — artifacts are deterministic;
    * the first one installed wins and the loser's layout is deleted.
    * The superseded value is unpersisted BEFORE the new one is persisted:
    * the cache manager matches plans by result, and a corpus rewritten in
    * place plans identically, so the new persist would otherwise attach
    * to the stale cache. */
  private def lookup[T <: AnyRef](s: SparkSession, name: String, snapshot: String,
      persist: Boolean, layoutPrefix: Option[String])(build: Option[String] => T): T = {
    val k = (sessionId(s), name)
    val cur = entries.get(k)
    if (cur != null && cur.snapshot == snapshot) return cur.value.asInstanceOf[T]
    val dir = layoutPrefix.map(p => TempHygiene.pidTaggedDir(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), p).toString)
    val value = try build(dir) catch { case e: Throwable => dir.foreach(delete); throw e }
    entries.synchronized {
      val prev = entries.get(k)
      if (prev != null && prev.snapshot == snapshot) {
        dir.foreach(delete)
        prev.value.asInstanceOf[T]
      } else {
        if (prev != null) {
          unpersist(prev)
          prev.retired.foreach(delete)
        }
        if (persist) value.asInstanceOf[DataFrame]
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        entries.put(k, Entry(snapshot, value, persist, dir, Option(prev).flatMap(_.layout)))
        value
      }
    }
  }

  /** Release a persisted value; an RDD or model value is released by
    * dropping the reference. */
  private def unpersist(e: Entry): Unit =
    if (e.persisted)
      try e.value.asInstanceOf[DataFrame].unpersist(blocking = false)
      catch { case _: Throwable => () }

  private def delete(dir: String): Unit =
    try TempHygiene.deleteRecursively(java.nio.file.Paths.get(dir))
    catch { case _: Throwable => () }

  /** Drop every entry of every session: persisted values are unpersisted
    * and every layout directory the registry owns is deleted. The
    * scale-stress harness calls this before each timed run so its
    * measurements price the full BUILD — the registry amortizes
    * steady-state sessions, and letting it amortize a scaling measurement
    * would hide exactly the cost the harness exists to expose. */
  def evictAll(): Unit = entries.synchronized {
    entries.values.forEach { e => unpersist(e); (e.layout ++ e.retired).foreach(delete) }
    entries.clear()
  }

  /** The snapshot fingerprint: 64-bit FNV-1a over the sorted RECURSIVE
    * (path, length, mtime) listing of every file under `roots` — the
    * identity a table format's manifest carries. A root that is a file
    * lists as itself, a missing one as absent. Recursion matters for
    * directory tables: a subdirectory's own (name, len, mtime) need not
    * change when a file inside it is rewritten in place. Roots are listed
    * once per parent directory (one LIST on an object store for a corpus
    * of single-file tables, not one HEAD per table); only directory roots
    * are walked further. Never memoized: detecting an in-place rewrite
    * under an unchanged name is its whole job. Listing only, no data
    * read. */
  def fingerprint(s: SparkSession, roots: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val entries = roots.map(new Path(_)).groupBy(_.getParent).toSeq.flatMap {
      case (parent, group) =>
        val fs = group.head.getFileSystem(conf)
        val listed: Map[String, org.apache.hadoop.fs.FileStatus] =
          if (parent == null) Map.empty
          else try fs.listStatus(parent).iterator.map(st => st.getPath.getName -> st).toMap
          catch { case _: java.io.FileNotFoundException => Map.empty }
        group.flatMap { p =>
          listed.get(p.getName) match {
            case None => Seq(s"$p:absent")
            case Some(st) if !st.isDirectory =>
              Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
            case Some(st) =>
              val buf = scala.collection.mutable.ArrayBuffer(s"${st.getPath}:dir")
              val it = fs.listFiles(st.getPath, true)
              while (it.hasNext) {
                val f = it.next()
                buf += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
              }
              buf.toSeq
          }
        }
    }.sorted
    var h = 0xcbf29ce484222325L
    (if (entries.isEmpty) Seq("empty") else entries).foreach { e =>
      e.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
      h ^= '\n'.toLong; h *= 0x100000001b3L
    }
    java.lang.Long.toHexString(h)
  }

  /** Snapshot of the corpus under `dir`: its tables' files. */
  private def corpusSnapshot(s: SparkSession, dir: String): String =
    fingerprint(s, graft.sources.Tables.all.map(t => s"$dir/$t.parquet"))

  /** Snapshot of a relation: the semantic hash of its analyzed plan (an
    * in-memory relation carries its data in it) plus the files under its
    * file roots (a path rewritten in place hashes identically). */
  private def relationSnapshot(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val roots = plan.collect { case l: LogicalRelation => l.relation }.flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }
    s"${plan.semanticHash()}_${fingerprint(df.sparkSession, roots)}"
  }

  /** Per-(process, corpus-dir) tag for throwaway layout paths (/tmp and
    * warehouse artifacts the storage/index keys write). The full dir
    * string is digest-hashed — not its 32-bit hashCode, which can collide
    * across dirs — and a per-process component is folded in so two
    * concurrent JVMs over the same corpus never race overwrite-vs-read on
    * a shared path (r11 ADVICE). Stable within a process, so write-once
    * reuse through this registry still holds. */
  def pathTag(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${md}_p${ProcessHandle.current().pid()}"
  }
}
