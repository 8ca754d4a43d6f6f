package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.server.ServerLoad

/** The one measurement harness behind every graft tool: the driver's
  * [[Bench]] and [[Verify]] entry points and the dev modes of [[main]].
  *
  * It owns what each tool needs the same way: the bare driver-shaped
  * session, the two-key warm-up, the timed-key loop, the JSON-line writer,
  * and the scratch bracket (orphan sweep at start; session stop and
  * own-pid scratch cleanup at the end). The dev modes are chosen by the
  * first argument of [[main]], their keys by the rest.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def sfDir(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)

  /** Timed reps per key; the reported time is their min: steady-state cost
    * without one-off shuffle-file/codegen-cache effects. */
  def reps: Int = math.max(1,
    sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(2))

  /** The session the driver builds (bare: no graft extension, so queries
    * reach the engine only through [[GraftSession.prepare]]), plus a mode's
    * `extra` confs, which win over the defaults. */
  def session(extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark)
  }

  /** Run `body` on a fresh [[session]] inside the scratch bracket: reap
    * other (dead) processes' orphan scratch before measuring — disk
    * pressure from accumulated orphans is the r11 stall's diagnosed cause —
    * and drop this process's own scratch after the session stops. */
  def run[T](extra: (String, String)*)(body: SparkSession => T): T = {
    TempHygiene.sweepOrphans()
    val spark = session(extra: _*)
    try body(spark)
    finally {
      spark.stop()
      TempHygiene.cleanOwn()
    }
  }

  /** Untimed warmup: absorbs one-time JVM/codegen/parquet-reader init so
    * per-query timings reflect steady state, not class loading. A failing
    * warm-up key costs nothing but its warm-up. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    Seq("q_pricing_summary", "q_knn_cosine")
      .foreach(k => attempt(SparkEntry.queries(k)(spark, dir).count()))

  /** `<ExceptionClass>: <first line of message>` — what a failure record
    * keeps of its cause. */
  def cause(e: Throwable): String =
    e.getClass.getSimpleName +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).fold("")(": " + _)

  /** `body`, or the [[cause]] of what it threw. Catches every Throwable: a
    * key's failure, a StackOverflowError on a deep plan included, must cost
    * only its own slot in a many-key run. */
  def attempt[T](body: => T): Either[String, T] =
    try Right(body) catch { case e: Throwable => Left(cause(e)) }

  /** Wall seconds of each rep that succeeded, and the action's row count. */
  final case class Timed(secs: Seq[Double], rows: Long, firstFailed: Boolean = false) {
    def best: Double = secs.min
    /** The first rep's seconds (builds included), None if it failed. */
    def cold: Option[Double] = if (firstFailed) None else secs.headOption
  }

  /** The timed action `fn(spark, dir).count()`, `reps` times. Right when
    * at least one rep succeeded, else Left(cause of the last failure).
    * `fresh` evicts the session registry before each rep, outside the
    * timed region, so every rep prices its artifact builds. After the key,
    * also outside the timed region, a `System.gc()` lets the
    * ContextCleaner reclaim its shuffle files, so hundreds of keys of
    * shuffle/layout debris never stack up into the page-cache/disk
    * pressure suspected in the r11 h→l stall. */
  def timeKey(spark: SparkSession, dir: String, fn: Query, reps: Int,
      fresh: Boolean = false): Either[String, Timed] = {
    val tries = (1 to reps).map { _ =>
      if (fresh) SessionMemo.evictAll()
      attempt {
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
    }
    System.gc()
    val ok = tries.collect { case Right(r) => r }
    if (ok.isEmpty) Left(tries.collect { case Left(c) => c }.last)
    else Right(Timed(ok.map(_._1), ok.head._2, tries.head.isLeft))
  }

  /** One key's outcome in a many-key run. */
  final case class Keyed(key: String, startedMs: Long, timing: Either[String, Timed]) {
    /** Min-of-reps seconds; -1 marks a key that failed every rep, instead
      * of a fast-looking time-to-throw polluting the totals. */
    def value: Double = timing.fold(_ => -1.0, _.best)
  }

  /** [[timeKey]] over `keyed` in order. Each key's wall-clock start (epoch
    * ms) is kept for post-hoc stall attribution: the r11 driver bench
    * showed a contiguous alphabetical band ~10-60× slower than the settle
    * runs with no plan change, and without timestamps the stall could be
    * located only in key order, not in time. */
  def timeKeys(spark: SparkSession, dir: String, keyed: Seq[(String, Query)],
      reps: Int): Seq[Keyed] =
    keyed.map { case (k, fn) =>
      val at = System.currentTimeMillis()
      Keyed(k, at, timeKey(spark, dir, fn, reps))
    }

  /** The registered queries for `keys`; an unknown name fails fast. */
  def resolve(keys: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    keys.map(k => k -> all(k))
  }

  /** JSON string literal (also the server's error bodies): escapes
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in an
    * oracle's SQL text would otherwise make the driver's json.load fail
    * and silently zero the whole correctness check. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"k":v,…}` from already-rendered JSON values, in order. */
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")

  /** Write `line` to `path`. stdout through sbt is [info]-prefixed and
    * interleaved with Spark INFO noise, which broke the driver's parse in
    * round 1 — so every result line also lands in a file a reader can
    * parse unambiguously. A failed write is reported, never fatal. */
  def writeLine(path: String, line: String): Unit =
    try Files.write(Paths.get(path), (line + "\n").getBytes(StandardCharsets.UTF_8)): Unit
    catch { case NonFatal(e) => System.err.println(s"[graft] could not write $path: $e") }

  /** Print `line` on stdout and write it to the file `outVar` names, else
    * to `default`. */
  def emit(line: String, outVar: String, default: String): Unit = {
    println(line)
    writeLine(sys.env.getOrElse(outVar, default), line)
  }

  def main(args: Array[String]): Unit = {
    val keys = args.drop(1).toSeq
    args.headOption match {
      case Some("explain") => run()(explain(_, keys))
      case Some("trend") => run()(trend(_, keys))
      case Some("probe") => run()(probe(_, keys))
      case Some("decompose") => run()(decompose(_, keys))
      case Some("stress") => run(Stress.confs: _*)(Stress.sweep(_, keys, everyKey = false))
      case Some("stress-all") => run(Stress.confs: _*)(Stress.sweep(_, Nil, everyKey = true))
      case Some("stress-stream") =>
        run("spark.sql.streaming.metricsEnabled" -> "true")(StressStream.run)
      case Some("load") => run()(ServerLoad.run)
      case _ =>
        System.err.println("usage: graft.Harness explain|trend|probe|decompose|" +
          "stress [keys…] | stress-all | stress-stream | load")
        sys.exit(2)
    }
  }

  /** Plan audit: the formatted physical plan of the named keys (all of
    * them with none). SPARK_GRAFT_SF_DIR picks the data dir (default
    * sf0.001 — plans don't change shape with SF, only AQE runtime
    * decisions do). */
  private def explain(spark: SparkSession, keys: Seq[String]): Unit = {
    val dir = sfDir("/root/testdata/sf0.001")
    val names = if (keys.nonEmpty) keys else SparkEntry.queries.keys.toSeq.sorted
    resolve(names).foreach { case (name, fn) =>
      println(s"===== $name =====")
      fn(spark, dir).explain("formatted")
    }
  }

  /** Scale-trend measurement: run a headline query subset at every
    * available scale factor and emit per-SF wall times next to per-table
    * row counts, so time-vs-rows ratios are computable without guessing
    * how each table actually grows (documents/embeddings are flat from
    * sf0.001 to sf0.01 — only the TPC-H facts and events grow 10× there;
    * everything grows ~10× from sf0.01 to sf0.1).
    *
    * This is the measured companion to the plan-shape scale arguments in
    * SURVEY §4: a query whose cost is dominated by per-row work should move
    * with its input's row ratio (above the local-mode fixed floor of
    * ~0.1-0.3 s/query for scheduling + planning); anything growing faster
    * than its input is a scale bug this harness exposes at test size. */
  private val TrendKeys = Seq(
    // scan + aggregation (lineitem-bound)
    "q_pricing_summary", "q_case_agg", "q_percentile",
    // joins (orders×customer×lineitem, 5-way star)
    "q_shipping_priority", "q_local_supplier",
    // events (time bucketing, sessionization, funnel)
    "q_tumbling", "q_sessionize", "q_funnel",
    // documents (per-row scan ops)
    "q_token_count", "q_sample_split", "q_quality",
    // near-dup family (candidate-volume-bounded)
    "q_dedup_exact", "q_dedup_jaccard", "q_minhash_lsh", "q_window_dedup",
    "q_neardup_incremental", "q_dup_mass",
    // embeddings
    "q_knn_cosine", "q_embed_neardup", "q_pair_histogram",
    // round-5 relational (banded join, one-scan profile)
    // q_ann_pq is deliberately NOT here: its cost is seeded KMeans
    // training (a fixed model-build job), not data-path work — a single
    // cold run's timing says nothing about scan/shuffle scaling
    "q_range_join", "q_profile", "q_cohort",
    "q_dedup_editdist", "q_chunk_overlap", "q_cooccurrence", "q_vocab_overlap")

  private def trend(spark: SparkSession, keys: Seq[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_TREND_DIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").toSeq
    val queries = resolve(if (keys.nonEmpty) keys else TrendKeys)
    warmUp(spark, dirs.head)
    val perSf = dirs.map { dir =>
      val rows = Seq("lineitem", "orders", "events", "documents", "embeddings")
        .map(t => t -> attempt(graft.sources.Tables(spark, dir, t).count()).getOrElse(-1L))
      val times = timeKeys(spark, dir, queries, reps)
      val total = times.map(_.value).filter(_ >= 0).sum
      s"""{"dir":"$dir","rows":${obj(rows)},"total":$total,""" +
        s""""queries":${obj(times.map(r => r.key -> r.value))},"errors":${errors(times)}}"""
    }
    emit(s"""{"metric":"trend","sfs":[${perSf.mkString(",")}]}""",
      "SPARK_GRAFT_TREND_OUT", "TREND_OUT.json")
  }

  /** `{key: cause}` of the keys that failed every rep. */
  def errors(results: Seq[Keyed]): String =
    obj(results.collect { case Keyed(k, _, Left(c)) => k -> json(c) })

  // Probe (round-18 tail-floor investigation). `probe` times the named
  // keys under several runtime-conf variants INTERLEAVED in one JVM (mode
  // rotation per round), min-of-rounds per (mode, key) — box load and JIT
  // warmup cancel across modes, which a sequential pair of bench runs
  // cannot do. `decompose` splits each key's cost into dataframe-
  // construction time (plan build + analysis) vs action time, and counts
  // jobs/stages/tasks plus summed task run time during the action —
  // locates the 0.13 s/key tail floor (driver fixed cost vs scheduling vs
  // real work).
  private val ProbeRounds = 4

  private val ProbeConfs: Seq[(String, Map[String, String])] = Seq(
    "base" -> Map.empty,
    "noPF" -> Map(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"),
    "noAQE" -> Map("spark.sql.adaptive.enabled" -> "false")
  )

  private val ProbeKeys = Seq(
    "q_topk_per_group", "q_transitions", "q_vocab", "q_wau", "q_zipf",
    "q_user_entropy", "q_union", "q_tumbling", "q_supplier_hhi",
    "q_token_entropy", "q_ttr", "q_trade_flows", "q_vocab_overlap",
    "q_top_supplier", "q_cooccurrence", "q_weighted_median")

  private def probe(spark: SparkSession, keys: Seq[String]): Unit = {
    val dir = sfDir("/root/testdata/sf0.1")
    val queries = resolve(if (keys.nonEmpty) keys else ProbeKeys)
    warmUp(spark, dir)
    // one session per variant on the warmed-up context, so a variant's
    // confs never leak into the next one's
    val sessions = ProbeConfs.map { case (mode, confs) =>
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      mode -> s
    }
    val rounds = (1 to ProbeRounds).flatMap(_ =>
      sessions.map { case (mode, s) => mode -> timeKeys(s, dir, queries, 1) })
    val line = ProbeConfs.map { case (mode, _) =>
      val runs = rounds.collect { case (`mode`, rs) => rs }.flatten
      val best = queries.map { case (k, _) =>
        val rs = runs.filter(_.key == k)
        rs.filter(_.timing.isRight).minByOption(_.value).getOrElse(rs.last)
      }
      val total = best.map(_.value).filter(_ >= 0).sum
      s"\"$mode\":{\"total\":$total,\"queries\":${obj(best.map(r => r.key -> r.value))}," +
        s"\"errors\":${errors(best)}}"
    }.mkString("{", ",", "}")
    emit(line, "SPARK_GRAFT_PROBE_OUT", "PROBE_OUT.json")
  }

  private class Counter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null)
        taskNanos.addAndGet(
          (e.taskInfo.finishTime - e.taskInfo.launchTime) * 1000000L): Unit
    }
    def snap: Seq[Long] = Seq(jobs.get, stages.get, tasks.get, taskNanos.get)
  }

  private def decompose(spark: SparkSession, keys: Seq[String]): Unit = {
    val dir = sfDir("/root/testdata/sf0.1")
    val queries = resolve(if (keys.nonEmpty) keys else ProbeKeys)
    warmUp(spark, dir)
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    // per key and round: build time, action time, and the job/stage/task
    // counts and summed task nanos observed during the action
    val runs = (1 to ProbeRounds).flatMap { _ =>
      val round = queries.map { case (key, fn) =>
        key -> attempt {
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          val t1 = System.nanoTime()
          val before = c.snap
          df.count()
          val t2 = System.nanoTime()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9, c.snap.zip(before).map { case (a, b) => a - b })
        }
      }
      System.gc()
      round
    }
    spark.sparkContext.removeSparkListener(c)
    val line = queries.map { case (k, _) =>
      val rs = runs.collect { case (`k`, r) => r }
      val ok = rs.collect { case Right(r) => r }
      if (ok.isEmpty) s"""${json(k)}:{"error":${json(rs.collect { case Left(e) => e }.last)}}"""
      else {
        // the two minima are taken independently: the counts come from the
        // min-action round, but a smaller build time seen in another round
        // is still the min build
        val (_, act, Seq(j, st, t, tn)) = ok.minBy(_._2)
        f""""$k":{"build":${ok.map(_._1).min}%.4f,"action":$act%.4f,"jobs":$j,"stages":$st,"tasks":$t,"task_s":${tn / 1e9}%.4f}"""
      }
    }.mkString("{", ",", "}")
    emit(line, "SPARK_GRAFT_PROBE_OUT", "PROBE_OUT.json")
  }
}
