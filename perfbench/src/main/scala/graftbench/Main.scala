package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Command line of the benchmark JVM (run.py builds it). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    corpus: String, work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("corpus"), need("work"), need("out"))
  }
}

/** One workload: `setup` builds everything the measured region needs
  * (Spark session included) and is repeated to price set-up; `measure`
  * runs the timed region; `finish` hands results to the checker. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def teardown(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
  def finish(ctx: Ctx): Unit
  def spark: SparkSession
}

/** Everything a run records: timings, failures with their cause, the
  * result dumps the checker compares, and the traced layer metrics. */
final class Ctx(val args: Args) {
  val tracer = new Tracer(args.trace)
  val rootSpan: Long = tracer.newId()
  var layers: Option[Layers] = None
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** First (cold) execution per operation kind, seconds. */
  val cold = mutable.LinkedHashMap.empty[String, Double]
  /** Warm executions per operation kind, seconds — kept apart from
    * `cold`, so neither statistic can overwrite the other. */
  val warm = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Latencies of the measured operations that set p50/p99, ms. */
  val latMs = mutable.ArrayBuffer.empty[Double]
  /** Spans of the measured operations (children of the run span). */
  val opSpans = mutable.ArrayBuffer.empty[Span]
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val layerOut = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var measuredWallMs = 0.0

  def op(s: Span): Unit = {
    synchronized(opSpans += s)
    tracer.add(s)
  }

  def attempt(): Long = attemptedN.incrementAndGet()
  def attempted: Long = attemptedN.get

  def fail(op: Long, kind: String, cause: String): Unit =
    failures.add(Map("op" -> op, "kind" -> kind, "cause" -> cause))

  def warmOf(kind: String): mutable.ArrayBuffer[Double] =
    warm.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double])

  def dir(name: String): String = {
    val p = Paths.get(args.work, name)
    Files.createDirectories(p)
    p.toString
  }

  def newSpark(): SparkSession = {
    // cores and shuffle partitions come from the engine's SPARK_GRAFT_CPUS
    val s = graft.GraftSession.builder("graft-perfbench")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.prepare(s)
  }

  def stopSpark(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Dump collected rows (tagged with their operation id) as parquet for
    * the checker, which reads them back through DuckDB exactly as the
    * repository's oracle check reads the engine's output. */
  def dumpRows(spark: SparkSession, name: String, schema: StructType,
      rows: Seq[(Long, Array[Row])]): String = {
    val path = Paths.get(args.work, "results", name).toString
    val tagged = new java.util.ArrayList[Row]()
    rows.foreach { case (op, rs) =>
      rs.foreach(r => tagged.add(Row.fromSeq(op.toInt +: r.toSeq)))
    }
    spark.createDataFrame(tagged,
      StructType(StructField("__op", IntegerType, nullable = false) +: schema.fields))
      .coalesce(1).write.mode("overwrite").parquet(path)
    path
  }
}

object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val ctx = new Ctx(a)
    val w: Workload = a.workload match {
      case "pipeline" => new PipelineWorkload
      case "sql-interactive" => new SqlInteractiveWorkload
      case "serve" => new ServeWorkload
      case other => sys.error(s"unknown workload $other")
    }
    val code =
      try { run(ctx, w); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        1
      }
    System.exit(code)
  }

  private def run(ctx: Ctx, w: Workload): Unit = {
    val a = ctx.args
    val jvm0 = System.nanoTime()
    def phase(name: String) = ctx.info(s"t_$name") = (System.nanoTime() - jvm0) / 1e9
    (1 to Setups).foreach { r =>
      val t0 = System.nanoTime()
      w.setup(ctx)
      ctx.setupS += (System.nanoTime() - t0) / 1e9
      if (r < Setups) w.teardown(ctx)
    }
    ctx.info("setup_first_s") = ctx.setupS.head
    phase("setups")
    val spark = w.spark
    if (a.trace) {
      val l = new Layers(spark)
      l.install()
      ctx.layers = Some(l)
    }
    // the measured region starts from a collected heap, not from whatever
    // garbage the set-ups left behind
    System.gc()
    val t0 = Clock.ms()
    w.measure(ctx)
    ctx.measuredWallMs = Clock.ms() - t0
    ctx.tracer.add(Span(ctx.rootSpan, 0, "run", t0, t0 + ctx.measuredWallMs))
    ctx.layers.foreach { l =>
      l.drain()
      traceReport(ctx, l)
      l.uninstall()
    }
    phase("measure")
    w.finish(ctx)
    phase("finish")
    ctx.info("spark_version") = spark.version
    ctx.info("heap_mb") = Runtime.getRuntime.maxMemory / 1048576
    ctx.info("setups") = Setups
    ctx.info("java") = System.getProperty("java.version")
    w.teardown(ctx)
    phase("teardown")
    write(ctx)
  }

  /** Layer metrics shared by every workload (per measured operation), the
    * self-time split and the unattributed share. */
  private def traceReport(ctx: Ctx, l: Layers): Unit = {
    val n = math.max(1, ctx.opSpans.size).toDouble
    val o = ctx.layerOut
    val own = ctx.tracer.all
    def spanMs(name: String) = own.filter(_.name == name).map(s => s.end - s.start).sum
    // EmdriveSession.sql parses again inside: lowering is its time minus
    // the separately timed parse (the server workload fills these from an
    // in-process replay, since its statements run inside the server)
    o.getOrElseUpdate("sql.parse_ms", spanMs("sql.parse") / n)
    o.getOrElseUpdate("sql.lower_ms", (spanMs("sql.lower") - spanMs("sql.parse")) / n)
    o("catalyst.analysis_ms") = l.phase("analysis") / n
    o("catalyst.optimize_ms") = l.phase("optimization") / n
    o("catalyst.plan_ms") = l.phase("planning") / n
    o("codegen.compiles") = l.compiles / n
    o("codegen.compile_ms") = l.compileMs / n
    o("codegen.miss_ratio") = l.compiles.toDouble / math.max(1L, l.wholeStage.get)
    o("exec.jobs") = l.jobs.get / n
    o("exec.stages") = l.stages.get / n
    o("exec.tasks") = l.tasks.get / n
    o("exec.task_run_s") = l.taskRunMs.get / 1e3 / n
    o("exec.task_cpu_s") = l.taskCpuNs.get / 1e9 / n
    o("exec.gc_s") = l.gcMs.get / 1e3 / n
    o("exec.shuffle_write_mb") = l.shuffleWrite.get / 1048576.0 / n
    o("exec.shuffle_read_mb") = l.shuffleRead.get / 1048576.0 / n
    o("exec.spill_mb") = l.spill.get / 1048576.0 / n
    o("exec.input_mb") = l.input.get / 1048576.0 / n
    // action wall time with no job running: driver-side planning, codegen
    // and result hand-back around the jobs
    val events = l.events.asScala.toSeq
    val jobsOnly = events.filter(_.name == "exec.job")
    val actions = own.filter(_.name == "exec.action")
    val (jobSelf, actWall) = SelfTime(actions, jobsOnly)
    o("exec.driver_s") = (actWall - jobSelf.getOrElse("exec", 0.0)) / 1e3 / n
    o("stream.batches") = l.batches.get.toDouble
    o("stream.batch_ms") = l.batchMs.get.toDouble / math.max(1L, l.batches.get)
    o("stream.add_batch_s") = l.addBatchMs.get / 1e3
    o("stream.planning_s") = l.planningMs.get / 1e3
    o("stream.commit_s") = l.commitMs.get / 1e3
    val (persistedRdds, persistedMb) = l.storage()
    o.getOrElseUpdate("registry.persisted_mb", persistedMb)
    o.getOrElseUpdate("registry.persisted_rdds", persistedRdds.toDouble)
    o("registry.tmp_mb") = Seq("tmp", "pairstore", "stream", "warehouse")
      .map(d => Util.dirBytes(Paths.get(ctx.args.work, d))).sum / 1048576.0
    // self time per layer over the operation spans
    val (self, wall) = SelfTime(ctx.opSpans.toSeq, own ++ events)
    Seq("sql.parse", "sql.lower", "catalyst", "exec", "stream").foreach { k =>
      o(s"self.${k.replace('.', '_')}_ms") = self.getOrElse(k, 0.0) / n
    }
    o("unattributed_share") = if (wall > 0) (wall - self.values.sum) / wall else 0.0
    ctx.info("trace_spans") = own.size + events.size
    val spansPath = Paths.get(ctx.args.work, "spans.jsonl")
    // listener spans get the operation that was running when they began
    val ops = ctx.opSpans.sortBy(_.start).toArray
    val opStarts = ops.map(_.start)
    def parentOf(t: Double): Long = {
      val i = java.util.Arrays.binarySearch(opStarts, t) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      if (i >= 0 && ops(i).end >= t) ops(i).id else ctx.rootSpan
    }
    val lines = (own ++ events.map(e => e.copy(id = ctx.tracer.newId(),
        parent = parentOf(e.start)))).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f}"""
    }
    Files.write(spansPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def write(ctx: Ctx): Unit = {
    val out = Map(
      "setup_s" -> ctx.setupS.toSeq,
      "cold" -> ctx.cold.toMap,
      "warm" -> ctx.warm.map { case (k, v) => k -> v.toSeq }.toMap,
      "lat_ms" -> ctx.latMs.toSeq,
      "measured_ms" -> ctx.measuredWallMs,
      "attempted" -> ctx.attempted,
      "failures" -> ctx.failures.asScala.toSeq,
      "checks" -> ctx.checks.toSeq,
      "layers" -> ctx.layerOut.toMap,
      "info" -> ctx.info.toMap,
      "peak_rss_mb" -> Util.peakRssMb())
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(ctx.args.out), mapper.writeValueAsBytes(out))
  }
}

object Util {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** Order-insensitive digest of a result, stable across runs of one
    * build (binary values by content, not identity). */
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(rows.map(r => render(r)).sorted.toSeq)

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  /** Replace `from` by `to` in an oracle template, requiring exactly one
    * occurrence so a template change fails loudly instead of checking
    * the wrong statement. */
  def sub(template: String, pairs: (String, String)*): String =
    pairs.foldLeft(template) { case (t, (from, to)) =>
      val n = t.sliding(from.length).count(_ == from)
      require(n == 1, s"oracle template: '$from' occurs $n times")
      t.replace(from, to)
    }

  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    s"${root.getClass.getName}: ${msg.take(300)}"
  }
}
