package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so the
  * benchmark's own spans line up with the millisecond event times Spark's
  * listeners report. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: a named interval with the id of the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

/** In-memory span recorder. Disabled, every call is a cheap pass-through,
  * so the untraced run times the same code path. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.getAndIncrement()

  def add(s: Span): Unit = if (enabled) spans.add(s): Unit

  /** Time `body` as a span under `parent`. */
  def span[T](parent: Long, name: String)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = newId()
    val t0 = Clock.ms()
    try body(id)
    finally spans.add(Span(id, parent, name, t0, Clock.ms()))
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Spark-side counters for the traced run, read through listeners the
  * benchmark registers itself: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (planning phases from each action's
  * QueryPlanningTracker, whole-stage subtrees executed), a
  * StreamingQueryListener (micro-batch progress) and the process-wide
  * codegen counters. */
final class Layers(spark: SparkSession) {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val wholeStage = new AtomicLong
  val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val batches = new AtomicLong
  val batchMs = new AtomicLong
  val addBatchMs = new AtomicLong
  val planningMs = new AtomicLong
  val commitMs = new AtomicLong
  /** Spans derived from listener events (epoch ms), attributed to the
    * benchmark's operation spans by time at report time. */
  val events = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(e.jobId)
      if (t0 != null) events.add(Span(0, 0, "exec.job", t0.toDouble, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, p) =>
      phaseMs.computeIfAbsent(phase, _ => new AtomicLong).addAndGet(p.durationMs)
      events.add(Span(0, 0, s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    try wholeStage.addAndGet(planHelper.collectWithSubqueries(qe.executedPlan) {
      case w: WholeStageCodegenExec => w
    }.size.toLong): Unit
    catch { case _: Throwable => () }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.incrementAndGet()
      val trig = d.getOrElse("triggerExecution", 0L)
      batchMs.addAndGet(trig)
      addBatchMs.addAndGet(d.getOrElse("addBatch", 0L))
      planningMs.addAndGet(d.getOrElse("queryPlanning", 0L))
      commitMs.addAndGet(d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      events.add(Span(0, 0, "stream.batch", start, start + trig))
    }
  }

  private var codegenCount0 = 0L
  private var codegenNs0 = 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    mark()
  }

  /** Start of the measured region: the codegen counters are process-wide,
    * so the region's share is a difference. */
  def mark(): Unit = {
    codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codegenNs0 = CodeGenerator.compileTime
  }

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenCount0
  def compileMs: Double = (CodeGenerator.compileTime - codegenNs0) / 1e6

  /** Listener events are delivered asynchronously: run one marker job and
    * wait until its end event has been seen, so every earlier event has
    * been delivered too (one shared listener queue, in order). */
  def drain(): Unit = {
    val before = jobs.get
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.get <= before && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Persisted registry state: cached RDDs and their resident bytes. */
  def storage(): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  def phase(name: String): Double =
    Option(phaseMs.get(name)).map(_.get.toDouble).getOrElse(0.0)
}

/** Self time per layer: within each operation span, every instant goes to
  * the most specific layer span covering it; what no layer covers is the
  * operation's unattributed time. Spans from concurrent operations (the
  * server workload) can fall inside several operation windows, so there
  * the split is an approximation. */
object SelfTime {
  val priority: Map[String, Int] = Map(
    "exec.job" -> 6, "catalyst.analysis" -> 5, "catalyst.optimization" -> 5,
    "catalyst.planning" -> 5, "stream.batch" -> 4, "sql.parse" -> 3,
    "sql.lower" -> 3)

  def layerOf(name: String): String = name match {
    case n if n.startsWith("catalyst.") => "catalyst"
    case "exec.job" => "exec"
    case "stream.batch" => "stream"
    case n => n
  }

  /** (layer -> self ms summed over ops, total op wall ms). */
  def apply(ops: Seq[Span], inner: Seq[Span]): (Map[String, Double], Double) = {
    val layered = inner.filter(s => priority.contains(s.name) && s.end > s.start)
      .sortBy(_.start).toArray
    val starts = layered.map(_.start)
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var wall = 0.0
    ops.foreach { op =>
      wall += op.end - op.start
      // candidate spans overlapping the op window
      val hi = java.util.Arrays.binarySearch(starts, op.end) match {
        case i if i >= 0 => i + 1
        case i => -i - 1
      }
      val cand = layered.take(hi)
        .filter(s => s.end > op.start && (s.parent == 0 || s.parent == op.id))
        .map(s => s.copy(start = math.max(s.start, op.start), end = math.min(s.end, op.end)))
      if (cand.nonEmpty) {
        val cuts = (cand.flatMap(s => Seq(s.start, s.end)) ++ Seq(op.start, op.end))
          .distinct.sorted
        cuts.sliding(2).foreach {
          case Array(a, b) if b > a =>
            val mid = (a + b) / 2
            val cover = cand.filter(s => s.start <= mid && s.end >= mid)
            if (cover.nonEmpty)
              acc(layerOf(cover.maxBy(s => priority(s.name)).name)) += b - a
          case _ => ()
        }
      }
    }
    (acc.toMap, wall)
  }
}
