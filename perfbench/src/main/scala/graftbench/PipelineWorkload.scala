package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{SessionMemo, SparkEntry}

/** Batch training-data job: a fresh session after `SessionMemo.evictAll()`,
  * one cold pass over the key set, then `PassesPerSecond` warm passes per
  * second of `--seconds` (six at 8 s). Warm key times keep falling for
  * about three passes while the JIT compiles, so the per-key median falls
  * in the flat part only with about six. The pass count depends on
  * `--seconds` only, never on how fast passes run, since a speed-dependent
  * count would change the statistic itself. One caller, closed loop; the
  * seed shuffles the key order. */
final class PipelineWorkload extends Workload {
  import PipelineWorkload._

  private var s: SparkSession = _
  def spark: SparkSession = s

  private val coldRows = mutable.LinkedHashMap.empty[String, (Long, StructType, Array[Row])]
  private val coldDigest = mutable.Map.empty[String, Int]

  def setup(ctx: Ctx): Unit = {
    s = ctx.newSpark()
    SessionMemo.evictAll()
    // resolve every corpus table through the engine's own source layer
    graft.sources.Tables.all.foreach(t => graft.sources.Tables(s, ctx.args.corpus, t).schema)
  }

  def teardown(ctx: Ctx): Unit = {
    SessionMemo.evictAll()
    ctx.stopSpark(s)
  }

  private def runKey(ctx: Ctx, key: String, pass: Int): Unit = {
    val op = ctx.attempt()
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val start = Clock.ms()
    val opId = t.newId()
    try {
      val df = t.span(opId, "pipeline.build")(_ => SparkEntry.queries(key)(s, ctx.args.corpus))
      val rows = t.span(opId, "exec.action")(_ => df.collect())
      val dt = (System.nanoTime() - t0) / 1e9
      val end = Clock.ms()
      if (t.enabled) {
        ctx.op(Span(opId, ctx.rootSpan, "pipeline.key", start, end))
        ctx.layerOut("result.rows") = ctx.layerOut.getOrElse("result.rows", 0.0) + rows.length
        ctx.layerOut("result.bytes") = ctx.layerOut.getOrElse("result.bytes", 0.0) +
          rows.iterator.map(_.toString.length.toLong).sum
        val (n, mb) = ctx.layers.get.storage()
        ctx.layerOut("registry.persisted_rdds") =
          math.max(ctx.layerOut.getOrElse("registry.persisted_rdds", 0.0), n.toDouble)
        ctx.layerOut("registry.persisted_mb") =
          math.max(ctx.layerOut.getOrElse("registry.persisted_mb", 0.0), mb)
      }
      val d = Util.digest(rows)
      if (pass == 0) {
        ctx.cold(key) = dt
        coldRows(key) = (op, df.schema, rows)
        coldDigest(key) = d
      } else {
        ctx.warmOf(key) += dt
        coldDigest.get(key).foreach { c =>
          if (c != d) ctx.fail(op, key, s"warm result differs from the cold pass (pass $pass)")
        }
      }
    } catch { case e: Throwable =>
      ctx.fail(op, key, Util.cause(e))
    }
  }

  def measure(ctx: Ctx): Unit = {
    // scrambled, since nearby seeds start java.util.Random on nearby states
    val keys = new scala.util.Random(scala.util.hashing.MurmurHash3.stringHash(
      s"keys-${ctx.args.seed}")).shuffle(Keys)
    ctx.info("keys") = keys
    keys.foreach(k => runKey(ctx, k, 0))
    val warmPasses = math.max(MinWarmPasses, (ctx.args.seconds * PassesPerSecond).round.toInt)
    (1 to warmPasses).foreach { p =>
      val t0 = System.nanoTime()
      keys.foreach(k => runKey(ctx, k, p))
      // one latency sample per warm pass: its mean key time, so the median
      // does not jump between keys of different cost from seed to seed
      ctx.latMs += (System.nanoTime() - t0) / 1e6 / keys.size
    }
    ctx.info("warm_passes") = warmPasses
    if (ctx.args.trace) {
      val n = math.max(1, ctx.opSpans.size).toDouble
      ctx.layerOut("result.rows") = ctx.layerOut.getOrElse("result.rows", 0.0) / n
      ctx.layerOut("result.bytes") = ctx.layerOut.getOrElse("result.bytes", 0.0) / n
    }
  }

  def finish(ctx: Ctx): Unit = {
    val oracles = SparkEntry.oracleSql
    coldRows.foreach { case (key, (op, schema, rows)) =>
      oracles.get(key) match {
        case Some(sql) =>
          val path = ctx.dumpRows(s, key, schema, Seq(op -> rows))
          ctx.checks += Map("kind" -> "oracle", "name" -> key, "parquet" -> path,
            "ops" -> Map(op.toString -> sql))
        case None =>
          if (rows.isEmpty) ctx.fail(op, key, "empty result (no oracle for this key)")
      }
    }
  }
}

object PipelineWorkload {
  val MinWarmPasses = 3
  val PassesPerSecond = 0.75

  /** Registry-building library keys (component labels, a pair store, an
    * IVF index fit) and one streaming replay: a subset of the cold-cost and
    * streaming keys sized so a run fits the benchmark's time budget. */
  val Keys: Seq[String] = Seq(
    "q_embed_components", "q_neardup_incremental", "q_ann_ivf", "q_stream_dedup")
}
