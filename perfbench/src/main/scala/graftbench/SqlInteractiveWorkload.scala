package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sql.{EmdriveSession, EmdriveSql}

/** Interactive SQL session: one EmdriveSession, one client sending seeded
  * statements in a closed loop and collecting every result. */
final class SqlInteractiveWorkload extends Workload {
  private var s: SparkSession = _
  private var es: EmdriveSession = _
  def spark: SparkSession = s

  private val templates = Seq("point", "agg", "metric_search", "metric_knn",
    "ann_search", "knn_cosine")
  /** Statement mix, one cycle of 14: half are point lookups (the common
    * case, and so the median stays inside one statement kind), two are
    * verbatim repeats, one slot each for the other templates. */
  private val cycle = Seq("point", "agg", "point", "repeat", "knn_cosine", "point",
    "point", "ann_search", "repeat", "point", "metric_search", "point", "point",
    "metric_knn")
  /** template -> (schema, [(op, rows)]) for the checker */
  private val results = mutable.LinkedHashMap.empty[String, (StructType, mutable.ArrayBuffer[(Long, Array[Row])])]
  private val oracleOf = mutable.LinkedHashMap.empty[String, mutable.Map[String, String]]

  def setup(ctx: Ctx): Unit = {
    s = ctx.newSpark()
    es = new EmdriveSession(s)
    Statements.register(es, s, ctx.args.corpus)
  }

  def teardown(ctx: Ctx): Unit = ctx.stopSpark(s)

  private def run(ctx: Ctx, st: Stmt, cold: Boolean): Unit = {
    val op = ctx.attempt()
    val t = ctx.tracer
    val opId = t.newId()
    val start = Clock.ms()
    val t0 = System.nanoTime()
    try {
      if (t.enabled) t.span(opId, "sql.parse")(_ => EmdriveSql.parse(st.text))
      val df = t.span(opId, "sql.lower")(_ => es.sql(st.text))
      val rows = t.span(opId, "exec.action")(_ => df.collect())
      val dt = (System.nanoTime() - t0) / 1e9
      if (t.enabled) {
        ctx.op(Span(opId, ctx.rootSpan, "sql.stmt", start, Clock.ms()))
        ctx.layerOut("result.rows") = ctx.layerOut.getOrElse("result.rows", 0.0) + rows.length
        ctx.layerOut("result.bytes") = ctx.layerOut.getOrElse("result.bytes", 0.0) +
          rows.iterator.map(_.toString.length.toLong).sum
      }
      if (cold) ctx.cold(st.template) = dt
      else {
        ctx.warmOf(st.template) += dt
        ctx.latMs += dt * 1e3
      }
      results.getOrElseUpdate(st.template, (df.schema, mutable.ArrayBuffer.empty))._2 +=
        (op -> rows)
      oracleOf.getOrElseUpdate(st.template, mutable.LinkedHashMap.empty)(op.toString) = st.oracle
    } catch { case e: Throwable =>
      ctx.fail(op, st.template, Util.cause(e))
    }
  }

  def measure(ctx: Ctx): Unit = {
    val (docs, vecs) = Statements.sizes(s, ctx.args.corpus)
    val gen = new Statements(ctx.args.seed, docs, vecs, cycle)
    // cold pass: the first statement of every template builds the index
    // layouts and compiles its plan shapes
    templates.foreach(tp => run(ctx, gen.make(tp), cold = true))
    val end = System.nanoTime() + ctx.args.seconds * 1000000000L
    while (System.nanoTime() < end) run(ctx, gen.next(), cold = false)
    if (ctx.args.trace) {
      val n = math.max(1, ctx.opSpans.size).toDouble
      ctx.layerOut("result.rows") = ctx.layerOut.getOrElse("result.rows", 0.0) / n
      ctx.layerOut("result.bytes") = ctx.layerOut.getOrElse("result.bytes", 0.0) / n
    }
  }

  def finish(ctx: Ctx): Unit =
    results.foreach { case (tp, (schema, rows)) =>
      val path = ctx.dumpRows(s, tp, schema, rows.toSeq)
      ctx.checks += Map("kind" -> "oracle", "name" -> tp, "parquet" -> path,
        "ops" -> oracleOf(tp).toMap, "preludes" -> Statements.preludes)
    }
}
