package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** `f(args) FILTER (WHERE p)` folds exactly the rows WHERE p keeps, for
  * every aggregate of the SQL dialect that takes FILTER: over small random
  * tables with NULLs, each group with a qualifying row reads the same
  * value both ways, and a group with none reads 0 for the counts and NULL
  * for every other aggregate. */
object AggregateFilterPropertiesSpec extends Properties("graft.sql.aggregate-filter") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  /** The aggregates under test; the counts answer 0 over no rows. */
  private val counts = Seq("COUNT(*)", "COUNT(x)", "COUNT(DISTINCT x)",
    "COUNT(DISTINCT x, y)", "REGR_COUNT(y, x)")
  private val others = Seq("SUM(x)", "SUM(DISTINCT x)", "SUM(x * 2)",
    "AVG(x)", "AVG(DISTINCT x)", "MIN(x)", "MAX(x)", "MIN(DISTINCT x)",
    "MAX(DISTINCT x)", "MEDIAN(x)",
    "PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY x)",
    "BOOL_AND(b)", "BOOL_OR(b)", "STDDEV(x)", "VAR_SAMP(x)", "VAR_POP(x)",
    "STDDEV_POP(x)", "SKEWNESS(x)", "KURTOSIS(x)",
    // ANY_VALUE is deterministic over per-group-constant input only
    "ANY_VALUE(k)",
    "BIT_AND(x)", "BIT_OR(x)", "BIT_XOR(x)", "MODE(x)",
    "MODE() WITHIN GROUP (ORDER BY s)",
    // ARG_MAX/ARG_MIN are deterministic under a unique `by`
    "ARG_MAX(x, u)", "ARG_MIN(y, u)", "STRING_AGG(s, ',')",
    "ARRAY_AGG(x ORDER BY x)", "ARRAY_AGG(s ORDER BY s DESC)",
    "REGR_SLOPE(y, x)", "REGR_INTERCEPT(y, x)", "REGR_R2(y, x)",
    "REGR_AVGX(y, x)", "REGR_AVGY(y, x)", "CORR(y, x)", "COVAR_SAMP(y, x)",
    "COVAR_POP(y, x)")
  private val aggs = counts ++ others

  private val schema = StructType(Seq(
    StructField("u", IntegerType, nullable = false),
    StructField("k", StringType, nullable = false),
    StructField("x", IntegerType), StructField("y", IntegerType),
    StructField("s", StringType), StructField("b", BooleanType)))

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> g.map(v => v: Any))

  private val row: Gen[Seq[Any]] = for {
    k <- Gen.oneOf("a", "b", "c")
    x <- orNull(Gen.choose(-3, 6))
    y <- orNull(Gen.choose(-3, 6))
    s <- orNull(Gen.oneOf("p", "q", "r"))
    b <- orNull(Gen.oneOf(true, false))
  } yield Seq(k, x, y, s, b)

  private val table: Gen[Seq[Row]] = Gen.choose(1, 14).flatMap(n =>
    Gen.listOfN(n, row).map(_.zipWithIndex.map { case (r, u) => Row.fromSeq(u +: r) }))

  private val pred: Gen[String] = Gen.oneOf(
    Gen.choose(-2, 5).map(c => s"y > $c"),
    Gen.choose(-2, 5).map(c => s"x <= $c OR s IS NULL"),
    Gen.oneOf("p", "q").map(v => s"s = '$v' AND b = TRUE"))

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (p: Double, q: Double) =>
      p == q || (p.isNaN && q.isNaN) ||
        math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p))
    case (p: scala.collection.Seq[_], q: scala.collection.Seq[_]) =>
      p.length == q.length && p.zip(q).forall { case (v, w) => same(v, w) }
    case _ => a == b
  }

  property("FILTER (WHERE p) equals WHERE p for every aggregate") =
    forAllNoShrink(table, pred) { (rows, p) =>
      val spark = SparkTestBase.spark
      GraftSession.prepare(spark)
      val es = new graft.sql.EmdriveSession(spark)
      es.register("t", spark.createDataFrame(rows.asJava, schema))
      def items(fil: String) =
        aggs.zipWithIndex.map { case (a, i) => s"$a$fil AS a$i" }.mkString(", ")
      def groups(q: String): Map[String, Row] =
        es.sql(q).collect().map(r => r.getString(0) -> r).toMap
      val filtered = groups(s"SELECT k, ${items(s" FILTER (WHERE $p)")} FROM t GROUP BY k;")
      val where = groups(s"SELECT k, ${items("")} FROM t WHERE $p GROUP BY k;")
      val checks = for {
        (k, fr) <- filtered.toSeq
        i <- aggs.indices
      } yield {
        val got = fr.get(i + 1)
        val want = where.get(k).map(_.get(i + 1))
          .getOrElse(if (i < counts.length) 0L else null)
        Prop(same(got, want)) :| s"${aggs(i)} on group $k under $p: $got != $want"
      }
      checks.foldLeft(Prop.passed)(_ && _)
    }
}
