package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** A window call is an operand: over small random tables with NULLs, an
  * expression around an inline window reads the same value per row as
  * the same expression over the window computed in a derived table, for
  * every window function of the SQL dialect and every frame kind. */
object WindowOperandPropertiesSpec extends Properties("graft.sql.window-operand") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  /** (call, spec) pairs under test. Every order is total (ending in the
    * unique `k`) where a tie could change the value. */
  private val windows = Seq(
    "ROW_NUMBER()" -> "(PARTITION BY g ORDER BY x DESC, k)",
    "RANK()" -> "(PARTITION BY g ORDER BY x)",
    "DENSE_RANK()" -> "(ORDER BY y DESC)",
    "PERCENT_RANK()" -> "(PARTITION BY g ORDER BY y)",
    "CUME_DIST()" -> "(ORDER BY x)",
    "NTILE(3)" -> "(PARTITION BY g ORDER BY k)",
    "FIRST_VALUE(x)" -> "(PARTITION BY g ORDER BY k)",
    "LAST_VALUE(x IGNORE NULLS)" ->
      "(PARTITION BY g ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
    "NTH_VALUE(x, 2)" -> "(ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    "LAG(x)" -> "w",
    "LAG(x, 2 IGNORE NULLS)" -> "(ORDER BY k)",
    "LEAD(x IGNORE NULLS)" -> "(PARTITION BY g ORDER BY k)",
    "LEAD(y, 2)" -> "(ORDER BY k DESC)",
    "SUM(x)" -> "(PARTITION BY g)",
    "COUNT(*)" -> "()",
    "COUNT(x)" -> "w",
    "AVG(x)" -> "(PARTITION BY g ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    "MIN(x)" -> "(PARTITION BY g ORDER BY k RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)",
    "MAX(y)" ->
      "(PARTITION BY g ORDER BY dt RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW)",
    "SUM(x)" -> ("(PARTITION BY g ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW)"),
    "COUNT(*)" -> "(ORDER BY k ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)",
    "AVG(y)" -> ("(PARTITION BY g ORDER BY k ROWS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE CURRENT ROW)"),
    "SUM(x) FILTER (WHERE y > 0)" -> "(PARTITION BY g)",
    "COUNT(*) FILTER (WHERE y > 0)" -> "(PARTITION BY g ORDER BY k)",
    "AVG(x) FILTER (WHERE y IS NOT NULL)" ->
      "(ORDER BY k ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
    "MIN(y) FILTER (WHERE x < 3)" -> "()",
    "MAX(x) FILTER (WHERE g != 'b')" ->
      "(PARTITION BY g ORDER BY dt RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW)")

  /** Expressions around a window; `$w` is the window. */
  private val wrappers = Seq("x - $w", "CAST($w AS DOUBLE) * 2",
    "CASE WHEN $w IS NULL THEN -1 ELSE $w END", "COALESCE($w, 0) + k",
    "CASE WHEN $w > 1 THEN 'hi' ELSE 'lo' END", "$w")

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false),
    StructField("x", IntegerType), StructField("y", IntegerType),
    StructField("dt", DateType, nullable = false)))

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 3 -> g.map(v => v: Any))

  private val row: Gen[Seq[Any]] = for {
    g <- Gen.oneOf("a", "b", "c")
    x <- orNull(Gen.choose(-3, 6))
    y <- orNull(Gen.choose(-3, 6))
    d <- Gen.choose(0, 12)
  } yield Seq(g, x, y, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))

  private val table: Gen[Seq[Row]] = Gen.choose(1, 14).flatMap(n =>
    Gen.listOfN(n, row).map(_.zipWithIndex.map { case (r, k) => Row.fromSeq(k +: r) }))

  private val where: Gen[String] =
    Gen.oneOf("", " WHERE y IS NOT NULL", " WHERE x > 0 OR y < 2", " WHERE g != 'b'")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (p: Double, q: Double) =>
      p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p))
    case _ => a == b
  }

  property("an inline window operand equals its derived-table spelling") =
    forAllNoShrink(table, Gen.listOfN(windows.length, Gen.oneOf(wrappers)), where) {
      (rows, wraps, wh) =>
        val spark = SparkTestBase.spark
        GraftSession.prepare(spark)
        val es = new graft.sql.EmdriveSession(spark)
        es.register("t", spark.createDataFrame(rows.asJava, schema))
        def over(i: Int) = s"${windows(i)._1} OVER ${windows(i)._2}"
        def wrap(i: Int, w: String) = wraps(i).replace("$w", w)
        val named = " WINDOW w AS (PARTITION BY g ORDER BY k)"
        val inline = windows.indices.map(i => s"${wrap(i, over(i))} AS d$i")
        val derived = windows.indices.map(i => s"${wrap(i, s"p$i")} AS d$i")
        val inner = windows.indices.map(i => s"${over(i)} AS p$i")
        def byK(q: String): Map[Int, Row] =
          es.sql(q).collect().map(r => r.getInt(0) -> r).toMap
        val got = byK(s"SELECT k, ${inline.mkString(", ")} FROM t$wh$named;")
        val want = byK(s"SELECT k, ${derived.mkString(", ")} FROM (SELECT k, g, x, y, " +
          s"${inner.mkString(", ")} FROM t$wh$named) s;")
        val checks = for {
          (k, r) <- want.toSeq
          i <- windows.indices
        } yield {
          val (a, b) = (got.get(k).map(_.get(i + 1)).orNull, r.get(i + 1))
          Prop(same(a, b)) :| s"${wrap(i, over(i))} at k=$k under '$wh': $a != $b"
        }
        (Prop(got.keySet == want.keySet) :| s"rows ${got.keySet} != ${want.keySet}") &&
          checks.foldLeft(Prop.passed)(_ && _)
    }
}
