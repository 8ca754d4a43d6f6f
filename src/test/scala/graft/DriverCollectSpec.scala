package graft

import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{call_function, col, split}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.plans.DriverCollectExec
import graft.sql.EmdriveSession

/** Small reads answered on the driver: a root Project/Filter/Limit over a
  * parquet scan within `spark.sql.files.openCostInBytes` runs no Spark
  * job and returns the rows, in the order, Spark's own job returns. */
class DriverCollectSpec extends SparkTestBase {

  private val sf01 = "/root/testdata/sf0.01"
  /** A budget below any file: every statement takes Spark's path. */
  private val sparkPath = "spark.sql.files.openCostInBytes" -> "1"

  private def documents(dir: String): EmdriveSession = {
    GraftSession.prepare(spark)
    val es = new EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, dir))
    es
  }

  private val point = "SELECT doc_id, source, n_chars FROM documents WHERE doc_id = 7;"

  test("a warm point lookup over sf0.01 runs no Spark job under a DriverCollect root") {
    val es = documents(sf01)
    es.sql(point).collect()
    val (rows, jobs) = jobsDuring(es.sql(point).collect())
    assert(jobs.isEmpty, jobs)
    assert(rows.toSeq == Seq(Row(7L, "src7", 402L)))
    // Spark's plan stays whole under the new root: the scan keeps its
    // pushed filters
    val plan = es.sql(point).queryExecution.executedPlan
    assert(plan.isInstanceOf[DriverCollectExec], plan)
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PushedFilters").contains("EqualTo(doc_id,7)"), scan.metadata)
    assert(plan.toString.startsWith("DriverCollect"), plan)
  }

  test("over the budget the same lookup runs Spark's job and returns the same rows") {
    val es = documents(sf01)
    val driver = es.sql(point).collect().toSeq
    val (rows, jobs) = jobsDuring(scopedConf(sparkPath)(es.sql(point).collect().toSeq))
    assert(jobs.nonEmpty)
    assert(rows == driver)
  }

  test("table-function probe lookups run no Spark job while lowering") {
    GraftSession.prepare(spark)
    withTempDir("graft-dc-hashes") { dir =>
      graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), call_function("simhash64", split(col("text"), " ")).as("h"))
        .write.parquet(dir + "/doc_hashes")
      val es = new EmdriveSession(spark)
      es.register("doc_hashes", spark.read.parquet(dir + "/doc_hashes"))
      es.register("embeddings", graft.sources.Tables.embeddings(spark, sfDir))
      val metric = "SELECT doc_id, dist FROM metric_search(doc_hashes, doc_id, h, 3, 2) " +
        "ORDER BY doc_id;"
      val ann = "SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 3, 5) " +
        "ORDER BY sim DESC, vec_id;"
      // the first calls build the layouts; the warm ones only look up
      val (m0, a0) = (es.sql(metric).collect().toSeq, es.sql(ann).collect().toSeq)
      val (_, metricJobs) = jobsDuring(es.sql(metric))
      val (_, annJobs) = jobsDuring(es.sql(ann))
      assert(metricJobs.isEmpty, metricJobs)
      assert(annJobs.isEmpty, annJobs)
      assert(es.sql(metric).collect().toSeq == m0 && m0.contains(Row(3L, 0)))
      assert(es.sql(ann).collect().toSeq == a0 && a0.head.getLong(0) == 3L)
      // the same answers from lookups that run Spark's jobs
      scopedConf(sparkPath) {
        assert(es.sql(metric).collect().toSeq == m0)
        assert(es.sql(ann).collect().toSeq == a0)
      }
    }
  }

  test("a session conf change is never answered by a reader built under the old conf") {
    GraftSession.prepare(spark)
    withTempDir("graft-dc-tz") { dir =>
      spark.range(0, 24).selectExpr("id",
        "TIMESTAMP'2024-03-10 00:30:00 UTC' + make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0) AS ts")
        .repartition(2).write.parquet(dir + "/t")
      val t = spark.read.parquet(dir + "/t")
      def scanOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.head
      def lookup(tz: String) = scopedConf("spark.sql.session.timeZone" -> tz) {
        val df = t.filter(col("id") > 20).selectExpr("id", "CAST(ts AS STRING) AS s",
          "hour(ts) AS h")
        val (rows, jobs) = jobsDuring(df.collect().toSeq.sortBy(_.getLong(0)))
        assert(jobs.isEmpty, s"$tz: $jobs")
        val viaSpark = scopedConf(sparkPath)(df.collect().toSeq.sortBy(_.getLong(0)))
        assert(rows.map(_.toString) == viaSpark.map(_.toString), tz)
        (rows, DriverCollectExec.reader(scanOf(df)), DriverCollectExec.reader(scanOf(df)))
      }
      val (utc, r1, r1again) = lookup("UTC")
      val (la, r2, _) = lookup("America/Los_Angeles")
      val (_, r3, _) = lookup("UTC")
      assert(utc.map(_.getInt(2)) == Seq(21, 22, 23))
      assert(la.map(_.getInt(2)) == Seq(14, 15, 16))
      assert(r1 eq r1again, "one conf, one reader")
      assert(!(r2 eq r1), "a new zone was answered by the old zone's reader")
      assert(!(r3 eq r2) && !(r3 eq r1), "the superseded reader came back")
    }
  }

  test("a dimension side that is a small parquet read still drives dynamic partition pruning") {
    import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Literal}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    GraftSession.prepare(spark)
    withTempDir("graft-dc-dpp") { dir =>
      graft.sources.Tables.orders(spark, sfDir).write.partitionBy("o_orderstatus")
        .parquet(dir + "/fact")
      import SparkTestBase.spark.implicits._
      Seq(("O", "open"), ("X", "unused")).toDF("st", "label").write.parquet(dir + "/dim")
      val fact = spark.read.parquet(dir + "/fact")
      val dim = spark.read.parquet(dir + "/dim").filter(col("label") === "open")
      val joined = fact.join(dim, col("o_orderstatus") === col("st"))
      assert(joined.collect().length == fact.filter(col("o_orderstatus") === "O").count())
      // the build side's planned copy (a collect root over the dimension
      // scan) matches the join's broadcast, so the filter is the pruning
      // subquery and not the `true` Spark leaves when it cannot reuse it
      val helper = new AdaptiveSparkPlanHelper {}
      val pruning = helper.collect(joined.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.partitionFilters
      }.flatten.collect { case d: DynamicPruningExpression => d.child }
      assert(pruning.nonEmpty && !pruning.contains(Literal.TrueLiteral),
        joined.queryExecution.executedPlan)
    }
  }

  private val noPushdown = "spark.sql.parquet.filterPushdown" -> "false"

  test("a -0.0 in a dictionary-encoded page matches d = 0.0 on the driver path") {
    withTempDir("graft-dc-zero") { dir =>
      import SparkTestBase.spark.implicits._
      Seq((3, -0.0), (4, -0.0), (5, 2.5)).toDF("k", "d").coalesce(1).write.parquet(dir + "/t")
      def q = spark.read.parquet(dir + "/t").where("d = 0.0")
      // SQL (and DuckDB 1.0.0): -0.0 = 0.0 holds
      val want = Seq(Row(3, -0.0), Row(4, -0.0))
      assert(q.collect().toSeq.map(_.toString) == want.map(_.toString))
      assert(scopedConf(sparkPath, noPushdown)(q.collect().toSeq.map(_.toString)) ==
        want.map(_.toString))
      // Spark's parquet dictionary filter drops the page: a known gap of
      // Spark's own path, which the driver path does not share
      assert(scopedConf(sparkPath)(q.collect().toSeq).isEmpty)
    }
  }

  test("ScalaCheck: the driver path returns Spark's rows in Spark's order on multi-file and hive-partitioned parquet") {
    GraftSession.prepare(spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("d", DoubleType),
      StructField("m", DecimalType(10, 2)), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("p", IntegerType)))
    def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 5 -> g)
    val row: Gen[Row] = for {
      k <- orNull(Gen.choose(0L, 12L))
      d <- orNull(Gen.oneOf(Gen.const(Double.NaN), Gen.const(0.0), Gen.const(-0.0),
        Gen.const(Double.PositiveInfinity), Gen.choose(-5.0, 5.0)))
      m <- orNull(Gen.choose(-99999L, 99999L).map(c => new java.math.BigDecimal(c).movePointLeft(2)))
      s <- orNull(Gen.oneOf("", "a b", "x y z", "graft spark", "été ✓"))
      dt <- orNull(Gen.choose(-3000, 20000).map(d => java.sql.Date.valueOf(LocalDate.ofEpochDay(d))))
      ts <- orNull(Gen.choose(-2000000000L, 2000000000L).map(sec =>
        java.sql.Timestamp.from(Instant.ofEpochSecond(sec, 123000L))))
      p <- Gen.choose(0, 2)
    } yield Row(k, d, m, s, dt, ts, p)
    val table = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, row)
      files <- Gen.choose(1, 4)
      partitioned <- Gen.oneOf(true, false)
      k0 <- Gen.choose(0, 12)
      lim <- Gen.choose(0, 6)
    } yield (rows, files, partitioned, k0, lim)
    val prop = Prop.forAllNoShrink(table) { case (rows, files, partitioned, k0, lim) =>
      withTempDir("graft-dc-prop") { dir =>
        val w = spark.createDataFrame(rows.asJava, schema).repartition(files).write
        (if (partitioned) w.partitionBy("p") else w).parquet(dir + "/t")
        spark.read.parquet(dir + "/t").createOrReplaceTempView("dc_t")
        val statements = Seq(
          s"SELECT * FROM dc_t WHERE k = $k0", // an int literal against a bigint column
          "SELECT k, d, s FROM dc_t WHERE k IS NULL",
          "SELECT k, d FROM dc_t WHERE d = 0.0",
          "SELECT k, d FROM dc_t WHERE isnan(d) OR d = double('Infinity')",
          "SELECT k, m * 2 AS m2, m, upper(s) AS u FROM dc_t WHERE m > 0",
          s"SELECT s, dt, ts FROM dc_t WHERE dt >= DATE'1990-01-01' LIMIT $lim",
          s"SELECT * FROM dc_t LIMIT $lim",
          "SELECT k, simhash64(split(s, ' ')) AS h FROM dc_t WHERE s IS NOT NULL",
          "SELECT to_json(struct(*)) AS j FROM dc_t WHERE p = 1",
          s"SELECT k, p FROM dc_t WHERE p >= 1 AND k > $k0 LIMIT 2")
        // the driver path; Spark's own plan (the root's child) under the
        // same conf, for the order; and Spark's path forced by the budget.
        // Spark's side runs without parquet filter pushdown, whose
        // dictionary filter drops -0.0 rows from `d = 0.0` (see the spec
        // below); the driver path reads without pushed filters.
        val dfs = statements.map(spark.sql)
        val (driver, jobs) = jobsDuring(dfs.map(df => df.collect().map(_.toString).toSeq))
        val child = scopedConf(noPushdown)(dfs.map { df =>
          val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
          val plan = df.queryExecution.executedPlan match {
            case d: DriverCollectExec => d.child
            case other => other // LIMIT 0 folds to an empty local relation
          }
          plan.executeCollect().map(r => toRow(r).toString).toSeq
        })
        val forced = scopedConf(sparkPath, noPushdown)(statements.map(q =>
          spark.sql(q).collect().map(_.toString).toSeq))
        val diffs = statements.indices.flatMap { i =>
          // without ORDER BY a LIMIT keeps whichever rows come first, so
          // Spark's own path under a budget that splits files differently
          // is held to the row count only
          val same = if (statements(i).contains("LIMIT")) forced(i).size == driver(i).size
            else forced(i).sorted == driver(i).sorted
          (if (driver(i) != child(i)) Seq(s"${statements(i)}: driver ${driver(i)} != plan ${child(i)}")
            else Nil) ++
          (if (!same) Seq(s"${statements(i)}: driver ${driver(i)} != forced ${forced(i)}") else Nil)
        }
        (jobs.isEmpty :| s"driver path ran jobs: $jobs") &&
          (diffs.isEmpty :| diffs.mkString("; "))
      }
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
