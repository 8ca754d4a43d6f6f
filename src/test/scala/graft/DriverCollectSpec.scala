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

/** Small collects answered on the driver: a root of Project, Filter,
  * Aggregate, Sort, Limit and TakeOrderedAndProject over a parquet scan
  * within `spark.sql.files.openCostInBytes` runs no Spark job and returns
  * the rows, in the order, Spark's own job returns. */
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

  /** Rows as the oracle check canonicalizes them: columns in name order,
    * each value as its string, and the rows sorted unless `ordered`. */
  private def canon(df: org.apache.spark.sql.DataFrame, rows: Seq[Row], ordered: Boolean = false)
      : Seq[Seq[Any]] = {
    val byName = df.columns.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    val out = rows.map(r => byName.map(i => r.get(i) match {
      case d: Double => d
      case other => String.valueOf(other)
    }))
    if (ordered) out else out.sortBy(_.mkString("\u0001"))
  }

  /** Equal value for value, doubles by `java.lang.Double.compare`; with
    * `tol > 0`, two finite doubles that are not both zero may also differ
    * by a relative `tol`. NaN, the infinities and the sign of zero always
    * compare exactly. */
  private def same(a: Seq[Seq[Any]], b: Seq[Seq[Any]], tol: Double): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (u: Double, v: Double) =>
          java.lang.Double.compare(u, v) == 0 ||
            (tol > 0 && java.lang.Double.isFinite(u) && java.lang.Double.isFinite(v) &&
              !(u == 0 && v == 0) &&
              math.abs(u - v) <= tol * math.max(math.abs(u), math.abs(v)))
        case (u, v) => u == v
      }
    }

  /** How the ScalaCheck property compares a statement's rows. */
  private sealed trait Order
  /** Project/Filter/LIMIT: in the order the plan reads the rows. */
  private case object Read extends Order
  /** An ORDER BY with a total tie-break. */
  private case object Total extends Order
  /** GROUP BY output, which has no defined order. */
  private case object Grouped extends Order

  private val agg = "SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars, " +
    "AVG(n_chars) AS avg_chars FROM documents WHERE lang = 'en' AND n_chars > 100 " +
    "GROUP BY source ORDER BY total_chars DESC, source LIMIT 5;"

  test("a warm GROUP BY … ORDER BY … LIMIT over sf0.01 runs no Spark job above AQE") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val es = documents(sf01)
    es.sql(agg).collect()
    val (rows, jobs) = jobsDuring(es.sql(agg).collect().toSeq)
    assert(jobs.isEmpty, jobs)
    assert(rows.size == 5, rows)
    // Spark's adaptive plan stays whole under the root
    val plan = es.sql(agg).queryExecution.executedPlan
    assert(plan match {
      case DriverCollectExec(a: AdaptiveSparkPlanExec) =>
        a.toString.contains("TakeOrderedAndProject") && a.toString.contains("HashAggregate")
      case _ => false
    }, plan)
    // over the budget: Spark's jobs, the same rows
    val (forced, forcedJobs) = jobsDuring(scopedConf(sparkPath)(es.sql(agg).collect().toSeq))
    assert(forcedJobs.nonEmpty)
    assert(forced == rows)
  }

  test("the root's metrics say which path ran, and a QueryExecutionListener sees them") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val es = documents(sf01)
    val seen = new java.util.concurrent.LinkedBlockingQueue[Map[String, Long]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan match {
          case d: DriverCollectExec => seen.add(d.metrics.map { case (k, m) => k -> m.value })
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def collected(): (Int, Map[String, Long], Map[String, Long]) = {
        val df = es.sql(agg)
        val n = df.collect().length
        val heard = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        (n, df.queryExecution.executedPlan.metrics.map { case (k, m) => k -> m.value }, heard)
      }
      val (n, driver, driverHeard) = collected()
      assert(driver("driverPath") == 1 && driver("numOutputRows") == n, driver)
      assert(driver("driverBytesRead") > 0, driver)
      assert(driverHeard == driver, driverHeard)
      val (m, forced, forcedHeard) = scopedConf(sparkPath)(collected())
      assert(forced("driverPath") == 0 && forced("numOutputRows") == m, forced)
      assert(forced("driverBytesRead") == 0, forced)
      assert(forcedHeard == forced, forcedHeard)
    } finally spark.listenerManager.unregister(listener)
  }

  test("warm metric_search, metric_knn and ann_search run no Spark job from lowering to collect") {
    GraftSession.prepare(spark)
    withTempDir("graft-dc-tvf") { dir =>
      graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), call_function("simhash64", split(col("text"), " ")).as("h"))
        .write.parquet(dir + "/doc_hashes")
      val es = new EmdriveSession(spark)
      es.register("doc_hashes", spark.read.parquet(dir + "/doc_hashes"))
      es.register("embeddings", graft.sources.Tables.embeddings(spark, sfDir))
      val statements = Seq(
        "SELECT doc_id, dist FROM metric_search(doc_hashes, doc_id, h, 3, 2) ORDER BY doc_id;",
        "SELECT h, dist FROM metric_knn(doc_hashes, doc_id, h, 3, 7) ORDER BY dist, h;",
        "SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 3, 5) " +
          "ORDER BY sim DESC, vec_id;")
      // the first calls build the layouts
      val cold = statements.map(q => es.sql(q).collect().toSeq)
      statements.zip(cold).foreach { case (q, want) =>
        val (rows, jobs) = jobsDuring(es.sql(q).collect().toSeq)
        assert(jobs.isEmpty, s"$q: $jobs")
        assert(rows == want && rows.nonEmpty, q)
        assert(scopedConf(sparkPath)(es.sql(q).collect().toSeq) == want, q)
      }
    }
  }

  test("an ANSI SUM overflow raises the same error on the driver budget and on Spark's path") {
    withTempDir("graft-dc-ansi") { dir =>
      import SparkTestBase.spark.implicits._
      Seq((1, Long.MaxValue), (1, 1L), (2, 3L)).toDF("k", "v").repartition(2)
        .write.parquet(dir + "/t")
      def condition(body: => Any): String = {
        val e = intercept[Throwable](body)
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
        }.getOrElse(e.toString)
      }
      scopedConf("spark.sql.ansi.enabled" -> "true") {
        def q = spark.read.parquet(dir + "/t").groupBy("k").agg(
          org.apache.spark.sql.functions.sum("v")).collect()
        val driver = condition(q)
        assert(driver == "ARITHMETIC_OVERFLOW", driver)
        assert(scopedConf(sparkPath)(condition(q)) == driver)
      }
    }
  }

  test("every registry key with a DriverCollect root returns the rows Spark's path returns") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    GraftSession.prepare(spark)
    val started = System.nanoTime()
    // keys build and collect four at a time: the driver path runs on its
    // caller's thread, and most keys are small
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def each[A, B](xs: Seq[A])(f: A => B): Seq[B] =
      Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    try {
      val keys = SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("q_stream_"))
      // (key, canonical driver rows, files read) for every rooted key
      val driver = each(keys) { k =>
        scala.util.Try(SparkEntry.queries(k)(spark, sfDir)).toOption
          .filter(_.queryExecution.executedPlan.isInstanceOf[DriverCollectExec])
          .map { df =>
            val files = df.queryExecution.executedPlan.collect {
              case f: FileSourceScanExec => f.selectedPartitions.totalNumberOfFiles
            }.sum
            (k, canon(df, df.collect().toSeq), files)
          }
      }.flatten
      info(s"${driver.size} of ${keys.size} keys plan a DriverCollect root at sf0.001")
      assert(driver.nonEmpty)
      val forced = scopedConf(sparkPath)(each(driver) { case (k, _, _) =>
        val f = SparkEntry.queries(k)(spark, sfDir)
        canon(f, f.collect().toSeq)
      })
      val diffs = driver.zip(forced).collect {
        case ((k, d, files), f) if !same(d, f, if (files > 1) 1e-12 else 0.0) =>
          s"$k: driver ${d.take(3)} != Spark ${f.take(3)}"
      }
      assert(diffs.isEmpty, diffs.mkString("; "))
    } finally pool.shutdown()
    info(f"${(System.nanoTime() - started) / 1e9}%.1f s")
  }

  test("ScalaCheck: the driver path returns Spark's rows in Spark's order on multi-file and hive-partitioned parquet") {
    GraftSession.prepare(spark)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("k", LongType), StructField("d", DoubleType),
      StructField("m", DecimalType(10, 2)), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("p", IntegerType)))
    def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 5 -> g)
    val row: Gen[Long => Row] = for {
      k <- orNull(Gen.choose(0L, 12L))
      d <- orNull(Gen.oneOf(Gen.const(Double.NaN), Gen.const(0.0), Gen.const(-0.0),
        Gen.const(Double.PositiveInfinity), Gen.choose(-5.0, 5.0)))
      m <- orNull(Gen.choose(-99999L, 99999L).map(c => new java.math.BigDecimal(c).movePointLeft(2)))
      s <- orNull(Gen.oneOf("", "a b", "x y z", "graft spark", "été ✓"))
      dt <- orNull(Gen.choose(-3000, 20000).map(d => java.sql.Date.valueOf(LocalDate.ofEpochDay(d))))
      ts <- orNull(Gen.choose(-2000000000L, 2000000000L).map(sec =>
        java.sql.Timestamp.from(Instant.ofEpochSecond(sec, 123000L))))
      p <- Gen.choose(0, 2)
    } yield (id: Long) => Row(id, k, d, m, s, dt, ts, p)
    val table = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, row)
      files <- Gen.choose(1, 4)
      partitioned <- Gen.oneOf(true, false)
      k0 <- Gen.choose(0, 12)
      lim <- Gen.choose(0, 6)
    } yield (rows.zipWithIndex.map { case (r, i) => r(i.toLong) }, files, partitioned, k0, lim)
    val prop = Prop.forAllNoShrink(table) { case (rows, files, partitioned, k0, lim) =>
      withTempDir("graft-dc-prop") { dir =>
        val w = spark.createDataFrame(rows.asJava, schema).repartition(files).write
        (if (partitioned) w.partitionBy("p") else w).parquet(dir + "/t")
        spark.read.parquet(dir + "/t").createOrReplaceTempView("dc_t")
        val statements = Seq(
          s"SELECT * FROM dc_t WHERE k = $k0" -> Read, // an int literal against a bigint column
          "SELECT k, d, s FROM dc_t WHERE k IS NULL" -> Read,
          "SELECT k, d FROM dc_t WHERE d = 0.0" -> Read,
          "SELECT k, d FROM dc_t WHERE isnan(d) OR d = double('Infinity')" -> Read,
          "SELECT k, m * 2 AS m2, m, upper(s) AS u FROM dc_t WHERE m > 0" -> Read,
          s"SELECT s, dt, ts FROM dc_t WHERE dt >= DATE'1990-01-01' LIMIT $lim" -> Read,
          s"SELECT * FROM dc_t LIMIT $lim" -> Read,
          s"SELECT id, k FROM dc_t LIMIT $lim OFFSET 2" -> Read,
          "SELECT k, simhash64(split(s, ' ')) AS h FROM dc_t WHERE s IS NOT NULL" -> Read,
          "SELECT to_json(struct(*)) AS j FROM dc_t WHERE p = 1" -> Read,
          s"SELECT k, p FROM dc_t WHERE p >= 1 AND k > $k0 LIMIT 2" -> Read,
          // aggregates: NULL, NaN and ±0.0 keys; decimals; an empty global
          "SELECT k, COUNT(*) AS n, SUM(d) AS sd, AVG(m) AS am, MIN(s) AS mn, MAX(dt) AS mx, " +
            "STDDEV_SAMP(d) AS sdv, SUM(m) AS sm FROM dc_t GROUP BY k" -> Grouped,
          "SELECT d, COUNT(*) AS n, MAX(id) AS mi FROM dc_t GROUP BY d" -> Grouped,
          s"SELECT p, SUM(m) AS sm, COUNT(s) AS cs FROM dc_t WHERE k > $k0 GROUP BY p" -> Grouped,
          "SELECT COUNT(*) AS n, SUM(k) AS sk, MAX(d) AS md, AVG(m) AS am FROM dc_t " +
            "WHERE k > 100" -> Grouped,
          "SELECT COUNT(*) AS n, SUM(d) AS sd, MIN(ts) AS mt FROM dc_t" -> Grouped,
          // an object-hash and a sort aggregate
          "SELECT k, array_sort(collect_list(s)) AS l, percentile(id, 0.5) AS pm " +
            "FROM dc_t GROUP BY k" -> Grouped,
          "SELECT k, max_by(s, id) AS ms FROM dc_t GROUP BY k" -> Grouped,
          // sorts, top-k with a total tie-break, LIMIT and OFFSET
          "SELECT id, s, d FROM dc_t WHERE p >= 1 ORDER BY s ASC NULLS LAST, d DESC NULLS FIRST, id" -> Total,
          s"SELECT k, d, id FROM dc_t ORDER BY k DESC NULLS LAST, id LIMIT $lim" -> Total,
          s"SELECT k, d, id FROM dc_t ORDER BY d NULLS FIRST, id DESC LIMIT 4 OFFSET $lim" -> Total,
          "SELECT s, COUNT(*) AS n, SUM(k) AS sk FROM dc_t GROUP BY s " +
            "ORDER BY n DESC, s NULLS FIRST LIMIT 3" -> Total,
          "SELECT k, SUM(m) AS sm FROM dc_t GROUP BY k ORDER BY k DESC NULLS FIRST" -> Total,
          // the server's shape over an aggregate
          "SELECT to_json(struct(*)) AS j FROM (SELECT k, SUM(m) AS sm, COUNT(*) AS n " +
            "FROM dc_t GROUP BY k) LIMIT 10000" -> Grouped)
        // the driver path; Spark's own plan (the root's child) under the
        // same conf; and Spark's path forced by the budget. Spark's side
        // runs without parquet filter pushdown, whose dictionary filter
        // drops -0.0 rows from `d = 0.0` (see the spec above); the driver
        // path reads without pushed filters.
        val dfs = statements.map { case (q, _) => spark.sql(q) }
        val (driver, jobs) = jobsDuring(dfs.map(df => df.collect().toSeq))
        val child = scopedConf(noPushdown)(dfs.map { df =>
          val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
          val plan = df.queryExecution.executedPlan match {
            case d: DriverCollectExec => d.child
            case other => other // LIMIT 0 folds to an empty local relation
          }
          plan.executeCollect().map(r => toRow(r).asInstanceOf[Row]).toSeq
        })
        val forced = scopedConf(sparkPath, noPushdown)(statements.map { case (q, _) =>
          spark.sql(q).collect().toSeq })
        val diffs = statements.indices.flatMap { i =>
          val (q, order) = statements(i)
          def rows(of: Seq[Row], ordered: Boolean) = canon(dfs(i), of, ordered)
          val (childSame, forcedSame) = order match {
            // the child packs the files as the driver does; Spark's path
            // under a budget that splits them differently returns the
            // same rows, and under a LIMIT whichever come first
            case Read =>
              (same(rows(driver(i), true), rows(child(i), true), 0.0),
                if (q.contains("LIMIT")) forced(i).size == driver(i).size
                else same(rows(driver(i), false), rows(forced(i), false), 0.0))
            case Total =>
              (same(rows(driver(i), true), rows(child(i), true), 0.0),
                same(rows(driver(i), true), rows(forced(i), true), 0.0))
            // Spark's exchange orders groups by hash; float sums over more
            // than one file may differ in the last bits with the order
            // partials merge
            case Grouped =>
              val tol = if (files > 1) 1e-12 else 0.0
              (same(rows(driver(i), false), rows(child(i), false), tol),
                same(rows(driver(i), false), rows(forced(i), false), tol))
          }
          (if (!childSame) Seq(s"$q: driver ${driver(i)} != plan ${child(i)}") else Nil) ++
            (if (!forcedSame) Seq(s"$q: driver ${driver(i)} != forced ${forced(i)}") else Nil)
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
