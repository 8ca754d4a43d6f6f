package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.{MetricIndex, Tables}

/** The parquet metric-index layout: threshold queries must PRUNE FILES
  * (the persisted-index property of the reference's emtree), not just
  * filter rows, and must lose no results vs. the brute-force scan. */
class MetricIndexSpec extends SparkTestBase {

  test("threshold query prunes partitions and matches the full scan exactly") {
    GraftSession.prepare(spark)
    val dir = Files.createTempDirectory("graft-mindex").toString + "/docs"

    val hashed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        call_function("simhash64", split(col("text"), " ")).as("h"))
    MetricIndex.writeIndexed(hashed, dir, "h", bits = 8)

    val probe = hashed.filter(col("doc_id") === 0).head().getLong(1)
    val q = MetricIndex.thresholdQuery(spark.read.parquet(dir), "h", probe, maxDist = 3)

    // exactness: identical doc_id set as the unindexed brute-force scan
    val expected = hashed
      .filter(call_function("hamming64", col("h"), lit(probe)) <= 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val got = q.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.contains(0L)) // the probe doc itself qualifies at distance 0

    // pruning: the scan selects only the enumerated prefix partitions
    // (Σ C(8, k≤3) = 93 of up to 256), never the whole layout
    val scan = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val totalParts = spark.read.parquet(dir)
      .select(MetricIndex.prefixColumn("h", 8)).distinct().count()
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 93, s"selected $selected")
    assert(selected < totalParts,
      s"no pruning: $selected of $totalParts partitions scanned")
    // and the pruning is visible in the plan as a partition filter
    assert(scan.toString.contains("PartitionFilters"), scan.toString)
  }

  test("TRANSPARENT pruning: a bare hamming64 filter over the layout " +
      "prunes directories via the optimizer rule (r9)") {
    GraftSession.prepare(spark)
    val dir = Files.createTempDirectory("graft-mindex-t").toString + "/docs"
    val hashed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        call_function("simhash64", split(col("text"), " ")).as("h"))
    MetricIndex.writeIndexed(hashed, dir, "h", bits = 8)
    val probe = hashed.filter(col("doc_id") === 0).head().getLong(1)
    // no MetricIndex API: just read the layout and filter — the
    // MetricPrefixPruning rule must inject the prefix IN-list
    val q = spark.read.parquet(dir)
      .filter(call_function("hamming64", col("h"), lit(probe)) <= 2)
      .select(col("doc_id"))
    val scan = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val totalParts = spark.read.parquet(dir)
      .select(MetricIndex.prefixColumn("h", 8)).distinct().count()
    assert(scan.selectedPartitions.partitionCount < totalParts,
      s"rule did not prune: ${scan.selectedPartitions.partitionCount} " +
        s"of $totalParts partitions scanned\n$scan")
    // and it loses nothing vs the brute-force scan
    val expected = hashed
      .filter(call_function("hamming64", col("h"), lit(probe)) <= 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(q.collect().map(_.getLong(0)).toSet == expected)
    // k >= bits → no rewrite (pruning would not pay), still correct
    val wide = spark.read.parquet(dir)
      .filter(call_function("hamming64", col("h"), lit(probe)) <= 40)
    assert(wide.count() >= expected.size)
    // a Hamming filter on a DIFFERENT long column must NOT prune: the
    // prefix name binds the rule to its hash column
    val other = spark.read.parquet(dir)
      .filter(call_function("hamming64", col("doc_id"), lit(3L)) <= 2)
    val otherScan = other.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(otherScan.selectedPartitions.partitionCount == totalParts,
      s"mis-pruned on an unindexed column: " +
        s"${otherScan.selectedPartitions.partitionCount} of $totalParts")
    // a column REDEFINED under the hash's name above the scan must not
    // prune either — the rule traces the matched attribute by exprId to
    // the leaf relation, and a withColumn redefinition is a fresh Alias
    // that fails the trace; pruning by the untouched partition column
    // would silently drop matching rows
    val redefined = spark.read.parquet(dir)
      .withColumn("h", col("doc_id"))
      .filter(call_function("hamming64", col("h"), lit(3L)) <= 2)
    val redefScan = redefined.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(redefScan.selectedPartitions.partitionCount == totalParts,
      s"mis-pruned a redefined column: " +
        s"${redefScan.selectedPartitions.partitionCount} of $totalParts")
    val redefExpected = spark.read.parquet(dir).select(col("doc_id"))
      .collect().map(_.getLong(0))
      .filter(id => java.lang.Long.bitCount(id ^ 3L) <= 2).toSet
    assert(redefined.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet == redefExpected)
  }

  test("index-backed kNN equals full-scan kNN and reads a pruned ball") {
    GraftSession.prepare(spark)
    // The prefix index pays for kNN when hashes CLUSTER — real perceptual
    // hashes of near-identical media do; uniform random hashes don't (the
    // 5th-nearest of 500 random 64-bit hashes sits at distance ~20, where
    // every prefix qualifies — knnQuery then correctly falls back to the
    // full-scan TakeOrdered). So the corpus is background hashes plus a
    // planted near-dup cluster around the probe, the shape the operator
    // exists for, and the loop must resolve at a small, prunable radius.
    val dir = Files.createTempDirectory("graft-mindex").toString + "/docs"
    val s2 = spark
    import s2.implicits._
    val base = 0x5a5a3c3c0f0f55aaL
    val planted = Seq(base, base ^ 1L, base ^ 2L, base ^ (1L << 40),
      base ^ 3L, base ^ (1L << 63) ^ 1L, base ^ ((1L << 22) | (1L << 50)))
    val background = (0 until 500).map(i =>
      scala.util.hashing.MurmurHash3.stringHash(s"bg$i").toLong * 2654435761L)
    val hashed = (planted ++ background).zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "h")
    MetricIndex.writeIndexed(hashed, dir, "h", bits = 8)

    val got = MetricIndex.knnQuery(spark.read.parquet(dir), "h", base, k = 5)
      .select(col("h"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val expected = hashed
      .withColumn("dist", call_function("hamming64", col("h"), lit(base)))
      .orderBy(col("dist"), col("h")).limit(5)
      .select(col("h"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.map(_._2).max <= 2) // resolved inside the planted cluster

    // the ball that resolved the query (radius 2: the planted cluster has
    // >= 5 members within distance 2) reads a pruned file selection —
    // C(8, <=2) = 37 candidate prefixes of the layout's partitions
    val ball = MetricIndex.thresholdQuery(spark.read.parquet(dir), "h", base, 2)
    val scan = ball.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val totalParts = spark.read.parquet(dir)
      .select(MetricIndex.prefixColumn("h", 8)).distinct().count()
    assert(scan.selectedPartitions.partitionCount < totalParts,
      s"${scan.selectedPartitions.partitionCount} of $totalParts partitions read")
  }

  /** Write `hashes` as an 8-bit layout; return (layout relation, the
    * brute-force k-NN of `probe` ranked by (dist, h)). */
  private def layoutAndOracle(hashes: Seq[Long], probe: Long, k: Int)
      : (org.apache.spark.sql.DataFrame, Seq[(Long, Int)]) = {
    val dir = Files.createTempDirectory("graft-mindex-knn").toString + "/docs"
    val s2 = spark
    import s2.implicits._
    MetricIndex.writeIndexed(hashes.zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "h"), dir, "h", bits = 8)
    val oracle = hashes.map(h => (h, java.lang.Long.bitCount(h ^ probe)))
      .sortBy { case (h, d) => (d, h) }.take(k)
    (spark.read.parquet(dir), oracle)
  }

  private def knn(layout: org.apache.spark.sql.DataFrame, probe: Long,
      k: Int): Seq[(Long, Int)] =
    MetricIndex.knnQuery(layout, "h", probe, k)
      .select(col("h"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq

  test("kNN over unclustered random hashes takes the full-layout fallback and stays exact") {
    GraftSession.prepare(spark)
    val rnd = new scala.util.Random(17)
    val hashes = Seq.fill(500)(rnd.nextLong())
    val probe = hashes(3)
    val (layout, oracle) = layoutAndOracle(hashes, probe, 5)
    // the 5th-nearest random hash sits far past the 8 prefix bits
    assert(oracle.last._2 >= 8, s"not a fallback case: $oracle")
    assert(knn(layout, probe, 5) == oracle)
  }

  test("kNN with k larger than the table returns every row, ranked") {
    GraftSession.prepare(spark)
    val rnd = new scala.util.Random(5)
    val hashes = Seq.fill(20)(rnd.nextLong())
    val (layout, oracle) = layoutAndOracle(hashes, hashes.head, 50)
    assert(oracle.size == 20)
    assert(knn(layout, hashes.head, 50) == oracle)
  }

  test("kNN ties at the k-th distance that straddle the first ball's edge rank by hash") {
    GraftSession.prepare(spark)
    val base = 0x5a5a3c3c0f0f55aaL // top bit clear
    // four rows at distance 2: two differ only in low bits (inside the
    // radius-1 prefix ball), two flip two PREFIX bits incl. the sign bit
    // (prefix distance 2, outside that ball, and smaller as signed longs
    // — so they win the hash tie-break)
    val inside = Seq(base ^ 3L, base ^ 5L)
    val outside = Seq(base ^ (3L << 62), base ^ ((1L << 63) | (1L << 60)))
    val rnd = new scala.util.Random(11)
    val hashes = Seq(base) ++ inside ++ outside ++ Seq.fill(200)(rnd.nextLong())
    val (layout, oracle) = layoutAndOracle(hashes, base, 3)
    assert(oracle == Seq((base, 0)) ++ outside.sorted.map((_, 2)),
      s"tie set does not straddle the first ball: $oracle")
    assert(knn(layout, base, 3) == oracle)
  }

  test("kNN whose first ball is empty falls back to the whole layout") {
    GraftSession.prepare(spark)
    val rnd = new scala.util.Random(23)
    // every hash has prefix 0x00; the probe's prefix 0xFF is 8 bits away,
    // so the radius-1 prefix ball holds no rows
    val hashes = Seq.fill(100)(rnd.nextLong() >>> 8)
    val probe = 0xFF00000000000000L | (hashes.head & 0xFFFFL)
    val (layout, oracle) = layoutAndOracle(hashes, probe, 4)
    assert(knn(layout, probe, 4) == oracle)
  }

  test("a repeated metric_knn on one session runs at most 3 jobs, none a listing or schema job") {
    GraftSession.prepare(spark)
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(3)
    val es = new graft.sql.EmdriveSession(spark)
    // 500 random hashes: the 6-bit layout has 64 prefix directories, and
    // no small ball holds the 10 nearest
    es.register("knn_hashes", Seq.tabulate(500)(i => (i.toLong, rnd.nextLong()))
      .toDF("doc_id", "h"))
    // ORDER BY over the k-NN answer (a local relation) runs no job
    val stmt =
      "SELECT h, dist FROM metric_knn(knn_hashes, doc_id, h, 7, 10) ORDER BY dist, h;"
    val first = es.sql(stmt).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq

    // job descriptions and stage names of every job the second statement
    // runs; a sentinel job marks the end (the listener bus is in order)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val sentinel = s"sentinel-${System.nanoTime()}"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""),
          e.stageInfos.map(_.name).mkString(";")))
    }
    spark.sparkContext.addSparkListener(listener)
    val second = try {
      val out = es.sql(stmt).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      spark.sparkContext.setJobDescription(sentinel)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.asScala.exists(_._1 == sentinel) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    val ran = jobs.asScala.toSeq.filterNot(_._1 == sentinel)
    assert(second == first)
    assert(ran.size <= 3, s"${ran.size} jobs: ${ran.mkString("\n")}")
    assert(!ran.exists { case (desc, stages) =>
      desc.startsWith("Listing leaf files") || stages.contains("parquet at") },
      s"listing or schema job: ${ran.mkString("\n")}")
  }

  test("a SQL metric index layout is pid-tagged, so another process's startup sweep keeps it") {
    GraftSession.prepare(spark)
    val s2 = spark
    import s2.implicits._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def layouts(): Set[String] = {
      val st = Files.list(tmp)
      try st.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_metric_idx")).toSet
      finally st.close()
    }
    val before = layouts()
    val es = new graft.sql.EmdriveSession(spark)
    es.register("pid_hashes",
      Seq.tabulate(50)(i => (i.toLong, i * 0x9E3779B97F4A7C15L)).toDF("doc_id", "h"))
    assert(es.sql(
      "SELECT doc_id, dist FROM metric_search(pid_hashes, doc_id, h, 0, 64);").count() == 50)
    val created = layouts() -- before
    assert(created.nonEmpty)
    // TempHygiene.sweepOrphans deletes untagged graft_* dirs older than
    // 12 h; a pid-tagged one only once its process is gone
    val tag = s"_p${ProcessHandle.current().pid()}"
    assert(created.forall(_.endsWith(tag)), created)
  }

  test("prefixesWithin enumerates exactly the prefixes a match can live in") {
    val probe = 0xA5L
    val within2 = MetricIndex.prefixesWithin(probe, 8, 2)
    assert(within2.size == 1 + 8 + 28) // C(8,0)+C(8,1)+C(8,2)
    assert(within2.distinct.size == within2.size)
    assert(within2.forall(p => java.lang.Long.bitCount(p ^ probe) <= 2))
  }
}
