package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Runtime pruning demonstrations — the mechanisms that keep a selective
  * join from scanning 100 TB:
  *
  *  - Dynamic partition pruning: a partitioned layout + a selective dim
  *    filter → Catalyst injects the dim's key set as a runtime partition
  *    filter on the fact scan, so unmatched partitions are never read.
  *  - Runtime bloom filters: for shuffle joins on non-partition keys,
  *    Catalyst builds a bloom filter from the selective side and pushes a
  *    might_contain pre-filter onto the big side, cutting shuffle volume.
  *
  * Both are free (config-on, plan-injected) BECAUSE graft's operators stay
  * declarative DataFrame plans — nothing here would fire on a hand-rolled
  * RDD pipeline. Thresholds are production-tuned, so the specs lower them
  * to observe the mechanism at test scale.
  */
class RuntimeFilterSpec extends SparkTestBase {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning fires on a partitioned layout join") {
    GraftSession.prepare(spark)
    withTempDir("graft-dpp") { tmp =>
      val dir = tmp + "/orders_by_status"
      Tables.orders(spark, sfDir).write.partitionBy("o_orderstatus").parquet(dir)
      val fact = spark.read.parquet(dir)
      // the dim must be a scan + surviving Filter node (a LocalRelation is
      // constant-folded and DPP sees no selective predicate to reuse)
      withTempDir("graft-dpp-dim") { dimTmp =>
        val dimDir = dimTmp + "/status_dim"
        spark.createDataFrame(Seq(("O", "open"), ("X", "unused")))
          .toDF("st", "label").write.parquet(dimDir)
        val dim = spark.read.parquet(dimDir).filter(col("label") === "open")
        val joined = fact.join(dim, col("o_orderstatus") === col("st"))
        val n = joined.count()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.toLowerCase.contains("dynamicpruning"), plan)
        // pruning is an optimization, never a semantics change
        assert(n == fact.filter(col("o_orderstatus") === "O").count())
      }
    }
  }

  test("runtime bloom filter pre-filters the big side of a shuffle join") {
    GraftSession.prepare(spark)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val li = Tables.lineitem(spark, sfDir)
      val sel = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_extendedprice"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter") ||
        plan.toLowerCase.contains("might_contain"), plan)
      // parity with the un-filtered plan
      val expected = li.join(Tables.orders(spark, sfDir)
          .filter(col("o_totalprice") > 400000).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    }
  }

  test("bloom prefilter sizing is fpp-driven from the corpus count, and only prunes") {
    GraftSession.prepare(spark)
    // m = ceil(n·ln(1/p)/ln²2): the sketch grows linearly with the corpus,
    // holding the false-positive rate constant at any SF — a hard-coded
    // est-items would degrade fpp as the corpus outgrows it.
    val bits450 = graft.operators.Dedup.bloomBits(450L, graft.operators.Dedup.BloomFpp)
    val bits4500 = graft.operators.Dedup.bloomBits(4500L, graft.operators.Dedup.BloomFpp)
    assert(bits450 == math.ceil(450 * math.log(1.0 / 0.03) /
      (math.log(2.0) * math.log(2.0))).toLong)
    assert(bits4500 == 10 * bits450 || (bits4500 - 10 * bits450).abs <= 10) // linear in n
    assert(graft.operators.Dedup.bloomBits(0L, 0.03) == 64L) // degenerate floor
    // Semantics at two SFs (documents: 500 rows at sf0.001, 5000 at sf0.1):
    // the bloom only prunes the join probe set, never decides — results are
    // identical to the plain incremental anti-join at BOTH corpus sizes.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      def ids(q: String) = SparkEntry.queries(q)(spark, d)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(ids("q_bloom_incremental") == ids("q_dedup_incremental"), d)
    }
  }
}
