package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Relational}
import graft.sources.Tables

/** Round-17 optimization internals: the registry-sharing changes must be
  * (a) actually shared — one artifact per identity key — and (b)
  * result-invariant, since the driver re-hashes every declared query. */
class OptimizationSpec extends SparkTestBase {

  test("Tables.apply memoizes the resolved relation per (session, dir, table)") {
    val a = Tables(spark, sfDir, "region")
    val b = Tables(spark, sfDir, "region")
    // same DataFrame instance = one file listing + one footer-schema
    // resolution per session — the r17 fixed-cost fix
    assert(a eq b)
    // a different dir or table key resolves its own relation
    assert(!(Tables(spark, sfDir, "nation") eq a))
  }

  test("materializeOnce hands every caller the same cached relation") {
    val k = s"opt_spec_${System.nanoTime()}"
    var builds = 0
    def build = { builds += 1; Tables(spark, sfDir, "region").select(col("r_regionkey")) }
    val a = Relational.materializeOnce(spark, sfDir, k)(build)
    val b = Relational.materializeOnce(spark, sfDir, k)(build)
    assert(a eq b)
    assert(builds == 1, s"expected one build, got $builds")
  }

  test("jaccardPairs over the semantically-same shingled plan shares one pair build and keeps results identical") {
    def shingled = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        call_function("word_shingles", col("text"), lit(3)).as("sh"))
    GraftSession.prepare(spark)
    val r1 = Dedup.jaccardPairs(shingled, 0.5).collect().map(_.toSeq).toSet
    val r2 = Dedup.jaccardPairs(shingled, 0.5).collect().map(_.toSeq).toSet
    assert(r1 == r2)
    // a different threshold reuses the SAME unfiltered pair artifact: the
    // 0.3 set must be a superset of the 0.5 set (threshold is downstream)
    val r3 = Dedup.jaccardPairs(shingled, 0.3).collect().map(_.toSeq.take(2)).toSet
    assert(r1.map(_.take(2)).subsetOf(r3))
  }

  test("WITH RECURSIVE still converges and non-recursive CTEs stay correct after the step-arm checkpoint") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.register("documents", Tables(spark, sfDir, "documents"))
    val minDoc = Tables(spark, sfDir, "documents")
      .agg(min(col("doc_id"))).collect().head.getLong(0)
    val out = es.sql(
      """WITH RECURSIVE seq AS (
        |  SELECT MIN(doc_id) AS v FROM documents
        |  UNION
        |  SELECT s.v + 1 AS v FROM seq AS s WHERE s.v < 4)
        |SELECT COUNT(*) AS n FROM seq;""".stripMargin).collect()
    assert(out.head.getLong(0) == (4L - minDoc + 1L))
  }

  // ---- round-18 optimization internals ----

  test("PQ codebook fit is deterministic under the r18 parallel per-subspace fit") {
    GraftSession.prepare(spark)
    val emb = Tables(spark, sfDir, "embeddings")
    val m1 = graft.operators.PqIndex.fitPq(emb, 64)
    val m2 = graft.operators.PqIndex.fitPq(emb, 64)
    // M concurrent seeded fits write disjoint regions — the flattened
    // books must be bitwise identical run-to-run (the determinism audit
    // and the oracle's recall invariant both lean on this)
    assert(java.util.Arrays.equals(m1.booksFlat, m2.booksFlat))
    assert(m1.booksFlat.exists(_ != 0.0f), "fit produced a zeroed codebook")
  }

  test("q_weighted_median plans ONE data exchange and ONE window after the r18 share-the-exchange rewrite") {
    GraftSession.prepare(spark)
    val df = SparkEntry.queries("q_weighted_median")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    // count plan NODES (through the adaptive wrapper and into subqueries),
    // not substrings of the plan's text
    val helper = new AdaptiveSparkPlanHelper {}
    val hashExchanges = helper.collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    val windows = helper.collectWithSubqueries(plan) { case w: WindowExec => w }
    // one hash-partitioned data exchange (the broadcast of `part` is a
    // BroadcastExchangeExec, not counted) and one fused Window node
    assert(hashExchanges.size == 1, s"expected 1 data exchange:\n$plan")
    assert(windows.size == 1, s"expected 1 fused Window:\n$plan")
  }
}
