package graft

import org.apache.spark.sql.functions._

import graft.operators.PqIndex
import graft.sources.Tables

/** Product-quantization index: code structure, ADC recall vs the exact
  * dot-product scan, and compression accounting. */
class PqSpec extends SparkTestBase {

  private def probeOf(id: Long) =
    Tables.embeddings(spark, sfDir).filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  test("PQ codes: M entries per vector, each within [0, K)") {
    GraftSession.prepare(spark)
    val e = Tables.embeddings(spark, sfDir)
    val model = PqIndex.fitPq(e, dim = 64)
    assert(model.booksDf(spark).count() == PqIndex.M.toLong * PqIndex.K)
    val enc = PqIndex.encode(e, model)
    assert(enc.count() == e.count())
    val bad = enc.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= PqIndex.K)
    assert(bad.count() == 0)
    val sizes = enc.select(size(col("codes")).as("m")).distinct().collect()
    assert(sizes.map(_.getInt(0)).toSeq == Seq(PqIndex.M))
  }

  test("ADC search recall vs exact dot-product top-10") {
    GraftSession.prepare(spark)
    val e = Tables.embeddings(spark, sfDir)
    val p = probeOf(0)
    val model = PqIndex.fitPq(e, dim = 64)
    val enc = PqIndex.encode(e.filter(col("vec_id") =!= 0), model)
    val adc = PqIndex.searchAdc(enc, model, p, topK = 50)
      .collect().map(_.getLong(0)).toSet
    val exact = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        call_function("dot_product", col("embedding"), typedLit(p)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    // 8 subspaces × 64 centroids (8 six-bit codes) on 64 dims; the ADC top-50
    // must still contain most of the exact top-10 (floor set ~25% under
    // the measured value so a codebook/encode regression fails loudly,
    // not a lucky-seed wobble).
    val hits = adc.intersect(exact).size
    info(s"ADC recall: $hits/10 of exact top-10 inside ADC top-50")
    assert(hits >= 6, s"ADC recall too low: $hits/10 in top-50")
  }

  test("IVFPQ: residual codes, cluster-pruned ADC recall vs exact top-10") {
    GraftSession.prepare(spark)
    val e = Tables.embeddings(spark, sfDir)
    val p = probeOf(0)
    val corpus = e.filter(col("vec_id") =!= 0)
    val model = PqIndex.fitIvfPq(corpus, dim = 64, kCoarse = 8)
    assert(model.centersDf(spark).count() == 8)
    val enc = PqIndex.encodeIvf(corpus, model)
    assert(enc.count() == corpus.count())
    val exact = corpus
      .select(col("vec_id"),
        call_function("dot_product", col("embedding"), typedLit(p)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    def recallAt(nprobe: Int): Int =
      PqIndex.searchIvfPq(enc, model, p, nprobe = nprobe, topK = 50)
        .collect().map(_.getLong(0)).toSet
        .intersect(exact).size
    // Two effects, pinned separately. (1) RANKING: with every cell probed
    // the only error left is residual-PQ quantization — must be near-exact
    // (measured 9/10 with the LocalKMeans fit). (2) PRUNING: these
    // synthetic embeddings are noise-dominated and unnormalized, so
    // dot-product neighbours scatter across L2-trained cells (the known
    // IP-metric coarse-quantizer mismatch) — measured 8/10 at nprobe=4.
    // Floors sit under the measured values so a codebook or scoring
    // regression fails loudly, not a seed wobble.
    val unpruned = recallAt(8)
    info(s"IVFPQ ranking (nprobe=8): $unpruned/10 in ADC top-50")
    assert(unpruned >= 8, s"residual-ADC ranking degraded: $unpruned/10")
    val pruned = recallAt(4)
    info(s"IVFPQ pruned (nprobe=4): $pruned/10 in ADC top-50")
    assert(pruned >= 5, s"pruned recall degraded: $pruned/10")
  }

  test("persisted IVFPQ: model round-trips bit-exactly, search is directory-pruned") {
    GraftSession.prepare(spark)
    val e = Tables.embeddings(spark, sfDir)
    val p = probeOf(0)
    withTempDir("graft-pqidx") { tmp =>
      val path = tmp + "/idx"
      val written = PqIndex.writeIvfPq(spark, e, dim = 64, kCoarse = 8, path)
      val opened = PqIndex.openIvfPq(spark, path)
      // floats round-trip parquet unchanged → the reopened model IS the model
      assert(opened.dim == written.dim)
      assert(java.util.Arrays.equals(opened.centersFlat, written.centersFlat))
      assert(opened.pq == written.pq.copy(booksFlat = opened.pq.booksFlat) &&
        java.util.Arrays.equals(opened.pq.booksFlat, written.pq.booksFlat))
      // stored search ≡ in-memory search on the same model (same plan modulo
      // the scan source)
      val stored = PqIndex.searchStored(spark, path, opened, p, nprobe = 4, topK = 20)
      val inMem = PqIndex.searchIvfPq(PqIndex.encodeIvf(e, written), written,
        p, nprobe = 4, topK = 20)
      assert(stored.collect().toSeq == inMem.collect().toSeq)
      // the cluster_id filter must prune parquet DIRECTORIES, not rows
      val plan = stored.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"), plan)
    }
  }
}
