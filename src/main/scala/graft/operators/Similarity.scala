package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.sources.Tables

/** Metric / similarity search: the reference's core capability
  * (reference: README.md "Story" — Hamming-distance search over perceptual
  * hashes with `a @ b`, threshold + nearest queries; src/storage/index.rs
  * EM-tree metric index) re-expressed Spark-first, plus embedding-space
  * cosine k-NN / near-dup / IVF ANN for training-data pipelines.
  *
  * Scale design (100 TB):
  *  - Probe vectors/hashes are 1-row DataFrames broadcast into a codegen'd
  *    scan: no shuffle of the corpus, trivially parallel across executors.
  *  - k-NN = distance scan + `orderBy.limit(k)` which Spark plans as
  *    TakeOrderedAndProject: a per-partition k-heap + driver merge of
  *    k·numPartitions rows — no global sort. This is the Spark analog of
  *    the EM-tree's nearest-neighbour traversal.
  *  - Distance kernels (cosine/dot/norm, Hamming via xor+bit_count, SimHash)
  *    are native codegen expressions — no UDF boxing in the hot loop.
  *  - IVF path: corpus pre-assigned to centroids once (k small, broadcast);
  *    each probe searches one cluster ≈ 1/k of the data. Candidate recall
  *    vs. exactness is the documented ANN trade-off.
  *  - Embedding near-dup: signed-random-projection LSH bands + a per-bucket
  *    cap bound candidate generation; cosine verify runs only within band
  *    buckets. No all-pairs join.
  */
object Similarity {

  /** Cross-engine 30-bit content fingerprint (polynomial rolling hash,
    * mod 1e9+7; native codegen kernel — see functions.ContentFp) — stands
    * in for the reference's perceptual hash column. */
  private def fpCol: Column = call_function("content_fp", col("text"))

  private def fingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), fpCol.as("fp"))

  /** Threshold metric search: `WHERE fp @ probe < 10` (reference `@`). */
  private def hammingThreshold(s: SparkSession, d: String): DataFrame = {
    val docs = fingerprints(s, d)
    val probe = docs.filter(col("doc_id") === 0).select(col("fp").as("probe_fp"))
    docs.crossJoin(broadcast(probe))
      .select(col("doc_id"),
        call_function("hamming64", col("fp"), col("probe_fp")).as("dist"))
      .filter(col("dist") < 10)
  }

  /** k-NN by Hamming distance (TakeOrderedAndProject, no global sort). */
  private def hammingKnn(s: SparkSession, d: String): DataFrame = {
    val docs = fingerprints(s, d)
    val probe = docs.filter(col("doc_id") === 0).select(col("fp").as("probe_fp"))
    docs.crossJoin(broadcast(probe))
      .select(col("doc_id"),
        call_function("hamming64", col("fp"), col("probe_fp")).as("dist"))
      .orderBy(col("dist"), col("doc_id"))
      .limit(10)
  }

  /** End-to-end perceptual-hash search (README story): SimHash the corpus,
    * find everything within Hamming 16 of the probe document's hash. */
  private def phashSearch(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d).select(col("doc_id"),
      call_function("simhash64", split(col("text"), " ")).as("ph"))
    val probe = hashed.filter(col("doc_id") === 0).select(col("ph").as("probe_ph"))
    hashed.crossJoin(broadcast(probe))
      .select(col("doc_id"),
        call_function("hamming64", col("ph"), col("probe_ph")).as("dist"))
      .filter(col("dist") < 16)
      .orderBy(col("dist"), col("doc_id"))
  }

  /** Threshold search over 128-bit fingerprints travelling as binary(16) —
    * the UINT128 metric-key path (reference: src/storage/index.rs
    * `data: Vec<u128>`; SchemaMapper maps UINT128 → binary(16)). Same
    * broadcast-probe + codegen-kernel scan shape as the 64-bit path. */
  private def hamming128Threshold(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), unhex(md5(col("text"))).as("h128"))
    val probe = hashed.filter(col("doc_id") === 0).select(col("h128").as("probe_h"))
    hashed.crossJoin(broadcast(probe))
      .select(col("doc_id"),
        call_function("hamming128", col("h128"), col("probe_h")).as("dist"))
      .filter(col("dist") < 54)
  }

  /** Brute-force cosine k-NN vs. probe vec_id=0 (exact baseline). */
  private def knnCosine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("probe_v"))
    e.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("probe_v")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** MMR diverse top-10 retrieval (Carbonell & Goldstein 1998): greedy
    * maximal-marginal-relevance over a bounded candidate pool — rank k
    * picks argmax of 0.7·sim(query,d) − 0.3·max sim(d, selected), the
    * standard redundancy-penalized reranker RAG pipelines run after ANN.
    * Determinism discipline: every cosine is rounded to 6 dp BEFORE the
    * score arithmetic, so both engines combine identical doubles with
    * two multiplies and a subtract (single IEEE ops); ties break on
    * vec_id. Scale shape: one corpus scan builds the top-50 pool via
    * TakeOrdered; each of the 9 greedy steps is pool×selected ≤ 500
    * kernel evals against a broadcast ≤10-row selected set — the
    * unrolled-loop pattern q_pagerank uses, bounded by construction.
    * The oracle replays the greedy loop as 10 chained CTEs. */
  private def mmr(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("probe_v"))
    val cand = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("probe_v")), 6)
          .as("simq"),
        col("embedding"))
      .orderBy(col("simq").desc, col("vec_id"))
      .limit(50)
    // every number the greedy loop consumes is produced DISTRIBUTED by
    // the same rounded cosine kernel the oracle mirrors: the query sims
    // in `cand`, the 1225 pool-pair sims here (both bounded by the pool
    // cap, the documented driver-model pattern — an iterative DataFrame
    // union would triple-reference its own lineage per step and blow the
    // plan up 3^k)
    val pairRows = cand.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(cand.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(call_function("cosine_sim", col("va"), col("vb")), 6).as("ps"))
      .collect()
    val pool = cand.select(col("vec_id"), col("simq")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val psim = pairRows.map(r =>
      ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def simOf(a: Long, b: Long): Double =
      if (a < b) psim((a, b)) else psim((b, a))
    // greedy: rank 1 = best query sim; rank k = argmax of
    // 0.7·simq − 0.3·max-sim-to-selected (two IEEE mults + subtract over
    // engine-rounded doubles — bitwise reproducible), ties on vec_id
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    if (pool.nonEmpty) {
      val first = pool.minBy { case (id, sq) => (-sq, id) }
      selected += ((first._1, 1, first._2))
      // an under-10 pool just yields a shorter ranking (empty corpus → 0)
      for (k <- 2 to math.min(10, pool.length)) {
        val chosen = selected.map(_._1).toSet
        val best = pool.filterNot(p => chosen(p._1))
          .minBy { case (id, sq) =>
            val maxSel = selected.map(sl => simOf(id, sl._1)).max
            (-(sq * 0.7 - maxSel * 0.3), id)
          }
        selected += ((best._1, k, best._2))
      }
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      selected.map { case (id, rk, sq) => Row(id, rk, sq) }.asJava,
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("rank", IntegerType, nullable = false),
        StructField("simq", DoubleType, nullable = false))))
  }

  /** The q_mmr oracle's greedy loop unrolled as chained CTEs (the
    * pagerankSteps pattern): step k excludes the selected set and picks
    * argmax of the 6-dp-rounded MMR score with vec_id ties. */
  private[graft] val mmrSteps: String = (2 to 10).map { k =>
    // MATERIALIZED is load-bearing: each step references its predecessor
    // three times (NOT IN, the correlated max, the union) — inlined CTEs
    // would re-expand the chain 3^k times and re-open the parquet per
    // reference; materialization makes the replay linear
    s"""p$k AS MATERIALIZED (
       | SELECT c.vec_id, c.v, c.simq, $k AS rank FROM cand c
       | WHERE c.vec_id NOT IN (SELECT vec_id FROM s${k - 1})
       | ORDER BY c.simq * 0.7
       |   - (SELECT max(round(list_cosine_similarity(c.v, s.v), 6))
       |      FROM s${k - 1} s) * 0.3 DESC, c.vec_id
       | LIMIT 1),
       |s$k AS MATERIALIZED (
       | SELECT * FROM s${k - 1} UNION ALL SELECT * FROM p$k)""".stripMargin
  }.mkString(",\n")

  /** Batch k-NN: top-3 cosine neighbours for EVERY probe in a broadcast
    * probe set, in one corpus scan — the bulk-similarity shape a training
    * pipeline runs (not one probe at a time). Per-probe top-k via the
    * bounded-heap `top_k` aggregate: the shuffle carries k rows per probe,
    * not the |corpus|·|probes| score matrix. */
  private def knnBatch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        call_function("cosine_sim", col("embedding"), col("pv")).as("sim_raw"))
      .groupBy(col("probe_id"))
      .agg(call_function("top_k",
        struct(col("sim_raw"), (-col("vec_id")).as("neg")), lit(3)).as("top"))
      .select(col("probe_id"), explode(col("top")).as("t"))
      .select(col("probe_id"), (-col("t.neg")).as("vec_id"),
        round(col("t.sim_raw"), 6).as("sim"))
  }

  /** SRP-LSH blocking parameters for embedding near-dup. Chosen empirically
    * against the test corpus (64-dim, true pairs at cosine 0.45–0.6):
    *
    *   scheme            buckets/band  pairs@sf0.01  pairs@sf0.1  candidates
    *   4×4 axis-sign          16            35           458        22.8%
    *   12-bit × 192 SRP     4096            35           555         6.5%
    *   16-bit × 512 SRP    65536            21           310         1.5%
    *
    * 12-bit bands are the widest that hold recall at cosine ~0.5 (per-bit
    * collision prob 2/3 → a 16-bit band keeps only 0.15% of true pairs, and
    * no affordable band count buys that back). 192 bands actually RAISE
    * recall vs. the old 4×4 axis-sign scheme while cutting candidate volume
    * 3.5×; the per-bucket cap (below) is what bounds the worst case. */
  private val NeardupSrpBands = 192
  private val NeardupSrpBits = 12

  /** Embedding near-dup — q_embed_neardup. Below [[NeardupRouteMax]]
    * vectors the output is the EXACT pair relation ([[embedNeardupExact]]:
    * a flat all-pairs scan, the FAISS-flat economics — at ≤8k vectors no
    * blocking scheme beats a broadcast nested-loop that never shuffles,
    * and exactness is what upgrades this key to a full brute-force replay
    * oracle). Past the cutoff the query ROUTES to
    * [[embedNeardupClustered]] (the r5 ×100 stress finding: recall-held
    * SRP costs bands × (3/2)^Δbits as buckets narrow; KMeans-cell
    * blocking keeps per-vector cost constant) and the DEFAULT output is
    * bounded to the top-[[NeardupTopK]] neighbours per vector
    * ([[topKNeighbors]]): the r7 ×100 stress showed raw pair output is
    * inherently unbounded on similarity-heavy corpora (6,110× pairs for
    * 100× docs) while every scale consumer is components/keep-one/kNN-
    * graph-shaped. Raw pairs past the cutoff stay available via
    * [[embedNeardupAuto]] (the components/decontaminate input, where
    * pairs die inside a downstream aggregation instead of being
    * materialized). The count() pre-pass driving the route is
    * parquet-metadata-cheap. */
  private def embedNeardup(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).count()
    val pairs = embedPairsShared(s, d)
    if (n <= NeardupRouteMax) pairs else topKNeighbors(pairs, NeardupTopK)
  }

  /** The scale-routed embedding pair relation every embedding-graph
    * consumer shares — q_embed_neardup's output, the component fixpoint,
    * decontamination counts, and the degree histogram all start from the
    * SAME (id_a, id_b, sim) stream. Since r9 the build is a PERSISTED
    * artifact ([[graft.sources.PairStore]], the IvfStore/writeIvfPq
    * pattern): the first consumer of a corpus VERSION — in any session —
    * writes the pair graph as partitioned parquet keyed by the corpus
    * fingerprint, and every later consumer (this session, the next one, a
    * standalone run) plans a columnar scan instead of the clustered
    * KMeans build. This is the reference's index-as-artifact trade
    * (src/storage/index.rs) applied to the similarity graph — the one
    * standalone ×100 cost center the r8 receipts left open. The session
    * registry still wraps the read so one session plans one scan
    * lineage. */
  private[graft] def embedPairsShared(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.of(s, d, "embed_pairs_df") {
      graft.sources.PairStore.readOrBuild(s, d, "embed_pairs", "embeddings") {
        embedNeardupAuto(Tables.embeddings(s, d), 0.4)
      }
    }

  /** Exact all-pairs near-dup for corpora under the route cutoff: one
    * broadcast of the (vec_id, embedding) relation (≤8192 × dim floats —
    * a few MB), a nested-loop self-join on `id_a < id_b`, and the codegen
    * cosine kernel inline — no shuffle, no candidate materialization,
    * work bounded by cutoff²/2 ≈ 33M pairs regardless of data. */
  private[graft] def embedNeardupExact(e: DataFrame, threshold: Double): DataFrame = {
    val ev = e.select(col("vec_id"), col("embedding"))
    // a small corpus usually scans as ONE parquet partition, which would
    // run the nested loop on one core; spread the streamed side so the
    // n²/2 kernel evals use the whole executor pool
    val par = e.sparkSession.sparkContext.defaultParallelism
    ev.repartition(par).as("a")
      .join(broadcast(ev.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(call_function("cosine_sim", col("a.embedding"), col("b.embedding")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Default per-vector output bound past the route cutoff: a pair
    * survives iff it is among EITHER endpoint's top-k by similarity (the
    * standard kNN-graph construction), so output is ≤ n·k rows however
    * similarity-heavy the corpus. The symmetric explode feeds the
    * bounded-heap `top_k` aggregate (partial-combines map-side: the
    * shuffle carries k rows per vector, never the pair mass), then pairs
    * re-canonicalize to id_a < id_b. */
  private[graft] def topKNeighbors(pairs: DataFrame, k: Int): DataFrame = {
    val sym = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("sim"))
      .unionByName(
        pairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("sim")))
    sym.groupBy(col("src"))
      .agg(call_function("top_k",
        struct(col("sim"), (-col("dst")).as("neg")), lit(k)).as("t"))
      .select(col("src"), explode(col("t")).as("e"))
      .select(least(col("src"), -col("e.neg")).as("id_a"),
        greatest(col("src"), -col("e.neg")).as("id_b"), col("e.sim").as("sim"))
      .distinct()
  }

  private[graft] val NeardupTopK = 16

  /** Corpus-size cutoff between the two near-dup physical paths. Below
    * it, the exact flat scan wins (work bounded at cutoff²/2 ≈ 33M
    * pair-evals — sub-second on any executor count — with recall 1.0 and
    * no index build; blocking schemes only trade recall away for
    * selectivity that a corpus this small doesn't need). Above it, the
    * clustered path rides a KMeans blocking whose per-vector cost is
    * CONSTANT in corpus size (fixed target cell size, sampled training) —
    * the measured-sub-linear ×100 plan. SRP banding remains the BOUNDED-
    * STATE blocking for the streaming path (StreamOps), where neither a
    * flat rescan per micro-batch nor an index rebuild is an option. */
  private[graft] val NeardupRouteMax = 8192L

  /** Scale-routed embedding near-dup RAW pair stream: one count() pre-pass
    * picks the physical plan (the Catalyst-style stats-driven decision,
    * made here because corpus cardinality is exactly one metadata read).
    * Both paths emit the same (id_a, id_b, sim) relation with exact-cosine
    * values — exact below the cutoff, ANN-blocked above it. This is the
    * input for consumers that AGGREGATE the pairs away (components,
    * decontamination counts); the q_embed_neardup default bounds its
    * output with [[topKNeighbors]] instead. */
  private[graft] def embedNeardupAuto(e: DataFrame, threshold: Double): DataFrame = {
    val n = e.count()
    if (n <= NeardupRouteMax) embedNeardupExact(e, threshold)
    else embedNeardupClustered(e, threshold, n)
  }

  /** The large-corpus near-dup path: KMeans-cell blocking instead of SRP
    * bucket enumeration (the IVF index family reused for pair generation).
    *
    * Shape: `nClusterings` independent KMeans partitions of the corpus
    * (different seeds); within each, every vector is MULTI-ASSIGNED to its
    * `nAssign` nearest cells (the FAISS-nprobe idea applied to pair
    * generation: a boundary pair's members usually hold each other's cell
    * in their top-2, so multi-assignment recovers exactly the pairs
    * single-assignment loses to Voronoi boundaries — and its recall decays
    * far more slowly as the cell count grows with the corpus). Candidate
    * pairs are vectors sharing ANY cell; the exact-cosine verify runs
    * INLINE in the self-join stage — the embedding travels nAssign times
    * per vector per clustering (not once per band × 192 as SRP would
    * need), the join shuffles on cell id, and no candidate relation is
    * ever materialized: pairs that fail the threshold die inside the
    * stage that produced them.
    *
    * Cost model, per clustering: train on a ≤25.6k sample (constant);
    * assignment scores the broadcast centroids per vector with the
    * bounded-heap top_k aggregate over a nested-loop broadcast join — the
    * exchange carries one row per vector because top_k partial-combines
    * map-side (the knnBatch shape); the self-join emits
    * ~n·cell·nAssign²/2 scored pairs. With cell size, sample, and nAssign
    * constant, cost per vector is CONSTANT in n — the sub-linear-per-row
    * growth the ×100 stress demands — vs recall-held SRP's
    * (3/2)^log₂(n) band blowup.
    *
    * Recall: a near-dup pair is found iff SOME clustering co-locates it;
    * misses need the pair split in EVERY independent partition
    * (≈(1−r)^m), and boundaries are seed-specific, so failures
    * decorrelate. CutRecallSpec measures the floor vs brute force with
    * the route forced; the dials are nAssign (recall per clustering) and
    * nClusterings (independent draws).
    *
    * Measured two-decade profile (dev/stress_x100_neardup_recall.json,
    * exact sampled ground truth): per-clustering pair recall r is
    * corpus-size-dependent (0.31 at 20k vectors / 78 cells, 0.10 at 200k
    * / 780 cells — more cells, more boundaries), so PAIR recall at the
    * shipped m=4 decays from 0.76 (×10) to 0.34 (×100) concentrated in
    * the borderline 0.4–0.5 tier (0.80 at sim ≥ 0.6; precision exact at
    * every scale — the verify is inline). But COMPONENT recall — the
    * metric keep-one/cluster dedup actually consumes — is 1.0 at ×100:
    * every true pair's endpoints connect through the found graph, which
    * reproduces the true cluster structure exactly while materializing
    * 2.9× fewer pairs than ground truth. Boundary-tier pair recall is
    * purchasable at measured linear cost in nClusterings
    * (recall = 1−(1−r)^m); wall at ×100 is 102 s vs the recall-held SRP
    * path's 590 s. Degenerate cells (a dense region
    * exceeding `maxPerCell` members) are dropped by the same
    * windowed-count-then-filter guard as every LSH bucket cap — near-exact
    * mass belongs to exact dedup, and the cap bounds pair volume at
    * n·nAssign·maxPerCell regardless of data. */
  private[graft] def embedNeardupClustered(e: DataFrame, threshold: Double, n: Long,
      targetCell: Int = 256, nClusterings: Int = 4, nAssign: Int = 2,
      maxPerCell: Int = 4096): DataFrame = {
    val k = math.max(16L, math.min(n / targetCell, 16384L)).toInt
    val sampleFrac = math.min(1.0, 25600.0 / n)
    val ev = e.select(col("vec_id"), col("embedding"))
    (0 until nClusterings).map { r =>
      val centers = IvfIndex.fitCenters(ev, k,
        seed = 42L + 1000L * r, trainFraction = sampleFrac, maxIter = 5)
      // top-nAssign cells by the euclidean criterion the fit used:
      // argmin ‖x−c‖² = argmax 2x·c − ‖c‖² (‖x‖² constant per vector)
      val assigned = ev.crossJoin(broadcast(centers))
        .select(col("vec_id"), col("embedding"), col("cid"),
          (lit(2.0) * call_function("dot_product", col("embedding"), col("cvec")) -
            call_function("dot_product", col("cvec"), col("cvec"))).as("score"))
        .groupBy(col("vec_id"))
        .agg(any_value(col("embedding")).as("embedding"),
          call_function("top_k",
            struct(col("score"), (-col("cid")).as("neg")), lit(nAssign)).as("cells"))
        .select(col("vec_id"), col("embedding"),
          explode(col("cells")).as("c"))
        .select(col("vec_id"), col("embedding"), (-col("c.neg")).as("cell"))
      val capped = assigned
        .withColumn("csz", count(lit(1)).over(Window.partitionBy(col("cell"))))
        .filter(col("csz") <= maxPerCell)
        .select(col("vec_id"), col("embedding"), col("cell"))
      capped.as("a")
        .join(capped.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(call_function("cosine_sim", col("a.embedding"), col("b.embedding")), 6)
            .as("sim"))
        .filter(col("sim") >= threshold)
    }.reduce(_ unionByName _)
      .distinct() // multi-assignment and several clusterings report a pair once
  }

  /** SRP-banded near-dup over any (vec_id, embedding) relation — the
    * BOUNDED-STATE blocking: per-vector state is bands × bits sign bits,
    * no index fit, no corpus rescan, which is why the STREAMING near-dup
    * path (StreamOps) keys on it while the batch paths route between the
    * exact flat scan and KMeans-cell blocking. bands/bits/cap are
    * injectable for specs (ScaleSpec asserts the cap bounds candidate
    * volume on a degenerate corpus; CutRecallSpec pins the recall floor
    * of this exact configuration). */
  private[graft] def embedNeardupPairs(e: DataFrame, threshold: Double,
      bands: Int = NeardupSrpBands, bits: Int = NeardupSrpBits,
      maxPerBucket: Int = Dedup.LshMaxPerBucket): DataFrame = {
    val banded = e.select(
      col("vec_id"),
      posexplode(call_function("srp_bands", col("embedding"), lit(bands), lit(bits))))
      .toDF("vec_id", "band", "bucket")
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsz") <= maxPerBucket)
      .drop("bsz")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(call_function("cosine_sim", col("va"), col("vb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Transitive embedding near-dup clusters: the scale-routed pair graph
    * closed under connectivity (Dedup.components pointer-jump propagation) —
    * same keep-one-per-cluster semantics as the text path (C18), over the
    * embedding modality. Consumes the RAW pair stream (pairs die inside
    * the fixpoint, never materialized as output), and below the route
    * cutoff that stream is exact — so the whole key replays in DuckDB as
    * a recursive CTE over the brute-force pair relation. */
  private def embedComponents(s: SparkSession, d: String): DataFrame =
    Dedup.memoComponents(s, d, "embed") {
      Dedup.components(embedPairsShared(s, d).select(col("id_a"), col("id_b")))
    }.select(col("id").as("vec_id"), col("comp"))

  /** SemDeDup (Abbas et al. 2023): cluster-local semantic deduplication —
    * the published recipe for pruning semantically-redundant training data
    * at corpus scale. KMeans the embeddings (seeded sampled fit, broadcast
    * centroids, one map-side-combined assign pass), enumerate pairs ONLY
    * within a cluster (the O(n²/k) economy that makes semantic dedup
    * tractable where all-pairs cannot be), and keep the LEAST-central
    * member of every ε-similar group (the paper's diversity-preserving
    * keep rule: the example farthest from the centroid is the least
    * redundant with the cluster).
    *
    * Keep rule here is the deterministic one-pass DOMINANCE variant of the
    * paper's sequential greedy: prune x iff some ε-neighbor in its cluster
    * is strictly more (csim, vec_id)-minimal. Join-parallel (no driver
    * loop, no fixpoint); on chain topologies it prunes slightly more than
    * the greedy (domination chains collapse to their minimum), which is
    * the conservative direction for a dedup.
    *
    * Scale shape: sampled KMeans fit (constant), broadcast-centroid assign
    * whose exchange carries one row per vector (max_by partial-combines
    * map-side), a cluster-partitioned self-join bounded by the same
    * windowed `maxPerCell` cap as every LSH bucket, and one marker join.
    * Per-vector cost is constant in n with cell size fixed — the same
    * economics as [[embedNeardupClustered]], minus the pair graph. */
  private[graft] def semDedupCore(e: DataFrame, threshold: Double,
      targetCell: Int = 256, seed: Long = 42L,
      maxPerCell: Int = 4096, name: String = "vectors"): DataFrame = {
    val ev = e.select(col("vec_id"), col("embedding"))
    // r17 optimization — the fitted centers are an INDEX artifact (the
    // PqIndex registry doctrine) and were re-fit per invocation; the
    // registry entry is over the input relation's snapshot, with the fit
    // parameters in its name, so any consumer handing in the
    // semantically-same corpus shares one fit. The corpus count rides in
    // the same entry (it sizes k).
    val baseKey = s"semdedup_${name}_${targetCell}_$seed"
    val (n, centersOpt) = graft.SessionMemo.of(ev, baseKey) {
      val n = ev.count()
      // empty-corpus guard (the Pca/Pq doctrine): KMeans cannot fit 0 rows
      if (n == 0) (n, None)
      else {
        val k = math.max(4L, math.min(n / targetCell, 16384L)).toInt
        val sampleFrac = math.min(1.0, 25600.0 / n)
        (n, Some(IvfIndex.fitCenters(ev, k, seed, sampleFrac, maxIter = 5)))
      }
    }
    // the zero-row frame below carries the output schema
    if (n == 0)
      return ev.select(col("vec_id"), lit(0).as("cluster_id"),
        lit(0.0).as("centroid_sim"), lit(true).as("kept"))
    val centers = centersOpt.get
    // nearest cell by the fit's euclidean criterion (argmax 2x·c − ‖c‖²)
    // plus the centrality score, in one broadcast pass; deterministic
    // cell tie-break by lower cid. Materialize-once (r17): this relation
    // feeds FOUR subplans (both sides of the dominance self-join and the
    // final kept join) — each branch otherwise re-runs the n×k broadcast
    // assignment pass per execution.
    val assigned = graft.SessionMemo.ofPersisted(ev, baseKey + "_assigned")(
      ev.crossJoin(broadcast(centers))
      .select(col("vec_id"), col("embedding"), col("cid"),
        (lit(2.0) * call_function("dot_product", col("embedding"), col("cvec")) -
          call_function("dot_product", col("cvec"), col("cvec"))).as("score"),
        round(call_function("cosine_sim", col("embedding"), col("cvec")), 6)
          .as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("csim"), col("embedding")),
        struct(col("score"), -col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster_id"),
        col("m.csim").as("centroid_sim"), col("m.embedding").as("embedding")))
    val capped = assigned
      .withColumn("csz", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("csz") <= maxPerCell)
      .drop("csz")
    val prunedIds = capped.as("a")
      .join(capped.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          (col("b.centroid_sim") < col("a.centroid_sim") ||
            (col("b.centroid_sim") === col("a.centroid_sim") &&
              col("b.vec_id") < col("a.vec_id"))))
      .filter(call_function("cosine_sim",
        col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("a.vec_id")).distinct()
      .withColumn("pruned", lit(true))
    assigned.join(prunedIds, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster_id"), col("centroid_sim"),
        coalesce(!col("pruned"), lit(true)).as("kept"))
  }

  /** Clone-id offset for the in-query SemDeDup contract; ≢ 0 (mod 37) so
    * clones never join the planted sample themselves. */
  private val SemPlantOffset = 1000000007L

  /** Driver-gate SemDeDup contract audit — q_semdedup. The kept-set itself
    * depends on the KMeans partition (engine-specific, like every sketch
    * key), so the gate-checkable output is the PLANTED-DUPLICATE CONTRACT
    * run in-query (SemDedupSpec's check, moved into the key per the r7
    * verdict, the q_simhash_radius pattern): clone every 37th vector
    * verbatim under a shifted id, run the real operator
    * ([[semDedupCore]]) on corpus+clones, and grade the algebraic
    * guarantees that hold for ANY clustering:
    *  - a verbatim clone lands in its original's cell (identical argmax
    *    under the deterministic (score, −cid) tie-break), so each planted
    *    pair is cluster-local with equal centroid_sim;
    *  - within the pair, dominance resolves by the (centroid_sim, vec_id)
    *    tie-break to the original — the clone is ALWAYS pruned
    *    (cosine(x, x) ≥ ε trivially).
    * The oracle replays n_corpus / n_planted from the parquet and asserts
    * the contract columns literally: an engine whose assignment
    * tie-breaks, cap, or dominance rule drifts fails the hash match. The
    * per-vector (vec_id, cluster_id, centroid_sim, kept) relation remains
    * the operator's product via [[semDedupCore]]. */
  private def semDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ev = e.select(col("vec_id"), col("embedding"))
    val aug = ev.unionByName(
      ev.filter(col("vec_id") % 37 === 0)
        .select((col("vec_id") + SemPlantOffset).as("vec_id"), col("embedding")))
    val res = semDedupCore(aug, 0.4)
    val origs = res.filter(col("vec_id") < SemPlantOffset && col("vec_id") % 37 === 0)
      .select(col("vec_id").as("ovec"), col("cluster_id").as("o_cl"))
    val clones = res.filter(col("vec_id") >= SemPlantOffset)
      .select((col("vec_id") - SemPlantOffset).as("ovec"),
        col("cluster_id").as("c_cl"), col("kept").as("c_kept"))
    val audit = origs.join(clones, "ovec").agg(
      count(lit(1)).as("n_planted"),
      sum(when(col("o_cl") === col("c_cl"), 1L).otherwise(0L))
        .as("clones_same_cluster"),
      sum(when(!col("c_kept"), 1L).otherwise(0L)).as("clones_pruned"))
    audit
      .crossJoin(e.agg(count(lit(1)).as("n_corpus")))
      .filter(col("n_corpus") > 0)
      .select(col("n_corpus"), col("n_planted"), col("clones_same_cluster"),
        col("clones_pruned"),
        (col("clones_same_cluster") === col("n_planted") &&
          col("clones_pruned") === col("n_planted")).as("contract_ok"))
  }

  /** IVF-style ANN: deterministic seed centroids (vec_id < 8), assign corpus
    * to nearest centroid, probe searches only its own cluster.
    *
    * Assignment is a `max_by` aggregate (best centroid per vector), not a
    * row_number window: the aggregate partial-combines map-side, so the
    * exchange carries one row per vector instead of the n×k scored pairs a
    * window would shuffle and sort — ~k× less shuffle at any scale. Ties on
    * csim break to the lowest cid via the (csim, −cid) struct ordering. */
  /** Deterministic seed centroids (lowest 8 vec_ids) — the q_ann_ivf
    * replayable-centroid scheme shared across the IVF family. */
  private def seedCents(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** The deterministic seed-centroid IVF assignment (vec_id, embedding,
    * cid), shared VERBATIM by q_ann_ivf, q_ann_rerank and
    * q_ivf_recall_curve — r17 optimization: materialized once per
    * (session, corpus). Each key previously re-ran the n×8 broadcast
    * argmax scan per consuming subplan (q_ivf_recall_curve read it from
    * two branches, q_ann_ivf from two, on top of one build per key);
    * the assignment is an index artifact (the IvfIndex.persist layout is
    * exactly this relation written to disk), so the registry doctrine
    * applies. */
  private def seedAssigned(s: SparkSession, d: String): DataFrame =
    Relational.materializeOnce(s, d, "ivf_seed_assigned")(
      Tables.embeddings(s, d).crossJoin(broadcast(seedCents(s, d)))
      .select(col("vec_id"), col("embedding"), col("cid"),
        call_function("cosine_sim", col("embedding"), col("cvec")).as("csim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("embedding"), col("cid"), col("csim")),
        struct(col("csim"), -col("cid"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cid").as("cid"), col("best.csim").as("csim")))

  private def annIvf(s: SparkSession, d: String): DataFrame = {
    val assigned = seedAssigned(s, d)
    val probe = assigned.filter(col("vec_id") === 0)
      .select(col("cid").as("probe_cid"), col("embedding").as("probe_v"))
    assigned.join(broadcast(probe), col("cid") === col("probe_cid"))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("probe_v")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Diversity-quota corpus selection: keep the q most PROTOTYPICAL
    * vectors per embedding cell — the cluster-balanced selection idiom
    * (each region of embedding space contributes a bounded quota, so a
    * dominant mode cannot crowd a curated subset; the prototype-selection
    * complement of C78's outlier pruning). Cells are the deterministic
    * lowest-8-id centroids (the q_ann_ivf scheme), so assignment,
    * prototypicality, and ranking all replay exactly in an independent
    * engine. Scale shape: assignment is one broadcast-argmax scan
    * (max_by partial-combines; the exchange carries one row per vector),
    * and per-cell ranking is the bounded-heap `top_k` aggregate — the
    * shuffle moves q·cells partial heaps, NEVER a per-cell full sort
    * (the window formulation would single-task each cell's whole
    * population at 100 TB). Ranks break ties on (rounded proto, vec_id),
    * so the kept SET is deterministic cross-engine. */
  private def diversitySelect(s: SparkSession, d: String): DataFrame = {
    val q = 5
    // r17 optimization: read the shared materialized seed assignment —
    // the argmax (cid, csim) per vector is identical under the same
    // (csim, −cid) tie-break.
    val assigned = seedAssigned(s, d)
      .select(col("vec_id"), col("cid"), round(col("csim"), 6).as("proto"))
    assigned.groupBy(col("cid"))
      .agg(call_function("top_k",
        struct(col("proto"), (-col("vec_id")).as("neg_id")), lit(q)).as("top"))
      .select(col("cid"), posexplode(col("top")))
      .select(col("cid").cast("long").as("cid"),
        (col("pos") + 1).cast("long").as("rank"),
        (-col("col.neg_id")).as("vec_id"),
        col("col.proto").as("proto"))
      .orderBy(col("cid"), col("rank"))
  }

  /** Two-stage ANN with exact re-ranking — the standard serving shape
    * (FAISS nprobe shortlist → exact distance rerank): the probe's top-2
    * cells (deterministic lowest-8-id centroids, the q_ann_ivf scheme)
    * give the candidate shortlist, the exact cosine re-ranks it, and
    * each of the final top-10 carries an `in_exact` flag marking whether
    * it also appears in the brute-force top-10 — the per-result recall
    * accounting a serving layer exposes so callers can see what the
    * shortlist missed. Scale shape: assignment is one broadcast-argmax
    * scan; the shortlist is ~nprobe/k of the corpus; the exact top-10
    * baseline is one more scan into a TakeOrdered (at 100 TB the
    * baseline leg is sampled offline instead — it exists here because
    * the oracle grades the flags). Every stage replays in DuckDB. */
  private def annRerank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cents = seedCents(s, d)
    val assigned = seedAssigned(s, d)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
    val pcells = cents.crossJoin(broadcast(probe))
      .select(col("cid"),
        call_function("cosine_sim", col("cvec"), col("pv")).as("cs"))
      .orderBy(col("cs").desc, col("cid")).limit(2).select(col("cid"))
    val reranked = assigned.join(broadcast(pcells), "cid")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("pv")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
    val exact = e.crossJoin(broadcast(probe))
      .select(col("vec_id").as("evid"),
        round(call_function("cosine_sim", col("embedding"), col("pv")), 6)
          .as("es"))
      .orderBy(col("es").desc, col("evid")).limit(10).select(col("evid"))
    reranked.join(broadcast(exact), col("vec_id") === col("evid"), "left_outer")
      .select(col("vec_id"), col("sim"), col("evid").isNotNull.as("in_exact"))
  }

  /** Cluster topic keywords: the top-3 LIFT-ranked terms per embedding
    * cluster — the "name the clusters" step after any corpus clustering
    * (cluster 3 is 'spark joins', cluster 5 is 'customer orders'), using
    * the deterministic q_ann_ivf assignment so the whole path replays.
    * Lift = in-cluster term share ÷ corpus term share, computed as ONE
    * division of exact integer cross-products (cnt_c·tot_all over
    * cnt_all·tot_c — products are exactly representable doubles), so
    * ranking is engine-stable; ties break on the term. Scale shape: one
    * assignment scan, token explode partial-combines into (cell, tok)
    * counts, the rank window runs per cell over vocabulary-sized
    * slices. */
  private def clusterTopics(s: SparkSession, d: String): DataFrame = {
    // r17 optimization: the shared materialized seed assignment (same
    // argmax cell under the same tie-break).
    val assigned = seedAssigned(s, d).select(col("vec_id"), col("cid").as("cell"))
    val toks = Tables.documents(s, d)
      .join(assigned, col("doc_id") === col("vec_id"))
      .select(col("cell"), explode(split(col("text"), " ")).as("tok"))
    // ONE pass over the exploded token stream (r17 optimization): the
    // per-cell totals, corpus-wide token counts, and grand total are all
    // exact sums of the (cell, tok) counts, so they derive from the
    // materialized inC relation (cells × vocab — collapsed far below the
    // token stream) instead of three more assignment-join + explode
    // passes (guide §1.2: don't compute things twice that one partial
    // aggregation already holds).
    val inC = graft.operators.Relational.materializeOnce(s, d, "cluster_topics_inc")(
      toks.groupBy(col("cell"), col("tok")).agg(count(lit(1)).as("cnt_c")))
    val totC = inC.groupBy(col("cell")).agg(sum(col("cnt_c")).as("tot_c"))
    val all = inC.groupBy(col("tok")).agg(sum(col("cnt_c")).as("cnt_all"))
    val totAll = inC.agg(sum(col("cnt_c")).as("tot_all"))
    val lifted = inC.join(totC, "cell").join(all, "tok")
      .crossJoin(broadcast(totAll))
      .select(col("cell"), col("tok"), col("cnt_c"),
        round((col("cnt_c") * col("tot_all")).cast("double") /
          (col("cnt_all") * col("tot_c")), 6).as("lift"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("lift").desc, col("tok"))
    lifted.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("cell"), col("rn"), col("tok"), col("cnt_c"), col("lift"))
  }

  /** IVF recall-vs-nprobe tuning curve: recall@10 against the exact
    * brute-force top-10 for nprobe ∈ {1, 2, 4} probed cells, plus the
    * candidate count each setting scans — THE curve an ANN operator
    * reads to price recall against compute before fixing nprobe. Same
    * deterministic assignment as q_ann_ivf (seed centroids, max_by with
    * centroid-id ties); the approx and exact rankings both use the
    * rounded cosine with vec_id ties, so the whole curve replays in
    * DuckDB. Scale shape: one corpus scan assigns, one scores the
    * probed union (candidates ≤ nprobe/k of the corpus), per-nprobe
    * rank windows run over candidate-bounded relations; centroid/probe
    * relations broadcast. */
  private def ivfRecallCurve(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cents = seedCents(s, d)
    val probeV = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_v"))
    val assigned = seedAssigned(s, d)
    val cellRank = cents.crossJoin(broadcast(probeV))
      .select(col("cid"),
        call_function("cosine_sim", col("cvec"), col("probe_v")).as("qsim"))
      .withColumn("crank",
        row_number().over(Window.orderBy(col("qsim").desc, col("cid"))))
      .select(col("cid"), col("crank"))
    val exact = e.crossJoin(broadcast(probeV))
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("probe_v")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .select(col("vec_id").as("xid"))
    val probes = s.range(1)
      .select(explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
    val cand = assigned.join(broadcast(cellRank), "cid")
      .crossJoin(broadcast(probes))
      .filter(col("crank") <= col("nprobe"))
      .select(col("nprobe"), col("vec_id"), col("embedding"))
    val approx = cand.crossJoin(broadcast(probeV))
      .select(col("nprobe"), col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), col("probe_v")), 6)
          .as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("nprobe"))
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= 10)
    val nCand = cand.groupBy(col("nprobe")).agg(count(lit(1)).as("n_candidates"))
    approx.join(broadcast(exact), col("vec_id") === col("xid"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
      .join(nCand, "nprobe")
      .select(col("nprobe").cast("bigint").as("nprobe"), col("n_candidates"),
        col("n_hits"), (col("n_hits").cast("double") / 10).as("recall_at_10"))
  }

  /** int8 embedding quantization (codegen kernels): scale + code checksum
    * per vector. At 100 TB the int8 corpus is 4× smaller than float32 —
    * the standard memory/recall trade for brute-force and IVF scans; the
    * floor(x/scale + 0.5) rounding is engine-portable, so the arithmetic
    * is oracle-verified end to end. */
  private def quantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      call_function("q8_scale", col("embedding")).as("scale"),
      call_function("q8_sum", col("embedding")).as("q_sum"))

  /** k-NN over the QUANTIZED corpus: rank by the reconstructed dot product
    * q8_dot(codes)·scaleA·scaleB — the scan reads 4×-fewer vector bytes
    * and the inner loop is integer multiply-adds. Same broadcast-probe +
    * TakeOrdered shape as the float path; ranking error vs exact cosine is
    * the quantization trade. */
  private def knnQ8(s: SparkSession, d: String): DataFrame = {
    val coded = Tables.embeddings(s, d).select(col("vec_id"),
      call_function("int8_quantize", col("embedding")).as("code"),
      call_function("q8_scale", col("embedding")).as("scale"))
    val probe = coded.filter(col("vec_id") === 0)
      .select(col("code").as("pcode"), col("scale").as("pscale"))
    coded.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        (call_function("q8_dot", col("code"), col("pcode")) *
          col("scale") * col("pscale")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  /** Corpus geometry report: histogram of pairwise quantized dot products
    * over a deterministic 20% vector sample — how you choose near-dup /
    * clustering thresholds BEFORE running them (where does the similarity
    * mass sit?). The sample comes from the engine-portable multiplicative
    * hash (no RNG), and all arithmetic is integer (int8 codes × int8
    * codes), so the histogram is bitwise cross-engine. Scale shape:
    * sampling happens BEFORE the pair join (k× fewer vectors → k² fewer
    * pairs); the sampled side is broadcast — production picks the bucket
    * count so the sample stays broadcastable, which is exactly the
    * statistical budget of the report. Bin boundaries are multiples of
    * 10000 — exact in double — so floor() never straddles an ulp. */
  private def pairHistogram(s: SparkSession, d: String): DataFrame = {
    val sample = Tables.embeddings(s, d)
      .filter(Sampling.bucketOf(col("vec_id"), 100) < 20)
      .select(col("vec_id"),
        call_function("int8_quantize", col("embedding")).as("code"))
    sample.as("a")
      .join(broadcast(sample.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(floor(
        call_function("q8_dot", col("a.code"), col("b.code")) / 10000.0)
        .cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Embedding-level benchmark decontamination: for each eval-split vector,
    * the number of train-split vectors that are near-duplicates (cosine ≥
    * 0.4) — the semantic twin of the shingle-based C24 decontamination, for
    * when paraphrased eval leakage survives text-level checks. Splits come
    * from Sampling.bucketOf (deterministic); candidate pairs come from the
    * scale-routed stream ([[embedNeardupAuto]]) and die inside the count
    * aggregation — output is one bounded row per contaminated eval vector.
    * Below the route cutoff the stream is exact, so the key replays fully
    * in DuckDB (brute-force pairs + the same bucket splits). */
  private def embedDecontaminate(s: SparkSession, d: String): DataFrame = {
    val p = embedPairsShared(s, d)
      .select(col("id_a"), col("id_b"),
        Sampling.bucketOf(col("id_a"), 100).as("ba"),
        Sampling.bucketOf(col("id_b"), 100).as("bb"))
    p.filter(col("ba") >= 90 && col("bb") < 90).select(col("id_a").as("vec_id"))
      .unionByName(
        p.filter(col("bb") >= 90 && col("ba") < 90).select(col("id_b").as("vec_id")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** Labeled k-NN classification: predict each held-out probe's label by
    * majority vote of its 5 nearest train-split neighbours — the standard
    * embedding-quality eval a training pipeline runs after every encoder
    * change. One corpus scan: probes broadcast, per-probe top-5 via the
    * bounded-heap `top_k` aggregate (the shuffle carries 5 rows per probe,
    * not the |corpus|·|probes| score matrix), then a `min_by` over
    * (−votes, label) picks the majority with deterministic ties. */
  private def knnLabel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        col("label").as("true_label"))
    val top = e.filter(col("vec_id") >= 50)
      .crossJoin(broadcast(probes))
      .select(col("probe_id"), col("true_label"), col("label"),
        call_function("cosine_sim", col("embedding"), col("pv")).as("sim"),
        col("vec_id"))
      .groupBy(col("probe_id"), col("true_label"))
      .agg(call_function("top_k",
        struct(col("sim"), (-col("vec_id")).as("neg"), col("label")), lit(5)).as("t"))
      .select(col("probe_id"), col("true_label"), explode(col("t")).as("nb"))
    top
      .groupBy(col("probe_id"), col("true_label"),
        col("nb.label").as("pred_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("probe_id"), col("true_label"))
      .agg(min_by(col("pred_label"),
        struct(-col("votes"), col("pred_label"))).as("pred_label"))
  }

  /** Per-label class-prototype centroids in exact fixed point: components
    * land on the 2^-20 grid via floor(v·2^20 + 0.5) — deterministic in any
    * engine (float→double and power-of-two scaling are exact; floor has no
    * tie cases) — then SUM as integers. Ships (Σq, n) instead of the mean
    * so no float division enters the comparison; centroid = Σq/n/2^20.
    * This is the prototype/bootstrap step of IVF builds and the per-class
    * drift monitor of a labeled corpus; explode → partial-aggregate means
    * the shuffle carries one row per (label, dim), not per vector. */
  private def embedCentroid(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "pos", "v")
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(floor(col("v").cast("double") * 1048576.0 + 0.5).cast("long")).as("sum_q"),
        count(lit(1)).as("n"))

  /** Per-label cluster dispersion: mean squared distance to the label
    * centroid — the cluster-tightness audit (is a label coherent enough
    * to train on / prune / rebalance?). Float sums are order-dependent,
    * so the whole computation runs in fixed-point integers (q = 2^10,
    * like embedCentroid's 2^20 — narrower because the identity below
    * squares the sums: max |Σvq| ≈ n·2^11 keeps n·S2 and S1² under 2^41
    * at any label size this side of 2^19 vectors). The identity
    * Σᵢ‖xᵢ−c‖² = Σ_pos (n·S2 − S1²) / n (S1=Σvq, S2=Σvq²) turns "join
    * every vector against its centroid" into two aggregations — no join,
    * no second scan pass, exact integers until one final division. */
  private def embedDispersion(s: SparkSession, d: String): DataFrame = {
    val perPos = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "pos", "v")
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * 1024.0 + 0.5).cast("long").as("vq"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("vq")).as("s1"),
        sum(col("vq") * col("vq")).as("s2"),
        count(lit(1)).as("n"))
    perPos.groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        sum(col("n") * col("s2") - col("s1") * col("s1")).as("sse_n_q2"))
      .select(col("label"), col("n"), col("sse_n_q2"),
        (col("sse_n_q2") * lit(1.0) / (col("n") * col("n") * lit(1048576L))).as("msd"))
  }

  /** Centroid-distance outlier pruning — the standard noisy-label /
    * mislabeled-example cleaner: each vector's cosine to its LABEL's exact
    * centroid, ranked within the label, with the bottom 5% flagged. A
    * vector far from its class centroid is the classic candidate for
    * label noise (Northcutt et al. confident-learning's geometric cousin).
    *
    * Numerics: the centroid is the exact fixed-point mean (the
    * embedCentroid 2^20 grid — integer sums, so aggregation order cannot
    * move it), reconstructed to double by the same two-division sequence
    * in both engines; per-vector dot/norm terms accumulate as
    * DECIMAL(28,12) (the embedStats doctrine: decimal addition is
    * order-independent, and a 1e-12 boundary flip is absorbed by the
    * final round(...,6)). One posexplode scan, a broadcast of the
    * label×dim centroid relation, one partial-combined aggregate, one
    * per-label rank window. Scale note: the window partitions by label
    * (thousands of rows per label at 100 TB — fine); a label-free variant
    * would swap the rank for an approx-quantile threshold. */
  private def embedOutliers(s: SparkSession, d: String): DataFrame = {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .toDF("vec_id", "label", "pos", "vf")
      .select(col("vec_id"), col("label"), col("pos"),
        col("vf").cast("double").as("v"))
    val cent = x.groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("v") * 1048576.0 + 0.5).cast("long")).as("cq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("cq").cast("double") / col("n") / 1048576.0).as("c"))
    val sums = x.join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("v") * col("c")).cast("decimal(28,12)")).as("svc"),
        sum((col("v") * col("v")).cast("decimal(28,12)")).as("svv"),
        sum((col("c") * col("c")).cast("decimal(28,12)")).as("scc"))
      .select(col("vec_id"), col("label"),
        round(col("svc").cast("double") /
          (sqrt(col("svv").cast("double")) * sqrt(col("scc").cast("double"))), 6)
          .as("csim"))
    val w = Window.partitionBy(col("label")).orderBy(col("csim"), col("vec_id"))
    sums
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_label", count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("vec_id"), col("label"), col("csim"), col("rnk"),
        (col("rnk") <= ceil(col("n_label") * 0.05)).as("outlier"))
  }

  /** Inter-class centroid similarity matrix: pairwise cosine between the
    * per-label exact centroids — the class-separation audit run before
    * trusting labels for contrastive training or prototype classification
    * (two labels whose centroids sit at cosine ≥ ~0.9 are candidates for
    * merging or relabeling; a label near-orthogonal to all others is
    * healthy). Numerics: centroids are the embedOutliers exact fixed-point
    * means (2^20 grid — integer sums, aggregation-order-proof), pair terms
    * accumulate as DECIMAL(28,12), one double division, round(…,6).
    * Scale shape: the centroid relation is labels×dim (dimension-sized at
    * any corpus size), so the pos-keyed self-join touches |labels|²·dim
    * tiny rows — the corpus is scanned exactly once. */
  private def centroidSimMatrix(s: SparkSession, d: String): DataFrame = {
    val x = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "pos", "vf")
      .select(col("label"), col("pos"), col("vf").cast("double").as("v"))
    val cent = x.groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("v") * 1048576.0 + 0.5).cast("long")).as("cq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("cq").cast("double") / col("n") / 1048576.0).as("c"))
    val a = cent.select(col("label").as("label_a"), col("pos"), col("c").as("ca"))
    val b = cent.select(col("label").as("label_b"), col("pos"), col("c").as("cb"))
    a.join(broadcast(b), "pos")
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum((col("ca") * col("cb")).cast("decimal(28,12)")).as("sab"),
        sum((col("ca") * col("ca")).cast("decimal(28,12)")).as("saa"),
        sum((col("cb") * col("cb")).cast("decimal(28,12)")).as("sbb"))
      .select(col("label_a"), col("label_b"),
        round(col("sab").cast("double") /
          (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))), 6)
          .as("csim"))
  }

  /** Degree histogram of the τ-similarity graph — the corpus-geometry
    * health report for the kNN-graph/near-dup machinery (a heavy tail of
    * high-degree vectors is exactly the boilerplate mass that LSH caps
    * and SemDeDup exist for; a spike at 0 says the threshold is too
    * tight). Degrees come from the scale-routed pair stream (pairs die in
    * the count), isolated vectors enter as degree 0 via a left join, and
    * the output is label-free: (degree, n_vecs). Below the route cutoff
    * the stream is exact, so the histogram replays in DuckDB. */
  private def knnGraphDegree(s: SparkSession, d: String): DataFrame = {
    val pairs = embedPairsShared(s, d)
    val deg = pairs.select(col("id_a").as("vec_id"))
      .unionByName(pairs.select(col("id_b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left_outer")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vecs"))
  }

  /** L2 norms via the native codegen kernel. */
  private def embedNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(call_function("l2_norm", col("embedding")), 6).as("nrm"))

  /** L2-normalization: scalar projections of the unit vector (first/last
    * component + unit-norm check) so the oracle compares doubles, not
    * engine-formatted float arrays. */
  private def embedNormalize(s: SparkSession, d: String): DataFrame = {
    val nrm = call_function("l2_norm", col("embedding"))
    val dim = size(col("embedding"))
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(when(nrm > 0, element_at(col("embedding"), 1) / nrm).otherwise(0.0), 6).as("u_first"),
        round(when(nrm > 0, element_at(col("embedding"), dim) / nrm).otherwise(0.0), 6).as("u_last"))
  }

  /** Dimension-wise corpus statistics (mean / std per embedding dimension)
    * — the fit half of feature standardization/whitening, and the
    * sanity report that catches a dead or exploding dimension before any
    * index is built over the corpus.
    *
    * Scale shape: one posexplode of the vector column (row count ×dim, map
    * side only) into a 64-group partial-combined aggregate — the shuffle
    * carries dim×partitions partial states, nothing else; no window, no
    * driver math. Sums pass through DECIMAL(28,8) so accumulation order
    * can't move the last ulp (q_stats convention — a float32 can never sit
    * exactly between two scale-8 decimals of opposite rounding, and a
    * boundary flip perturbs the sum by 1e-8, absorbed by the final
    * round(…,6)); sqrt is correctly-rounded IEEE in any engine. */
  private def embedStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,8)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(28,8)")).as("sxx"))
      .select(col("dim"),
        round(col("sx").cast("double") / col("n"), 6).as("mu"),
        round(sqrt((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n")) /
          (col("n") - 1)), 6).as("sigma"))

  /** Hard-negative mining: for each anchor, the top-5 most-similar vectors
    * carrying a DIFFERENT label — the contrastive-training batch builder
    * (negatives that are hard precisely because the embedding space
    * currently confuses them with the anchor's class). Same physical shape
    * as knnBatch: one corpus scan against a broadcast anchor set, per-
    * anchor top-k via the bounded-heap `top_k` aggregate so the shuffle
    * carries k rows per anchor, never the score matrix. The label
    * inequality prunes before the heap — at 100 TB the scan cost is the
    * k-NN scan, not a second pass. */
  private def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"),
        col("label").as("alabel"))
    e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id") && col("label") =!= col("alabel"))
      .select(col("anchor_id"), col("vec_id"),
        call_function("cosine_sim", col("embedding"), col("av")).as("sim_raw"))
      .groupBy(col("anchor_id"))
      .agg(call_function("top_k",
        struct(col("sim_raw"), (-col("vec_id")).as("neg")), lit(5)).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("anchor_id"), (col("i") + 1).as("rnk"),
        (-col("t.neg")).as("neg_id"), round(col("t.sim_raw"), 6).as("sim"))
  }

  /** Retrieval-quality eval: MRR@10 of label-match retrieval over the
    * first 50 vectors as queries — THE metric a pipeline tracks when an
    * embedding table feeds RAG or dedup routing (is the space still
    * ranking same-class items first?). One corpus scan against broadcast
    * anchors; per-anchor top-10 via the bounded heap, then the first
    * same-label rank folds to 1/rank (0 when absent from the top-10).
    * Output is one row: n_anchors, hits_at_10 (exact integer — the sharp
    * engine-independent check) and the rounded MRR. */
  private def knnMrr(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"),
        col("label").as("alabel"))
    val top = e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("alabel"), col("label"),
        call_function("cosine_sim", col("embedding"), col("av")).as("sim_raw"),
        col("vec_id"))
      .groupBy(col("anchor_id"), col("alabel"))
      .agg(call_function("top_k",
        struct(col("sim_raw"), (-col("vec_id")).as("neg"), col("label")), lit(10)).as("top"))
      .select(col("anchor_id"), col("alabel"), posexplode(col("top")).as(Seq("i", "t")))
      .filter(col("t.label") === col("alabel"))
      .groupBy(col("anchor_id")).agg(min(col("i") + 1).as("fr"))
    anchors.join(top, Seq("anchor_id"), "left")
      .agg(count(lit(1)).as("n_anchors"), count(col("fr")).as("hits_at_10"),
        round(sum(coalesce(lit(1.0) / col("fr"), lit(0.0))) / count(lit(1)), 6).as("mrr"))
  }

  /** Per-label embedding drift: the L2 distance between the label's
    * centroid over EVEN vec_ids and over ODD vec_ids — the two-sample
    * stability probe a pipeline runs when an embedding table spans
    * ingest generations (a drifting encoder shows up as a centroid shift
    * long before downstream metrics move; a stable one keeps the halves
    * statistically identical). vec_id parity is the deterministic
    * engine-portable split.
    *
    * Numerics: float sums are order-dependent, so everything runs in
    * fixed-point integers (q=2^10, the embedDispersion convention):
    * per (label, half, pos) S1 = Σ round(v·q); the halves difference
    * S1a·nb − S1b·na stays integral (DECIMAL), its squared sum converts
    * to double ONCE (correctly-rounded decimal→double on both engines via
    * the documented VARCHAR detour oracle-side), and
    * shift = √(Σ dq²)/(na·nb·q). Two partial-combined aggregations, no
    * join, one corpus scan. */
  private def embedDrift(s: SparkSession, d: String): DataFrame = {
    val rows = Tables.embeddings(s, d)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")))
      .toDF("label", "half", "pos", "v")
      .select(col("label"), col("half"), col("pos"),
        floor(col("v").cast("double") * 1024.0 + 0.5).cast("long").as("vq"))
    rows.groupBy(col("label"), col("pos"))
      .agg(sum(when(col("half") === 0, col("vq")).otherwise(0L)).as("s1a"),
        sum(when(col("half") === 1, col("vq")).otherwise(0L)).as("s1b"),
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
      .select(col("label"), col("na"), col("nb"),
        (col("s1a").cast("decimal(38,0)") * col("nb") -
          col("s1b").cast("decimal(38,0)") * col("na")).as("dq"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum(col("dq") * col("dq")).as("drift_q2"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("label"), col("na"), col("nb"),
        round(sqrt(col("drift_q2").cast("double")) /
          (col("na") * col("nb") * lit(1024.0)), 6).as("centroid_shift"))
  }

  /** Matryoshka truncation-recall curve: recall@10 of brute-force cosine
    * over the first {8,16,32} dims vs the full 64-dim exact top-10, across
    * 20 probe vectors — the read-before-you-commit number for MRL-style
    * dimension truncation (Kusupati et al. 2022): how much retrieval
    * quality survives a 2-8× storage/compute cut. Determinism: every
    * cosine (per truncation) is rounded to 6 dp before ranking with
    * vec_id ties, hits/(probes·10) is an exact integer ratio. Scale
    * shape: ONE corpus scan — the 4 truncation sims per (probe, vector)
    * ride a single broadcast-probe crossJoin and explode into rank rows;
    * windows run per (probe, dim) over corpus-sized partitions; output
    * is 3 rows. At 100 TB the probe set stays bounded and the scan is
    * the same exact-baseline economics as q_knn_batch. */
  private def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val dims = Seq(8, 16, 32, 64)
    val scored = e.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("vec_id"), explode(array(dims.map(dd =>
        struct(lit(dd).as("trunc_dim"),
          round(call_function("cosine_sim",
            slice(col("embedding"), 1, dd), slice(col("pv"), 1, dd)), 6)
            .as("sim"))): _*)).as("x"))
      .select(col("probe_id"), col("vec_id"),
        col("x.trunc_dim").as("trunc_dim"), col("x.sim").as("sim"))
    val w = Window.partitionBy(col("probe_id"), col("trunc_dim"))
      .orderBy(col("sim").desc, col("vec_id"))
    // r18: the ranked top-10 relation (≤ probes × dims × 10 = 800 rows)
    // feeds BOTH the full-dim baseline and the truncated side of the
    // semi-join — unmaterialized, the corpus × probes × dims scoring pass
    // (THE expensive subplan here) executed twice per run. Collapsed-
    // relation-sized, evictAll-registered.
    val top = graft.operators.Relational.materializeOnce(s, d,
      "matryoshka_top10")(
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10))
    val full = top.filter(col("trunc_dim") === 64)
      .select(col("probe_id").as("fp"), col("vec_id").as("fv"))
    val nProbes = probes.select(count(lit(1)).as("n_probes"))
    top.filter(col("trunc_dim") =!= 64)
      .join(full, col("probe_id") === col("fp") && col("vec_id") === col("fv"),
        "left_semi")
      .groupBy(col("trunc_dim"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(nProbes))
      .select(col("trunc_dim"), col("n_probes"),
        (col("hits").cast("double") / (col("n_probes") * 10)).as("recall10"))
  }

  /** Simplified-silhouette cluster-quality audit over the q_ann_ivf
    * partition (centroids = data rows vec_id<8, deterministic argmax
    * assignment): per cell, mean of s = (a_sim − b_sim) / max(1−a_sim,
    * 1−b_sim) where a = own-centroid cosine and b = best other centroid —
    * the per-cell health number read before trusting an IVF layout
    * (negative mean ⇒ cell boundary cuts a natural cluster). Simplified
    * silhouette (centroid distances, not all-pairs) is the O(n·k) form
    * that scales; the full form is O(n²). Determinism: sims rounded 6 dp,
    * s is single IEEE ops re-rounded, the mean is a DECIMAL(28,8)-routed
    * exact sum over one corpus scan. */
  private def silhouette(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(call_function("cosine_sim", col("embedding"), col("cv")), 6)
          .as("csim"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    val ab = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rn") === 1, col("csim"))).as("a_sim"),
        max(when(col("rn") === 1, col("cid"))).as("cell"),
        max(when(col("rn") === 2, col("csim"))).as("b_sim"))
    val denom = greatest(lit(1) - col("a_sim"), lit(1) - col("b_sim"))
    ab.select(col("cell"),
        when(denom === 0, lit(0.0))
          .otherwise(round((col("a_sim") - col("b_sim")) / denom, 6)).as("sil"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        (sum(col("sil").cast("decimal(28,8)")).cast("double") / count(lit(1)))
          .as("mean_sil"))
  }

  /** Mutual k-NN pairs (k=5): (a,b) where each is in the other's cosine
    * top-5 — the standard precision filter over a kNN graph (one-way
    * neighbors of a hub are usually noise; mutuality keeps only pairs
    * both sides agree on, the graph SemDeDup/agglomerative pipelines
    * consume). Scale-ROUTED like every embedding-graph consumer: below
    * [[NeardupRouteMax]] the directed ranks come from the exact
    * broadcast-NL scan (recall 1.0 — what makes the full replay oracle
    * possible); above it they come from the shared clustered candidate
    * stream ([[embedPairsShared]] — the all-pairs scan is quadratic by
    * construction, measured 15× wall for 10× vectors before routing),
    * and the mutuality join is unchanged: rank windows over
    * candidate-bounded lists, then a self-join on the reversed pair.
    * Output is the a<b undirected edge list with both ranks. */
  private def mutualKnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val scored =
      if (n <= NeardupRouteMax) {
        // exact directed scores: broadcast NL with the streamed side
        // spread across the pool (the embedNeardupExact economics)
        val par = s.sparkContext.defaultParallelism
        e.select(col("vec_id").as("ia"), col("embedding").as("va"))
          .repartition(par)
          .join(broadcast(
            e.select(col("vec_id").as("ib"), col("embedding").as("vb"))),
            col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"),
            round(call_function("cosine_sim", col("va"), col("vb")), 6)
              .as("sim"))
      } else {
        // past the route cutoff the all-pairs scan is quadratic BY
        // CONSTRUCTION (the ×10 stress measured 15× for 10× vectors), so
        // directed candidates come from the shared clustered pair stream
        // instead — mutual top-5 WITHIN the τ-candidate graph, the
        // documented ANN trade every >cutoff embedding consumer makes
        val p = embedPairsShared(s, d)
        p.select(col("id_a").as("ia"), col("id_b").as("ib"), col("sim"))
          .unionByName(
            p.select(col("id_b").as("ia"), col("id_a").as("ib"), col("sim")))
      }
    val w = Window.partitionBy(col("ia")).orderBy(col("sim").desc, col("ib"))
    // materialize-once (r17 optimization): the mutuality check joins knn
    // against its own reversal — without the cache BOTH join sides re-run
    // the full directed-score pass (the quadratic broadcast-NL scan below
    // the cutoff), doubling the key's dominant cost. The cached relation
    // is top-5-per-vector sized (≤ 5n rows), never the n² score stream.
    val knn = graft.operators.Relational.materializeOnce(s, d, "mutual_knn5")(
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5))
    val rev = knn.select(col("ia").as("rb"), col("ib").as("ra"),
      col("rn").as("rn_back"))
    knn.join(rev, col("ia") === col("ra") && col("ib") === col("rb"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), col("sim"),
        col("rn").cast("bigint").as("rank_ab"),
        col("rn_back").cast("bigint").as("rank_ba"))
  }

  /** IVF cell-balance audit: per-cell population share plus the
    * imbalance factor (cell size ÷ ideal n/k) over the deterministic
    * q_ann_ivf assignment — the index-health number read NEXT TO C101's
    * silhouette: skew ≫ 1 means probe latency is hostage to one hot
    * cell and nprobe tuning lies (a cell holding half the corpus makes
    * nprobe=1 scan n/2, not n/k). Exact integer counts; share and
    * imbalance are single IEEE divisions over a broadcast scalar.
    * Scale shape: one assignment scan, k-row output. */
  private def ivfBalance(s: SparkSession, d: String): DataFrame = {
    val k = 8
    // r17 optimization: the shared materialized seed assignment (the
    // audit's cell is the same argmax); the total and the per-cell
    // counts otherwise each re-ran the n×8 assignment scan.
    val assigned = seedAssigned(s, d).select(col("vec_id"), col("cid").as("cell"))
    val total = assigned.agg(count(lit(1)).as("n_vectors"))
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
      .crossJoin(broadcast(total))
      .select(col("cell"), col("cell_n"), col("n_vectors"),
        (col("cell_n").cast("double") / col("n_vectors")).as("share"),
        (col("cell_n").cast("double") * k / col("n_vectors")).as("imbalance"))
  }

  /** Write-once simhash index layout + probe hash, shared by
    * q_metric_index AND q_metric_transparent (r17 optimization): both
    * keys index the SAME relation at the same bits, so per-query (and
    * per-key) layout rewrites were pure repeated ingest cost — the
    * bucketedJoin write-once doctrine applies verbatim (an index is an
    * amortized artifact; the stress harness evicts the registry so scale
    * receipts still price the build). The registry hands out the layout
    * directory and rebuilds it when the corpus changes. The probe is a
    * 1-row scalar of the same corpus scan, memoized with the layout, and
    * the layout relation is resolved once here, so later queries skip
    * partition discovery and schema inference. None when the corpus has
    * no probe row (incl. the empty corpus, whose layout has no readable
    * footer). */
  private def metricLayoutAndProbe(s: SparkSession, d: String): Option[(DataFrame, Long)] =
    graft.SessionMemo.layout(s, d, "metric_index_layout", "graft_metric_index_") { path =>
      val hashed = Tables.documents(s, d).select(col("doc_id"),
        call_function("simhash64", split(col("text"), " ")).as("h"))
      graft.sources.MetricIndex.writeIndexed(hashed, path, "h", bits = 6)
      val probeRow = hashed.filter(col("doc_id") === 0)
        .select(col("h")).limit(1).collect()
      probeRow.headOption.map(r => (s.read.parquet(path), r.getLong(0)))
    }

  /** Empty result with the metric keys' schema (no probe to search for). */
  private def noMetricHits(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("dist", IntegerType, nullable = false))))

  /** Persistent metric-index search end-to-end (A14 + the README story as
    * ONE oracle-checked path): the corpus's portable SimHash fingerprints
    * are written hive-partitioned by their 6-bit prefix (write-once), and
    * `hash @ probe ≤ 2` is answered through the IN-list PARTITION prune
    * (every partition within prefix-distance 2 — a lower bound of the
    * full distance, so the prune is exact) plus the codegen hamming64
    * verify on surviving rows. The oracle brute-forces the same
    * threshold over the replayed portable hash in DuckDB — proving the
    * pruned scan loses nothing. The probe is a 1-row collected scalar (the
    * bounded-collect pattern the PQ sidecars use). At 100 TB: 12-16
    * prefix bits, the layout pass amortizes across every subsequent
    * threshold/k-NN query — the reference's emtree trade
    * (src/storage/index.rs). */
  private def metricIndexSearch(s: SparkSession, d: String): DataFrame =
    metricLayoutAndProbe(s, d).fold(noMetricHits(s)) { case (layout, probe) =>
      graft.sources.MetricIndex.thresholdQuery(layout, "h", probe, maxDist = 2)
        .select(col("doc_id"),
          call_function("hamming64", col("h"), lit(probe)).cast("int").as("dist"))
    }

  /** The TRANSPARENT metric-index path (r9): the same layout as
    * q_metric_index, but queried with NO index API — a bare
    * `read.parquet(layout).filter(hamming64(h, probe) <= 2)`. The
    * MetricPrefixPruning optimizer rule recovers `bits` from the layout's
    * bits-suffixed prefix column and injects the partition IN-list, so
    * the scan prunes directories exactly like the explicit
    * thresholdQuery — proven by the shared brute-force oracle. This is
    * the engine-native form of the reference's index: the USER writes the
    * predicate; the optimizer finds the index. */
  private def metricTransparent(s: SparkSession, d: String): DataFrame =
    metricLayoutAndProbe(s, d).fold(noMetricHits(s)) { case (layout, probe) =>
      layout
        .filter(call_function("hamming64", col("h"), lit(probe)) <= 2)
        .select(col("doc_id"),
          call_function("hamming64", col("h"), lit(probe)).cast("int").as("dist"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_metric_transparent" -> metricTransparent _,
    "q_metric_index" -> metricIndexSearch _,
    "q_ivf_balance" -> ivfBalance _,
    "q_mutual_knn" -> mutualKnn _,
    "q_matryoshka_recall" -> matryoshkaRecall _,
    "q_silhouette" -> silhouette _,
    "q_ivf_recall_curve" -> ivfRecallCurve _,
    "q_mmr" -> mmr _,
    "q_centroid_sim" -> centroidSimMatrix _,
    "q_embed_outliers" -> embedOutliers _,
    "q_knn_graph_degree" -> knnGraphDegree _,
    "q_embed_drift" -> embedDrift _,
    "q_hard_negatives" -> hardNegatives _,
    "q_knn_mrr" -> knnMrr _,
    "q_embed_stats" -> embedStats _,
    "q_hamming_threshold" -> hammingThreshold _,
    "q_hamming_knn" -> hammingKnn _,
    "q_phash_search" -> phashSearch _,
    "q_hamming128" -> hamming128Threshold _,
    "q_knn_cosine" -> knnCosine _,
    "q_knn_batch" -> knnBatch _,
    "q_embed_neardup" -> embedNeardup _,
    "q_embed_components" -> embedComponents _,
    "q_semdedup" -> semDedup _,
    "q_ann_ivf" -> annIvf _,
    "q_ann_rerank" -> annRerank _,
    "q_diversity_select" -> diversitySelect _,
    "q_cluster_topics" -> clusterTopics _,
    "q_embed_decontaminate" -> embedDecontaminate _,
    "q_knn_label" -> knnLabel _,
    "q_embed_centroid" -> embedCentroid _,
    "q_embed_dispersion" -> embedDispersion _,
    "q_embed_norm" -> embedNorm _,
    "q_embed_normalize" -> embedNormalize _,
    "q_quantize" -> quantize _,
    "q_pair_histogram" -> pairHistogram _,
    "q_knn_q8" -> knnQ8 _
  )

  private[graft] val fpSql =
    """SELECT doc_id,
      | list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
      |FROM documents""".stripMargin

  /** Shared oracle CTE: the exact cosine pair relation at the 0.4
    * threshold — which IS q_embed_neardup's output below the route cutoff
    * (driver SFs never exceed it), and the input of the components /
    * decontamination replays. Ends with `pairs(id_a, id_b, sim)`. */
  private[graft] val cosPairCtes =
    """ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cp AS (
      | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
      | FROM ev a JOIN ev b ON a.vec_id < b.vec_id),
      |pairs AS (SELECT id_a, id_b, sim FROM cp WHERE sim >= 0.4)""".stripMargin

  val oracles: Map[String, String] = Map(
    // same brute-force replay as q_metric_index: the OPTIMIZER-pruned
    // bare-filter path must lose nothing either
    "q_metric_transparent" ->
      s"""WITH ${Dedup.simhashCtes},
         |d AS (SELECT doc_id,
         |   CAST(bit_count(xor(simhash,
         |     (SELECT simhash FROM sh64 WHERE doc_id = 0))) AS INTEGER) AS dist
         |  FROM sh64)
         |SELECT doc_id, dist FROM d WHERE dist <= 2""".stripMargin,
    // brute-force replay over the portable hash: proves the partition
    // prune is lossless (prefix distance lower-bounds full distance)
    "q_metric_index" ->
      s"""WITH ${Dedup.simhashCtes},
         |d AS (SELECT doc_id,
         |   CAST(bit_count(xor(simhash,
         |     (SELECT simhash FROM sh64 WHERE doc_id = 0))) AS INTEGER) AS dist
         |  FROM sh64)
         |SELECT doc_id, dist FROM d WHERE dist <= 2""".stripMargin,
    "q_ivf_balance" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (
        | SELECT e.vec_id, c.cid,
        |  list_cosine_similarity(e.v, c.cv) AS csim
        | FROM e CROSS JOIN c),
        |a AS (
        | SELECT vec_id, cid AS cell FROM (
        |  SELECT *, row_number() OVER (
        |   PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
        |  FROM scored) WHERE rn = 1),
        |tot AS (SELECT count(*) AS n_vectors FROM a)
        |SELECT cell, count(*) AS cell_n, n_vectors,
        | CAST(count(*) AS DOUBLE) / n_vectors AS share,
        | CAST(count(*) AS DOUBLE) * 8 / n_vectors AS imbalance
        |FROM a CROSS JOIN tot GROUP BY cell, n_vectors""".stripMargin,
    // VALID BELOW NeardupRouteMax ONLY (r8 ADVICE): this replay is the
    // exact all-pairs construction, which is the query's route for ≤8192
    // vectors — i.e. at every oracle gate scale. Past the cutoff the
    // query switches to mutual top-5 WITHIN the clustered τ-candidate
    // graph (the documented ANN trade), which an exact-equality oracle
    // cannot grade; that branch is exercised by the ×10/×100 stress
    // receipts with row-count structure checks and by CutRecallSpec's
    // recall floor on the shared candidate stream instead.
    "q_mutual_knn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        | SELECT a.vec_id AS ia, b.vec_id AS ib,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        | FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |knn AS (
        | SELECT * FROM (SELECT *, row_number() OVER (
        |   PARTITION BY ia ORDER BY sim DESC, ib) AS rn FROM scored)
        | WHERE rn <= 5)
        |SELECT f.ia, f.ib, f.sim, f.rn AS rank_ab, r.rn AS rank_ba
        |FROM knn f JOIN knn r ON f.ia = r.ib AND f.ib = r.ia
        |WHERE f.ia < f.ib""".stripMargin,
    "q_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
        |dims AS (SELECT unnest([8,16,32,64]) AS trunc_dim),
        |scored AS (
        | SELECT p.probe_id, e.vec_id, d.trunc_dim,
        |  round(list_cosine_similarity(e.v[1:d.trunc_dim],
        |    p.pv[1:d.trunc_dim]), 6) AS sim
        | FROM e CROSS JOIN p CROSS JOIN dims d),
        |top AS (
        | SELECT * FROM (SELECT *, row_number() OVER (
        |   PARTITION BY probe_id, trunc_dim ORDER BY sim DESC, vec_id) AS rn
        |  FROM scored) WHERE rn <= 10),
        |fulltop AS (SELECT probe_id, vec_id FROM top WHERE trunc_dim = 64),
        |hits AS (
        | SELECT t.trunc_dim, count(*) AS h
        | FROM top t JOIN fulltop f
        |   ON t.probe_id = f.probe_id AND t.vec_id = f.vec_id
        | WHERE t.trunc_dim <> 64 GROUP BY 1),
        |np AS (SELECT count(*) AS n FROM p)
        |SELECT trunc_dim, n AS n_probes,
        | CAST(h AS DOUBLE) / (n * 10) AS recall10
        |FROM hits, np""".stripMargin,
    "q_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (
        | SELECT e.vec_id, c.cid,
        |  round(list_cosine_similarity(e.v, c.cv), 6) AS csim
        | FROM e CROSS JOIN c),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn FROM scored),
        |ab AS (
        | SELECT vec_id,
        |  max(CASE WHEN rn = 1 THEN csim END) AS a_sim,
        |  max(CASE WHEN rn = 1 THEN cid END) AS cell,
        |  max(CASE WHEN rn = 2 THEN csim END) AS b_sim
        | FROM r WHERE rn <= 2 GROUP BY 1),
        |s AS (
        | SELECT cell,
        |  CASE WHEN greatest(1 - a_sim, 1 - b_sim) = 0 THEN 0.0
        |   ELSE round((a_sim - b_sim) / greatest(1 - a_sim, 1 - b_sim), 6)
        |  END AS sil
        | FROM ab)
        |SELECT cell, count(*) AS n,
        | CAST(sum(CAST(sil AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS mean_sil
        |FROM s GROUP BY 1""".stripMargin,
    "q_ivf_recall_curve" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (
        | SELECT e.vec_id, e.v, c.cid,
        |  list_cosine_similarity(e.v, c.cv) AS csim
        | FROM e CROSS JOIN c),
        |a AS (
        | SELECT vec_id, v, cid FROM (
        |  SELECT *, row_number() OVER (
        |   PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
        |  FROM scored) WHERE rn = 1),
        |pv AS (SELECT v AS pv FROM e WHERE vec_id = 0),
        |cr AS (
        | SELECT cid, row_number() OVER (ORDER BY
        |  list_cosine_similarity(cv, (SELECT pv FROM pv)) DESC, cid) AS crank
        | FROM c),
        |ex AS (SELECT vec_id FROM (
        | SELECT vec_id,
        |  round(list_cosine_similarity(v, (SELECT pv FROM pv)), 6) AS sim
        | FROM e ORDER BY sim DESC, vec_id LIMIT 10)),
        |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
        |cand AS (
        | SELECT np.nprobe, a.vec_id, a.v
        | FROM a JOIN cr ON a.cid = cr.cid CROSS JOIN np
        | WHERE cr.crank <= np.nprobe),
        |ap AS (SELECT nprobe, vec_id FROM (
        | SELECT nprobe, vec_id, row_number() OVER (PARTITION BY nprobe
        |  ORDER BY round(list_cosine_similarity(v, (SELECT pv FROM pv)), 6)
        |   DESC, vec_id) AS rn
        | FROM cand) WHERE rn <= 10),
        |nc AS (SELECT nprobe, count(*) AS n_candidates FROM cand GROUP BY 1),
        |h AS (SELECT nprobe, count(*) AS n_hits FROM ap
        |  WHERE vec_id IN (SELECT vec_id FROM ex) GROUP BY 1)
        |SELECT CAST(h.nprobe AS BIGINT) AS nprobe, n_candidates, n_hits,
        | CAST(n_hits AS DOUBLE) / 10 AS recall_at_10
        |FROM h JOIN nc ON h.nprobe = nc.nprobe""".stripMargin,
    "q_mmr" ->
      s"""WITH cand AS MATERIALIZED (
         | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
         |    WHERE vec_id = 0)), 6) AS simq
         | FROM embeddings WHERE vec_id != 0
         | ORDER BY simq DESC, vec_id LIMIT 50),
         |s1 AS (
         | SELECT vec_id, v, simq, 1 AS rank FROM cand
         | ORDER BY simq DESC, vec_id LIMIT 1),
         |$mmrSteps
         |SELECT vec_id, rank, simq FROM s10""".stripMargin,
    // Full replay: below the route cutoff the near-dup output is EXACT,
    // so the brute-force relation is the oracle (same doctrine as
    // q_minhash_lsh: when the operator guarantees the exact pair set,
    // an independent engine can re-derive it).
    "q_embed_neardup" ->
      s"""WITH $cosPairCtes
         |SELECT id_a, id_b, sim FROM pairs""".stripMargin,
    "q_embed_components" ->
      s"""WITH RECURSIVE $cosPairCtes,
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst)
         |SELECT id AS vec_id, min(comp) AS comp FROM walk GROUP BY id""".stripMargin,
    "q_centroid_sim" ->
      """WITH x AS (
        | SELECT label, generate_subscripts(embedding, 1) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS v
        | FROM embeddings),
        |cent AS (
        | SELECT label, pos,
        |  CAST(sum(CAST(floor(v * 1048576 + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |    AS DOUBLE) / count(*) / CAST(1048576 AS DOUBLE) AS c
        | FROM x GROUP BY label, pos),
        |p AS (
        | SELECT a.label AS label_a, b.label AS label_b,
        |  sum(CAST(a.c * b.c AS DECIMAL(28,12))) AS sab,
        |  sum(CAST(a.c * a.c AS DECIMAL(28,12))) AS saa,
        |  sum(CAST(b.c * b.c AS DECIMAL(28,12))) AS sbb
        | FROM cent a JOIN cent b ON a.pos = b.pos
        | WHERE a.label < b.label GROUP BY 1, 2)
        |SELECT label_a, label_b,
        | round(CAST(sab AS DOUBLE) /
        |  (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE))), 6) AS csim
        |FROM p""".stripMargin,
    "q_embed_outliers" ->
      """WITH x AS (
        | SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS v
        | FROM embeddings),
        |cent AS (
        | SELECT label, pos,
        |  CAST(sum(CAST(floor(v * 1048576 + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |    AS DOUBLE) / count(*) / CAST(1048576 AS DOUBLE) AS c
        | FROM x GROUP BY label, pos),
        |sums AS (
        | SELECT vec_id, x.label AS label,
        |  sum(CAST(x.v * c AS DECIMAL(28,12))) AS svc,
        |  sum(CAST(x.v * x.v AS DECIMAL(28,12))) AS svv,
        |  sum(CAST(c * c AS DECIMAL(28,12))) AS scc
        | FROM x JOIN cent ON x.label = cent.label AND x.pos = cent.pos
        | GROUP BY 1, 2),
        |sc AS (SELECT vec_id, label,
        |  round(CAST(svc AS DOUBLE) /
        |   (sqrt(CAST(svv AS DOUBLE)) * sqrt(CAST(scc AS DOUBLE))), 6) AS csim
        | FROM sums),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY label ORDER BY csim, vec_id) AS rnk,
        |  count(*) OVER (PARTITION BY label) AS n_label FROM sc)
        |SELECT vec_id, label, csim, CAST(rnk AS INTEGER) AS rnk,
        | rnk <= ceil(n_label * CAST(0.05 AS DOUBLE)) AS outlier
        |FROM r""".stripMargin,
    "q_knn_graph_degree" ->
      s"""WITH $cosPairCtes,
         |deg AS (SELECT vec_id, count(*) AS degree FROM (
         |  SELECT id_a AS vec_id FROM pairs
         |  UNION ALL SELECT id_b AS vec_id FROM pairs) GROUP BY vec_id)
         |SELECT coalesce(degree, CAST(0 AS BIGINT)) AS degree,
         | count(*) AS n_vecs
         |FROM embeddings e LEFT JOIN deg USING (vec_id)
         |GROUP BY 1""".stripMargin,
    // Contract oracle: counts replay from the parquet; the contract
    // columns are the algebraic guarantees (see semDedup's doc) asserted
    // literally — sums CAST to BIGINT (DuckDB sums integers to HUGEINT).
    "q_semdedup" ->
      """SELECT count(*) AS n_corpus,
        | CAST(sum(CASE WHEN vec_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_planted,
        | CAST(sum(CASE WHEN vec_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS clones_same_cluster,
        | CAST(sum(CASE WHEN vec_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS clones_pruned,
        | true AS contract_ok
        |FROM embeddings HAVING count(*) > 0""".stripMargin,
    "q_embed_decontaminate" ->
      s"""WITH $cosPairCtes,
         |b AS (SELECT id_a, id_b,
         |  ((id_a % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 AS ba,
         |  ((id_b % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 AS bb
         | FROM pairs)
         |SELECT vec_id, count(*) AS n_contaminated FROM (
         | SELECT id_a AS vec_id FROM b WHERE ba >= 90 AND bb < 90
         | UNION ALL
         | SELECT id_b AS vec_id FROM b WHERE bb >= 90 AND ba < 90)
         |GROUP BY vec_id""".stripMargin,
    // Full replay: the simhash became engine-portable (Dedup.simhashCtes),
    // so the README-story search is checked end to end — fingerprints,
    // xor+popcount distance, threshold, and ordering keys.
    "q_phash_search" ->
      s"""WITH ${Dedup.simhashCtes},
         |d AS (SELECT doc_id,
         |   CAST(bit_count(xor(simhash,
         |     (SELECT simhash FROM sh64 WHERE doc_id = 0))) AS INTEGER) AS dist
         |  FROM sh64)
         |SELECT doc_id, dist FROM d WHERE dist < 16""".stripMargin,
    "q_hamming_threshold" ->
      s"""WITH fp AS ($fpSql)
         |SELECT doc_id,
         | CAST(bit_count(xor(fp, (SELECT fp FROM fp WHERE doc_id = 0))) AS INTEGER) AS dist
         |FROM fp
         |WHERE bit_count(xor(fp, (SELECT fp FROM fp WHERE doc_id = 0))) < 10""".stripMargin,
    "q_hamming_knn" ->
      s"""WITH fp AS ($fpSql)
         |SELECT doc_id,
         | CAST(bit_count(xor(fp, (SELECT fp FROM fp WHERE doc_id = 0))) AS INTEGER) AS dist
         |FROM fp ORDER BY dist, doc_id LIMIT 10""".stripMargin,
    "q_hamming128" ->
      """WITH h AS (SELECT doc_id, unhex(md5(text)) AS h128 FROM documents)
        |SELECT doc_id,
        | CAST(bit_count(xor(CAST(h128 AS BIT),
        |   CAST((SELECT h128 FROM h WHERE doc_id = 0) AS BIT))) AS INTEGER) AS dist
        |FROM h
        |WHERE bit_count(xor(CAST(h128 AS BIT),
        |  CAST((SELECT h128 FROM h WHERE doc_id = 0) AS BIT))) < 54""".stripMargin,
    "q_embed_drift" ->
      """WITH x0 AS (
        | SELECT label, vec_id % 2 AS half,
        |  unnest(list_transform(range(len(embedding)),
        |    i -> struct_pack(pos := i, xv := CAST(embedding[i+1] AS DOUBLE)))) AS u
        | FROM embeddings),
        |x AS (SELECT label, half, CAST(u.pos AS INTEGER) AS pos,
        |  CAST(floor(u.xv * 1024 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq FROM x0),
        |pp AS (
        | SELECT label, pos,
        |  sum(CASE WHEN half = 0 THEN vq ELSE 0 END) AS s1a,
        |  sum(CASE WHEN half = 1 THEN vq ELSE 0 END) AS s1b,
        |  sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS na,
        |  sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS nb
        | FROM x GROUP BY label, pos),
        |d AS (
        | SELECT label, na, nb,
        |  CAST(s1a AS HUGEINT) * nb - CAST(s1b AS HUGEINT) * na AS dq
        | FROM pp),
        |g AS (
        | SELECT label, max(na) AS na, max(nb) AS nb, sum(dq * dq) AS drift_q2
        | FROM d GROUP BY label)
        |SELECT label, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        | round(sqrt(CAST(CAST(drift_q2 AS VARCHAR) AS DOUBLE)) /
        |   (na * nb * CAST(1024 AS DOUBLE)), 6) AS centroid_shift
        |FROM g WHERE na > 0 AND nb > 0""".stripMargin,
    "q_hard_negatives" ->
      """WITH a AS (
        | SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av, label AS alabel
        | FROM embeddings WHERE vec_id < 8),
        |s AS (
        | SELECT anchor_id, e.vec_id,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), av) AS sim_raw
        | FROM embeddings e CROSS JOIN a
        | WHERE e.vec_id != anchor_id AND e.label != alabel),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY anchor_id ORDER BY sim_raw DESC, vec_id) AS rn FROM s)
        |SELECT anchor_id, CAST(rn AS INTEGER) AS rnk, vec_id AS neg_id,
        | round(sim_raw, 6) AS sim
        |FROM r WHERE rn <= 5""".stripMargin,
    "q_knn_mrr" ->
      """WITH a AS (
        | SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av, label AS alabel
        | FROM embeddings WHERE vec_id < 50),
        |s AS (
        | SELECT anchor_id, alabel, e.label,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), av) AS sim_raw,
        |  e.vec_id
        | FROM embeddings e CROSS JOIN a WHERE e.vec_id != anchor_id),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY anchor_id ORDER BY sim_raw DESC, vec_id) AS rn FROM s),
        |f AS (SELECT anchor_id, min(rn) AS fr FROM r
        |      WHERE rn <= 10 AND label = alabel GROUP BY anchor_id)
        |SELECT count(*) AS n_anchors, count(fr) AS hits_at_10,
        | round(sum(coalesce(CAST(1 AS DOUBLE) / fr, CAST(0 AS DOUBLE))) / count(*), 6) AS mrr
        |FROM a LEFT JOIN f USING (anchor_id)""".stripMargin,
    "q_knn_batch" ->
      """WITH p AS (
        | SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        | FROM embeddings WHERE vec_id < 8),
        |s AS (
        | SELECT probe_id, e.vec_id,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), pv) AS sim_raw
        | FROM embeddings e CROSS JOIN p WHERE e.vec_id != probe_id),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY probe_id ORDER BY sim_raw DESC, vec_id) AS rn FROM s)
        |SELECT probe_id, vec_id, round(sim_raw, 6) AS sim
        |FROM r WHERE rn <= 3""".stripMargin,
    "q_knn_cosine" ->
      """SELECT vec_id,
        | round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_embed_stats" ->
      """WITH x0 AS (
        | SELECT unnest(list_transform(range(len(embedding)),
        |   i -> struct_pack(dim := i, xv := CAST(embedding[i+1] AS DOUBLE)))) AS u
        | FROM embeddings),
        |x AS (SELECT CAST(u.dim AS INTEGER) AS dim, u.xv AS xv FROM x0),
        |a AS (
        | SELECT dim, count(*) AS n,
        |  sum(CAST(xv AS DECIMAL(28,8))) AS sx,
        |  sum(CAST(xv * xv AS DECIMAL(28,8))) AS sxx
        | FROM x GROUP BY dim)
        |SELECT dim, round(CAST(sx AS DOUBLE) / n, 6) AS mu,
        | round(sqrt((CAST(sxx AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6) AS sigma
        |FROM a""".stripMargin,
    // q_ann_ivf is FULLY deterministic (centroids are data rows vec_id<8,
    // assignment is an argmax with a fixed tie-break, sims are rounded), so
    // unlike the KMeans-backed indexes it gets a complete replay oracle:
    // DuckDB re-derives assignment, probe cell, and the in-cell top-10.
    "q_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (
        | SELECT e.vec_id, e.v, c.cid,
        |  list_cosine_similarity(e.v, c.cv) AS csim
        | FROM e CROSS JOIN c),
        |a AS (
        | SELECT vec_id, v, cid FROM (
        |  SELECT *, row_number() OVER (
        |   PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
        |  FROM scored) WHERE rn = 1),
        |p AS (SELECT cid AS pcid, v AS pv FROM a WHERE vec_id = 0)
        |SELECT a.vec_id,
        | round(list_cosine_similarity(a.v, p.pv), 6) AS sim
        |FROM a, p WHERE a.cid = p.pcid
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,
    "q_diversity_select" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (
        | SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS csim
        | FROM e CROSS JOIN c),
        |a AS (
        | SELECT vec_id, cid, round(csim, 6) AS proto FROM (
        |  SELECT *, row_number() OVER (
        |   PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
        |  FROM scored) WHERE rn = 1)
        |SELECT cid, rank, vec_id, proto FROM (
        | SELECT cid, vec_id, proto, row_number() OVER (
        |  PARTITION BY cid ORDER BY proto DESC, vec_id ASC) AS rank
        | FROM a) WHERE rank <= 5
        |ORDER BY cid, rank""".stripMargin,
    "q_cluster_topics" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (
        | SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS csim
        | FROM e CROSS JOIN c),
        |a AS (
        | SELECT vec_id, cid AS cell FROM (
        |  SELECT *, row_number() OVER (
        |   PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
        |  FROM scored) WHERE rn = 1),
        |toks AS (
        | SELECT cell, unnest(string_split(text, ' ')) AS tok
        | FROM documents JOIN a ON doc_id = vec_id),
        |inc AS (SELECT cell, tok, count(*) AS cnt_c FROM toks GROUP BY 1, 2),
        |totc AS (SELECT cell, count(*) AS tot_c FROM toks GROUP BY 1),
        |alltok AS (SELECT tok, count(*) AS cnt_all FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS tot_all FROM toks),
        |l AS (
        | SELECT i.cell, i.tok, i.cnt_c,
        |  round(CAST(i.cnt_c * tot_all AS DOUBLE) / (cnt_all * tot_c), 6) AS lift
        | FROM inc i JOIN totc USING (cell) JOIN alltok USING (tok) CROSS JOIN tot)
        |SELECT cell, CAST(rn AS INTEGER) AS rn, tok, cnt_c, lift FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY cell ORDER BY lift DESC, tok) AS rn FROM l)
        |WHERE rn <= 3""".stripMargin,
    // full replay of the two-stage serving path: same deterministic
    // assignment as q_ann_ivf, probe's top-2 cells, exact rerank of the
    // shortlist, in_exact flags vs the brute-force top-10
    "q_ann_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (
        | SELECT e.vec_id, e.v, c.cid,
        |  list_cosine_similarity(e.v, c.cv) AS csim
        | FROM e CROSS JOIN c),
        |a AS (
        | SELECT vec_id, v, cid FROM (
        |  SELECT *, row_number() OVER (
        |   PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
        |  FROM scored) WHERE rn = 1),
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
        |pc AS (
        | SELECT cid FROM c, p
        | ORDER BY list_cosine_similarity(c.cv, p.pv) DESC, cid LIMIT 2),
        |rer AS (
        | SELECT a.vec_id, round(list_cosine_similarity(a.v, p.pv), 6) AS sim
        | FROM a, p WHERE a.cid IN (SELECT cid FROM pc)
        | ORDER BY sim DESC, a.vec_id LIMIT 10),
        |ex AS (
        | SELECT e.vec_id FROM e, p
        | ORDER BY round(list_cosine_similarity(e.v, p.pv), 6) DESC, e.vec_id
        | LIMIT 10)
        |SELECT r.vec_id, r.sim,
        | (r.vec_id IN (SELECT vec_id FROM ex)) AS in_exact
        |FROM rer r""".stripMargin,
    "q_knn_q8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127 AS s FROM e),
        |c AS (SELECT vec_id, s,
        |  CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |    ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS code FROM q),
        |p AS (SELECT s AS ps, code AS pcode FROM c WHERE vec_id = 0)
        |SELECT vec_id, list_dot_product(code, pcode) * s * ps AS score
        |FROM c, p ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "q_pair_histogram" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |           WHERE ((vec_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 < 20),
        |q AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127 AS s FROM e),
        |c AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |  ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS code FROM q)
        |SELECT CAST(floor(list_dot_product(a.code, b.code) / 10000.0) AS BIGINT)
        |    AS bin,
        |  count(*) AS n_pairs
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |GROUP BY 1""".stripMargin,
    "q_quantize" ->
      """WITH s AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127 AS scale
        | FROM embeddings)
        |SELECT vec_id, scale,
        | CAST(CASE WHEN scale = 0 THEN 0
        |   ELSE list_sum(list_transform(v, x -> floor(x / scale + 0.5)))
        | END AS BIGINT) AS q_sum
        |FROM s""".stripMargin,
    "q_knn_label" ->
      """WITH p AS (
        | SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv,
        |  label AS true_label
        | FROM embeddings WHERE vec_id < 50),
        |s AS (
        | SELECT probe_id, true_label, e.label, e.vec_id,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), pv) AS sim
        | FROM embeddings e CROSS JOIN p WHERE e.vec_id >= 50),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn FROM s),
        |v AS (SELECT probe_id, true_label, label, count(*) AS votes
        | FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
        |b AS (SELECT probe_id, true_label, label AS pred_label,
        |  row_number() OVER (
        |   PARTITION BY probe_id ORDER BY votes DESC, label) AS rn2 FROM v)
        |SELECT probe_id, true_label, pred_label FROM b WHERE rn2 = 1""".stripMargin,
    "q_embed_centroid" ->
      """WITH u AS (
        | SELECT label, unnest(embedding) AS v,
        |  generate_subscripts(embedding, 1) AS i
        | FROM embeddings)
        |SELECT label, CAST(i - 1 AS INTEGER) AS pos,
        | CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q,
        | count(*) AS n
        |FROM u GROUP BY label, pos""".stripMargin,
    "q_embed_dispersion" ->
      """WITH u AS (
        | SELECT label, generate_subscripts(embedding, 1) AS i,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS vq
        | FROM embeddings),
        |p AS (
        | SELECT label, i, CAST(sum(vq) AS BIGINT) AS s1,
        |  CAST(sum(vq * vq) AS BIGINT) AS s2, count(*) AS n
        | FROM u GROUP BY label, i)
        |SELECT label, CAST(max(n) AS BIGINT) AS n,
        | CAST(sum(n * s2 - s1 * s1) AS BIGINT) AS sse_n_q2,
        | CAST(sum(n * s2 - s1 * s1) AS BIGINT) * 1.0
        |   / (max(n) * max(n) * 1048576) AS msd
        |FROM p GROUP BY label""".stripMargin,
    "q_embed_norm" ->
      """SELECT vec_id,
        | round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |   x -> x * x))), 6) AS nrm
        |FROM embeddings""".stripMargin,
    "q_embed_normalize" ->
      """WITH n AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        | FROM embeddings)
        |SELECT vec_id,
        | round(CASE WHEN nrm > 0 THEN e[1] / nrm ELSE 0.0 END, 6) AS u_first,
        | round(CASE WHEN nrm > 0 THEN e[len(e)] / nrm ELSE 0.0 END, 6) AS u_last
        |FROM n""".stripMargin
  )
}
