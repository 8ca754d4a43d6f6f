package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators for training-data pipelines: exact (content
  * hash), token-shingle Jaccard (inverted index), MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - Exact dedup groups by `xxhash64(text)`, never by the text itself: the
  *    shuffle carries 8-byte keys + doc ids, not the corpus.
  *  - Jaccard near-dup uses an inverted shingle index (explode → self-join
  *    on shingle → count intersections). Shuffle volume is linear in total
  *    shingle count; the quadratic blowup of frequent shingles is bounded by
  *    a document-frequency cut (`WordMaxDf`) — exact on the test corpus
  *    (no shingle reaches the cut), an explicit recall knob at scale.
  *  - MinHash+LSH is the sub-quadratic scale path: 64 hashes → 16 bands of
  *    4 → candidates only within band buckets, then exact-Jaccard verify.
  *    Candidate volume is |bands|·|docs| rows of (band, bucket, id).
  *  - All shingling/hashing is per-row higher-order-function work computed
  *    at scan time — no UDFs, no driver round-trips.
  */
object Dedup {

  /** Target false-positive rate for the incremental-dedup bloom prefilter. */
  val BloomFpp = 0.03

  /** Optimal bloom bit budget for `n` items at false-positive rate `p`:
    * m = ceil(n · ln(1/p) / ln²2) — the standard sizing identity. Floored
    * at 64 bits so degenerate corpora still build a valid sketch. */
  def bloomBits(n: Long, p: Double): Long =
    math.max(64L,
      math.ceil(n * math.log(1.0 / p) / (math.log(2.0) * math.log(2.0))).toLong)

  /** Distinct 3-word shingles of the whitespace-tokenized text (native
    * codegen kernel — see functions.WordShingles). */
  private def shingleCol: Column = call_function("word_shingles", col("text"), lit(3))

  /** Exact dedup: one row per distinct content, keeper = min doc_id.
    * Groups on the 64-bit content hash so the shuffle never carries text. */
  private def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(xxhash64(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Document-frequency cut for the word-shingle inverted index. A 3-word
    * boilerplate shingle ("all rights reserved") present in 1M docs makes
    * the postings self-join emit ~5·10¹¹ candidate rows — df-pruning is what
    * keeps candidate volume linear at 100 TB. Like the char-ngram path
    * (NgramMaxDf below), the cut is part of the operator's DEFINED
    * semantics: shingles with df > WordMaxDf are dropped from both the
    * index and the set sizes, identically in the DuckDB oracle. At test
    * scale (500-5000 docs) no synthetic shingle reaches 1000 docs, so the
    * cut is exercised structurally but changes nothing. */
  val WordMaxDf = 1000

  /** Inverted-index Jaccard: all (id_a, id_b, raw_j) pairs with raw
    * set-Jaccard >= threshold over `shingled` = (doc_id, sh: array<string>),
    * where Jaccard is defined over df-pruned shingle sets (df <= maxDf).
    * Postings carry `xxhash64(shingle)` (8 bytes), not the shingle string:
    * the self-join shuffles and compares longs. 64-bit collisions among
    * ~1e5 distinct shingles are ~1e-9 — intersection counts equal the
    * string-exact oracle's in practice. Shared with operators.Pipeline. */
  def jaccardPairs(shingled: DataFrame, threshold: Double,
      maxDf: Int = WordMaxDf, name: String = "shingled"): DataFrame =
    pairsAllOf(shingled, maxDf, name)
      .filter(col("raw_j") >= threshold) // raw value (oracle-identical)
      .select(col("id_a"), col("id_b"), col("raw_j"))

  /** Registry-shared pair relation (r17 optimization): the generic twin of
    * [[wordPairsAll]] for consumers that hand in their OWN shingled
    * relation (the neardup_jaccard TVF, the pipeline's filtered corpus,
    * the char-5-gram postings). The postings self-join + intersection
    * count is the one expensive intermediate behind every such query;
    * thresholds are downstream filters, so the entry is keyed by the
    * shingled relation's snapshot, with `name` (one per consumer) and
    * maxDf in the artifact name. Same RDD doctrine as [[wordPairsAll]]:
    * nothing persist()ed, later consumers reuse the computed shuffle
    * files as skipped stages, the stress harness evicts the registry so
    * scale receipts still price the build. */
  private def pairsAllOf(shingled: DataFrame, maxDf: Int, name: String): DataFrame = {
    val (rdd, schema) = graft.SessionMemo.of(shingled, s"jacc_pairs_${name}_$maxDf") {
      val df = pairsAllFromPostings(cutPostings(shingled, maxDf))
      (df.rdd, df.schema)
    }
    shingled.sparkSession.createDataFrame(rdd, schema)
  }

  /** The word-3-shingle df-cut postings every word-level similarity
    * operator shares — q_dedup_jaccard, q_dedup_editdist's candidate
    * generation, q_containment, and the components pair graph all consume
    * the SAME (doc_id, n, s) relation (thresholds differ downstream; the
    * postings don't). Memoized per (session, corpus) as a computed RDD:
    * the first consumer pays the two window exchanges, later consumers'
    * jobs hold the same RDD object and reuse its shuffle files as skipped
    * stages (the registry doctrine — nothing persist()ed, dropping the
    * entry frees the files to the ContextCleaner). */
  private[graft] def wordPostings(s: SparkSession, d: String): DataFrame = {
    val (rdd, schema) = graft.SessionMemo.of(s, d, "word3_postings") {
      val df = cutPostings(
        Tables.documents(s, d).select(col("doc_id"), shingleCol.as("sh")), WordMaxDf)
      (df.rdd, df.schema)
    }
    s.createDataFrame(rdd, schema)
  }

  /** The fully-aggregated word-3 pair relation (id_a, id_b, na, nb,
    * inter, raw_j) — the ONE expensive intermediate (postings self-join +
    * intersection count) behind Jaccard dedup, containment, the
    * edit-distance candidate set, and the components graph. Thresholds
    * differ only as DOWNSTREAM filters, so the registry shares the
    * aggregation itself (same RDD doctrine as [[wordPostings]]): the
    * first consumer runs the join + partial-combined count; every later
    * query filters a skipped-stage relation. The pair volume is df-cut
    * bounded, so the shared intermediate is no bigger than what each
    * query built for itself before. */
  private[graft] def wordPairsAll(s: SparkSession, d: String): DataFrame = {
    val (rdd, schema) = graft.SessionMemo.of(s, d, "word3_pairs") {
      val inv = wordPostings(s, d)
      val df = inv.as("a")
        .join(inv.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("raw_j",
          col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
      (df.rdd, df.schema)
    }
    s.createDataFrame(rdd, schema)
  }

  /** df-cut postings (doc_id, n, s) from (doc_id, sh: array<string>):
    * the shared inverted-index front half of every set-similarity
    * operator. Postings carry `xxhash64(shingle)` (8 bytes), not the
    * shingle string: self-joins shuffle and compare longs.
    *
    * df cut as a window count over the postings themselves (one shuffle by
    * shingle), then attach each doc's POST-CUT set size with a second
    * window pass (one shuffle by doc) — so the similarity denominator is
    * available right at the pair aggregation. Two exchanges total; the
    * groupBy-df + re-join formulation costs a third (measured ~15% slower
    * at sf0.1). */
  def cutPostings(shingled: DataFrame, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    shingled
      .select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= maxDf)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("n"), col("s"))
  }

  /** The pair-generation core over a postings relation (doc_id, n, s):
    * self-join on the posting hash, count intersections, Jaccard from the
    * carried sizes. Shared by jaccardPairs and dedupNgram (whose postings
    * are df-cut first). */
  def pairsFromPostings(inv: DataFrame, threshold: Double): DataFrame =
    pairsAllFromPostings(inv)
      .filter(col("raw_j") >= threshold) // raw value (oracle-identical)
      .select(col("id_a"), col("id_b"), col("raw_j"))

  /** The unfiltered pair aggregation (id_a, id_b, na, nb, inter, raw_j) —
    * [[pairsFromPostings]] minus the threshold, so the registry can share
    * ONE build across different downstream thresholds. */
  private def pairsAllFromPostings(inv: DataFrame): DataFrame =
    inv.as("a")
      .join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("raw_j",
        col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))

  /** All document pairs with 3-shingle Jaccard >= 0.5, via inverted index.
    * The jaccard column is the RAW double: both engines compute
    * `inter / (na + nb − inter)` with the identical op sequence, so the
    * values are bitwise equal — rounding would only reintroduce the
    * Spark-vs-DuckDB round-semantics mismatch at .xxxx5 shortest-reprs
    * (e.g. 81/160 = 0.50625). */
  private def dedupJaccard(s: SparkSession, d: String): DataFrame =
    wordPairsAll(s, d).filter(col("raw_j") >= 0.5)
      .select(col("id_a"), col("id_b"), col("raw_j").as("jaccard"))

  /** Edit-distance fuzzy dedup: near-dup pairs VERIFIED by relative
    * Levenshtein distance ≤ 0.2 — the character-level confirmation pass
    * for pairs the token-set view can't distinguish (token-set Jaccard is
    * order-blind; edit distance is not). Quadratic-cost verification is
    * affordable only because candidates come from the same bounded
    * inverted-index generation as every other near-dup family (here at a
    * permissive 0.3 so the edit-distance cut does the deciding) — never
    * all-pairs. Texts join back onto the candidate relation only (two
    * AQE-decided joins of pair-graph size); rel_dist is int/int with one
    * division, bitwise cross-engine (Spark and DuckDB agree on
    * levenshtein's definition; spot-checked equal). */
  private def dedupEditDist(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cand = wordPairsAll(s, d).filter(col("raw_j") >= 0.3)
      .select(col("id_a"), col("id_b"), col("raw_j"))
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b")).as("edit_dist"),
        (levenshtein(col("text_a"), col("text_b")) * lit(1.0) /
          greatest(length(col("text_a")), length(col("text_b")))).as("rel_dist"))
      .filter(col("rel_dist") <= 0.2)
  }

  /** Per-(band,bucket) membership cap for batch LSH — the batch twin of
    * StreamOps.minhashNearDupCandidates' `maxPerBucket`. A degenerate
    * bucket (e.g. a boilerplate template shared by 1M docs) would emit
    * |bucket|²/2 candidate pairs from the self-join; docs in such a bucket
    * are near-exact dups that exact dedup (or any of their OTHER 15 band
    * buckets) already catches, so skipping the bucket bounds candidates at
    * bands·docs·cap without losing real near-dup recall. Test-scale buckets
    * hold ≤ a handful of docs, so the cap changes nothing locally. */
  val LshMaxPerBucket = 1000

  /** MinHash signatures (k=64, native codegen kernel) → 16 bands of 4 →
    * bucket-join candidates → exact-Jaccard verify at 0.5. Signature + band
    * hashing fuse into one `minhash_bands` scan (see functions.MinHashBands)
    * — no interpreted HOF lambdas in the per-document hot path. */
  private def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashPairs(
      Tables.documents(s, d).select(col("doc_id"), shingleCol.as("sh")), "documents")

  /** The MinHash+LSH pair kernel over any (doc_id, sh) relation — shared
    * by the q_minhash_lsh operator key and the `minhash_neardup` SQL
    * table function (r15). */
  private[graft] def minhashPairs(docs0: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r17 optimization: the shingled relation feeds the banding pass AND
    // both verify-join sides (3 evals of scan+shingles), and the banded
    // relation feeds both candidate self-join sides — persist each once
    // in the registry over the input's snapshot (the pairsAllOf doctrine)
    val docs = graft.SessionMemo.ofPersisted(docs0, s"minhash_${name}_sh")(docs0)
    val banded = graft.SessionMemo.ofPersisted(docs0, s"minhash_${name}_band")(
      docs.select(
      col("doc_id"),
      posexplode(call_function("minhash_bands", col("sh"), lit(64), lit(16))))
      .toDF("doc_id", "band", "bh")
      // hot-bucket cap: one window count over the same (band, bh) hash
      // partitioning the self-join below shuffles on anyway
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("bsz") <= LshMaxPerBucket)
      .drop("bsz"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(docs.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(docs.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("raw_j",
        size(array_intersect(col("sa.sh"), col("sb.sh"))) * lit(1.0) /
          size(array_union(col("sa.sh"), col("sb.sh"))))
      .filter(col("raw_j") >= 0.5)
      .select(col("id_a"), col("id_b"), col("raw_j").as("jaccard"))
  }

  /** Char-5-gram Jaccard near-dup (the char-level twin of dedupJaccard,
    * for noisy text where word tokenization is unreliable).
    *
    * Unlike 3-word shingles, char 5-grams are heavily shared ("the t" is in
    * every English doc): the uncut inverted-index self-join is quadratic in
    * document frequency (769M candidate pairs at sf0.1 vs 152k after the
    * cut). So this operator DEFINES Jaccard over df-pruned shingle sets:
    * shingles with df > maxDf (stopword-shingles, zero discriminative
    * value) are dropped from both the index and the set sizes — a
    * deterministic semantic the oracle reproduces exactly, and the knob
    * that keeps candidate volume linear at 100 TB. */
  private val NgramMaxDf = 100

  private def dedupNgram(s: SparkSession, d: String): DataFrame =
    jaccardPairs(
      Tables.documents(s, d).select(col("doc_id"),
        call_function("char_shingles", col("text"), lit(5)).as("sh")),
      0.5, NgramMaxDf, "char5")
      .select(col("id_a"), col("id_b"), col("raw_j").as("jaccard"))

  /** Connected components over an undirected pair graph (id_a, id_b):
    * iterative min-label propagation — every node's label converges to the
    * smallest doc_id in its component. The transitive-closure step real
    * dedup needs: near-dup is not an equivalence relation, so keep-one
    * policies must act on whole components, not pairs.
    *
    * Scale shape: the loop body is the one genuinely-imperative iterative
    * fixpoint in this library, so it runs at the RDD layer on (long, long)
    * pairs under one shared HashPartitioner — edges are shuffled ONCE, and
    * labels stay co-partitioned with them, so each round's neighbor-min is
    * a narrow join plus one re-key shuffle carrying 16-byte pairs,
    * followed by a pointer-jump self-join (comp := comp(comp)) that
    * roughly doubles how far a min label has travelled — O(log diameter)
    * rounds rather than O(diameter). A DataFrame formulation of the same
    * loop was measured ~0.4 s/round slower AT ANY data size: every round
    * re-enters Catalyst analysis, optimization, and codegen (iterative
    * plans never repeat, so nothing caches), while the RDD loop re-plans
    * nothing — planning cost, not data cost. Rounds are bounded by
    * `maxIter`; exiting via `maxIter` before the convergence probe passes
    * would return wrong labels, so that case throws rather than silently
    * mislabeling.
    *
    * Nothing is persisted: each round's output lives only as shuffle
    * files, which later jobs (and the returned DataFrame) reuse via
    * skipped stages, and the ContextCleaner reclaims once the result is
    * dropped — no storage blocks leak into the session (the r3 verdict's
    * localCheckpoint leak), and a lost executor recomputes from lineage
    * instead of failing on a vanished block. The convergence probe
    * (isEmpty of changed labels, a narrow co-partitioned join) is the one
    * action per round, not a data collect. */
  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.HashPartitioner
    val spark = pairs.sparkSession
    val raw = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long")).rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }
    // One count sizes the iteration (near-dup pair graphs are usually a
    // tiny fraction of the corpus; ~250k edges per partition) and is the
    // single full execution of the possibly-expensive upstream pair
    // pipeline — every later job reuses its shuffle files via skipped
    // stages, because they all hang off this same RDD.
    val nEdges = raw.count()
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 250000L + 1L)).toInt
    val part = new HashPartitioner(parts)
    val edges = raw.partitionBy(part)
    // Fused round 1: neighbor-min of the initial labels (comp = id) is
    // just min(src, min(dst)) per src — one aggregation instead of the
    // generic round's joins, and it doubles as the node enumeration.
    var labels = edges.reduceByKey(part, math.min(_: Long, _: Long))
      .mapPartitions(_.map { case (s, m) => (s, math.min(s, m)) },
        preservesPartitioning = true)
    var converged = nEdges == 0L
    var iter = 1
    while (!converged && iter < maxIter) {
      // neighbor-min: edges and labels share `part`, so the join is
      // narrow; only the re-key by neighbor shuffles
      val prop = edges.join(labels, part)
        .map { case (_, (nbr, c)) => (nbr, c) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // fold in the node's own label (prop covers every node: edges are
      // symmetric, so each node appears as someone's neighbor)
      val mid = prop.join(labels, part)
        .mapPartitions(_.map { case (id, (nc, oc)) => (id, math.min(nc, oc)) },
          preservesPartitioning = true)
      // pointer jump: comp := comp(comp). Labels are node ids with
      // comp(x) <= x (round 1 establishes it, minima preserve it), so the
      // self-join always matches and labels only decrease — monotone
      // convergence to the component minimum.
      val next = mid.map { case (id, c) => (c, id) }.join(mid, part)
        .map { case (_, (id, cc)) => (id, cc) }
        .partitionBy(part)
      // exact probe, one action per round: did any label change?
      converged = next.join(labels, part)
        .filter { case (_, (n, o)) => n != o }.isEmpty()
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"components() did not converge in $maxIter rounds (covers diameters up to ~2^$maxIter); " +
          "raise maxIter (returning now would silently mislabel long chains)")
    spark.createDataFrame(
      labels.map { case (id, c) => org.apache.spark.sql.Row(id, c) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Per-(session, dir, flavor) memo of converged component labels — see
    * [[graft.SessionMemo]] for the registry doctrine.
    *
    * The components fixpoint is the most expensive shared intermediate in
    * the library, and FOUR query keys consume the same converged labels
    * (q_dedup_components, q_dedup_canonical, q_cluster_sizes over the word
    * pair graph; q_embed_components over the SRP one). components() already
    * materializes its answer as the final labels RDD's shuffle files — so
    * the only thing needed to make the family COMPOSE instead of recompute
    * is to hand every consumer the SAME RDD: later jobs then reuse the
    * converged rounds as skipped stages. */
  private[graft] def memoComponents(s: SparkSession, d: String, flavor: String)(
      build: => DataFrame): DataFrame =
    graft.SessionMemo.of(s, d, s"components_$flavor")(build)

  /** The word-3-shingle Jaccard-0.5 component labels every keep-one /
    * cluster-report query shares — built once per (session, corpus). */
  private def wordComponents(s: SparkSession, d: String): DataFrame =
    memoComponents(s, d, "word") {
      components(wordPairsAll(s, d).filter(col("raw_j") >= 0.5)
        .select(col("id_a"), col("id_b"), col("raw_j")))
    }

  /** Near-dup components over the word-shingle Jaccard pair graph. */
  private def dedupComponents(s: SparkSession, d: String): DataFrame =
    wordComponents(s, d)
      .select(col("id").as("doc_id"), col("comp"))

  /** Token-window length for substring-level dedup: two documents are
    * substring-dups when they share ANY run of `WindowK` consecutive
    * tokens (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — their 50-token criterion, scaled to this corpus's
    * 10-110-token documents). */
  val WindowK = 15

  /** Df cut for the window index: a window appearing in more than this
    * many documents is boilerplate (license headers, navigation chrome) —
    * it gets dropped from the index rather than allowed to emit |df|²/2
    * candidate pairs. Same role as WordMaxDf/NgramMaxDf above; at test
    * scale no window reaches it. */
  val WindowMaxDf = 100

  /** Substring-level near-dup: document pairs sharing >= 1 window of
    * `WindowK` consecutive tokens, with the count of shared distinct
    * windows. The scale shape is the inverted-index one: windows hash to
    * 8-byte `xxhash64` postings (the self-join never shuffles window
    * strings), the df cut bounds candidate volume linearly, and the pair
    * aggregation partial-combines map-side. Unlike Jaccard near-dup this
    * catches partial overlap — a document that embeds another's paragraph
    * verbatim shares windows but can sit far below any whole-set Jaccard
    * threshold. */
  private def windowDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r17 optimization: the self-join's two sides otherwise re-run the
    // scan + explode + df window each — materialize the postings once.
    val inv = graft.operators.Relational.materializeOnce(s, d, "window_dedup_inv")(
      Tables.documents(s, d)
      .select(col("doc_id"),
        explode(call_function("word_shingles", col("text"), lit(WindowK))).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= WindowMaxDf))
    inv.as("a")
      .join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Keep-one policy over near-dup clusters: every document mapped to its
    * cluster's canonical representative (the smallest doc_id — components'
    * labels ARE the component minima), with singletons canonical to
    * themselves. This is the materialization step after transitive closure:
    * `filter(is_canonical)` is the deduped corpus, and the (doc_id →
    * canonical_id) mapping is what provenance/repro tooling keeps. Scale
    * shape: the label side only contains documents that appear in some
    * near-dup pair — a small fraction of any real corpus — so the left
    * join is AQE-broadcast against the full scan; no hard broadcast hint,
    * so a degenerate corpus (everything near-dup) degrades to a shuffle
    * join instead of an OOM. */
  private def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val comp = wordComponents(s, d)
    Tables.documents(s, d).select(col("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("canonical_id"),
        (coalesce(col("comp"), col("doc_id")) === col("doc_id")).as("is_canonical"))
  }

  /** 64-bit SimHash fingerprint per document (native codegen expression). */
  private def simhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        call_function("simhash64", split(col("text"), " ")).as("simhash"))

  /** Exact Hamming-radius near-dup over 64-bit SimHash fingerprints via
    * multi-index pigeonhole blocking (Manku, Jain & Das Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW 2007 — the production simhash
    * dedup design): split the 64 bits into r+1 = 4 bands of 16; any pair
    * within Hamming distance r = 3 must agree EXACTLY on at least one
    * band (pigeonhole), so banding is a COMPLETE blocking scheme — unlike
    * the probabilistic LSH families, the only post-filter is the exact
    * xor+popcount check on band-collision candidates, and recall is 1.0
    * by construction.
    *
    * Scale shape: 4 rows per doc, equi-join per (band, 16-bit value) —
    * shuffle keys are tiny and the per-bucket load-balance dial at 100 TB
    * is Manku's table rotation (more tables, narrower bands). The
    * completeness claim is AUDITED in-query against a deterministic
    * sampled brute force (doc_id ≡ 0 mod 37, all pairs): every sampled
    * true pair must appear in the banded result. The output row carries
    * the audit verdict — which the oracle can assert exactly — rather
    * than the pair list (simhash values are hash-family-specific, so an
    * independent engine cannot re-derive the pairs themselves). */
  private def simhashRadius(s: SparkSession, d: String): DataFrame = {
    val radius = 3
    val nBands = 4
    val fp = Tables.documents(s, d).select(col("doc_id"),
      call_function("simhash64", split(col("text"), " ")).as("h"))
    val banded = fp
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("doc_id"), col("h"), col("band"),
        expr("shiftrightunsigned(h, band * 16)").bitwiseAND(lit(0xFFFFL)).as("bv"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        call_function("hamming64", col("a.h"), col("b.h")).as("dist"))
      .filter(col("dist") <= radius)
      .select(col("id_a"), col("id_b")).distinct()
    val sample = fp.filter(col("doc_id") % 37 === 0)
    val brute = sample.as("a")
      .join(broadcast(sample.as("b")), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        call_function("hamming64", col("a.h"), col("b.h")).as("dist"))
      .filter(col("dist") <= radius)
    val missing = brute.select(col("id_a"), col("id_b"))
      .join(pairs, Seq("id_a", "id_b"), "left_anti")
    missing.agg(count(lit(1)).as("audit_missing"))
      .crossJoin(fp.agg(count(lit(1)).as("n_docs")))
      .filter(col("n_docs") > 0)
      .select(lit(radius).as("radius"), lit(nBands).as("n_bands"),
        col("audit_missing"), (col("audit_missing") === 0).as("complete_ok"))
  }

  /** Benchmark decontamination: for each train-split document, the number
    * of distinct 5-word shingles it shares with ANY eval-split document —
    * the step that keeps held-out benchmarks out of the pretraining corpus.
    * Splits come from Sampling.bucketOf (deterministic, engine-portable).
    *
    * Scale shape: the eval side collapses to DISTINCT shingles before the
    * join — real eval sets are tiny vs. the corpus, so AQE broadcasts that
    * side at runtime (no hard-coded broadcast: a huge eval set degrades to
    * a shuffle join instead of an OOM). The train side is explode → join →
    * partial count: shuffle volume is matched shingles only. Joining on the
    * shingle string keeps the oracle engine-exact; at 100 TB you'd join on
    * xxhash64(shingle) to shuffle 8-byte keys (same trick as jaccardPairs). */
  private def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
      Sampling.bucketOf(col("doc_id"), 100).as("b"))
    val sh5 = call_function("word_shingles", col("text"), lit(5))
    val train = docs.filter(col("b") < 90).select(col("doc_id"), explode(sh5).as("sh"))
    val evalSh = docs.filter(col("b") >= 90).select(explode(sh5).as("sh")).distinct()
    // word_shingles emits per-doc DISTINCT shingles, so after the join each
    // shared shingle contributes exactly one row: count(*) == count distinct
    train.join(evalSh, "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
  }

  /** Incremental dedup: drop new-batch documents whose exact content
    * already exists in the corpus — the daily-ingest twin of dedupExact
    * (dedup the delta against the accumulated corpus, don't re-dedup the
    * corpus). Anti-join with no broadcast hint: AQE picks broadcast only if
    * the corpus side is actually small. Joining on the text keeps the
    * oracle exact; at 100 TB the corpus side is a persisted
    * xxhash64-fingerprint table and the join carries 8-byte keys. */
  private def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      col("text"), Sampling.bucketOf(col("doc_id"), 100).as("b"))
    val corpus = docs.filter(col("b") < 90).select(col("text").as("ctext"))
    docs.filter(col("b") >= 90)
      .join(corpus, col("text") === col("ctext"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** Bloom-prefiltered incremental dedup: same semantics as
    * [[dedupIncremental]], but the delta probes a corpus bloom sketch
    * BEFORE the exact anti-join. `bloom_agg` builds the filter as one
    * partial-combined aggregate over `xxhash64(text)` (8-byte inputs, a
    * ~1 MB binary result); the scalar subquery makes it a query-local
    * constant every probe task holds. Delta rows split into:
    *   - not-in-bloom → provably new (blooms have no false negatives),
    *     emitted with NO join at all;
    *   - maybe-in-bloom → the only rows that reach the exact anti-join
    *     (true dups + the fpp% false positives).
    * At 100 TB the corpus side of the join is the expensive relation, and
    * the bloom cuts the delta rows that must probe it from 100% to
    * dup-rate + fpp — the standard daily-ingest shape. Sizing: Spark's
    * `BloomFilterAggregate` requires foldable est-items/bits (a scalar
    * subquery fails its type check), so sizing is a pre-pass — one
    * distributed count of the corpus partition, then the textbook
    * m = n·ln(1/p)/ln²2 bit budget for the target fpp. That keeps the fpp
    * constant at ANY scale factor instead of degrading as the corpus
    * outgrows a hard-coded estimate. Oracle: identical result to plain
    * incremental dedup — the bloom only prunes, never decides. */
  private def bloomIncremental(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).createOrReplaceTempView("graft_bloom_docs")
    val nCorpus = s.sql(
      s"""SELECT count(*) FROM graft_bloom_docs
         |WHERE ((doc_id % ${Sampling.P}) * ${Sampling.A}) % ${Sampling.P} % 100 < 90
         |""".stripMargin).head().getLong(0)
    val estItems = math.max(1L, nCorpus)
    val numBits = bloomBits(estItems, BloomFpp)
    s.sql(s"""
      |WITH base AS (
      |  SELECT doc_id, source, text,
      |         ((doc_id % ${Sampling.P}) * ${Sampling.A}) % ${Sampling.P} % 100 AS b
      |  FROM graft_bloom_docs),
      |probe AS (
      |  SELECT doc_id, source, text,
      |    bloom_might_contain(
      |      (SELECT bloom_agg(xxhash64(text), ${estItems}L, ${numBits}L)
      |       FROM base WHERE b < 90),
      |      xxhash64(text)) AS candidate
      |  FROM base WHERE b >= 90)
      |SELECT doc_id, source FROM probe WHERE NOT candidate
      |UNION ALL
      |SELECT p.doc_id, p.source FROM probe p
      |WHERE p.candidate AND NOT EXISTS (
      |  SELECT 1 FROM base c WHERE c.b < 90 AND c.text = p.text)
      |""".stripMargin)
  }

  /** Cross-source overlap matrix: for every source pair, how many
    * distinct texts they share verbatim — the provenance audit that finds
    * mirror sites, re-crawls, and licensing copies before mixing weights
    * are chosen. Shape: distinct (source, xxhash64(text)) first — one
    * dedup shuffle on 8-byte keys — then a self-join on the hash whose
    * per-text fan-out is bounded by the source count (a small constant),
    * then a sources²-row aggregate. Same collision doctrine as exact
    * dedup: 64-bit content hashes stand in for text equality.
    *
    * The test corpora contain no verbatim cross-source duplicates at any
    * SF, so (as `upsert` does for its update batch) the overlap condition
    * is synthesized deterministically: every 7th document is re-ingested
    * under a synthetic `mirror` source, giving a non-empty matrix whose
    * counts the oracle checks exactly at every scale. */
  private def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mirrored = docs.filter(col("doc_id") % 7 === 0)
      .select(lit("mirror").as("source"), col("text"))
    val st = docs.select(col("source"), col("text"))
      .unionByName(mirrored)
      .select(col("source"), xxhash64(col("text")).as("h"))
      .distinct()
    st.as("a")
      .join(st.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document duplicated-shingle mass: the fraction of a doc's
    * distinct 3-word shingles that occur in at least one other document —
    * the doc-level boilerplate/template signal (the RefinedWeb-style
    * "duplicated content fraction") that flags template-heavy documents
    * even when no single pair crosses a near-dup threshold. Df comes from
    * one window count over the posting partitioning (the jaccardPairs
    * one-shuffle trick, on 8-byte xxhash64 keys); the per-doc aggregation
    * partial-combines map-side. The fraction is a ratio of two exact
    * integer counts — one IEEE division, bitwise cross-engine. */
  private def shingleDupMass(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(col("doc_id"), explode(shingleCol).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        (sum(when(col("df") > 1, 1).otherwise(0)) * lit(1.0) / count(lit(1)))
          .as("dup_frac"))
  }

  /** Dedup-cluster size histogram: how many near-dup clusters of each
    * size the pair graph produced, singletons included — the report every
    * dedup run ships (it is how you notice a template exploding into a
    * 10⁶-doc cluster before choosing keep-one policies). Components gives
    * ≥2-sized clusters; the singleton row is total − clustered, computed
    * as two scalar aggregates joined by a broadcast (1×1, no cartesian).
    * Scale: the histogram is bounded by the largest cluster size; every
    * aggregation partial-combines. */
  private def clusterSizes(s: SparkSession, d: String): DataFrame = {
    val comp = wordComponents(s, d)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    val singles = Tables.documents(s, d).agg(count(lit(1)).as("total"))
      .crossJoin(broadcast(comp.agg(count(lit(1)).as("clustered"))))
      .select(lit(1L).as("cluster_size"),
        (col("total") - col("clustered")).as("n_clusters"))
    sizes.unionByName(singles)
  }

  /** Incremental NEAR-dup dedup: drop new-batch documents whose word-
    * 3-shingle Jaccard vs any corpus document reaches 0.5 — the near-dup
    * twin of [[dedupIncremental]] (daily ingest should not re-admit a
    * lightly-edited copy of something already in the corpus). One shared
    * df-cut posting relation (global df, the defined semantics), then the
    * postings join is RESTRICTED to delta×corpus — candidate volume is
    * delta-proportional, never corpus², which is what makes daily ingest
    * affordable against a 100 TB corpus; the final step is an anti-join
    * on matched delta ids.
    *
    * Plan note: pre-filtering the two join sides means Catalyst computes
    * the posting relation once per side (no exchange reuse across
    * differently-filtered subplans). That 2× is LINEAR work, traded
    * deliberately against the restricted join's pair volume — the
    * quadratic-prone term — which drops to ~2·f·(1−f) of all-pairs for a
    * delta fraction f (50× at f = 1%). A production deployment removes
    * the duplication a different way: the corpus side's postings are a
    * PERSISTED table maintained incrementally (the same fingerprint-table
    * pattern as [[dedupIncremental]]), so only the delta side is shingled
    * per run. */
  private def neardupIncremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      Sampling.bucketOf(col("doc_id"), 100).as("b"), shingleCol.as("sh"))
    // r17 optimization: both sides of the delta-vs-corpus join read this
    // postings relation — materialize it once instead of re-running the
    // scan + explode + two df/size windows per side.
    val inv = graft.operators.Relational.materializeOnce(s, d, "neardup_incr_inv")(
      docs.select(col("doc_id"), col("b"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), col("b"), xxhash64(col("s0")).as("s"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= WordMaxDf)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("b"), col("n"), col("s")))
    val matched = inv.filter(col("b") >= 90).as("a")
      .join(inv.filter(col("b") < 90).as("c"), col("a.s") === col("c.s"))
      .groupBy(col("a.doc_id").as("did"), col("c.doc_id").as("cid"),
        col("a.n").as("na"), col("c.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")) >= 0.5)
      .select(col("did")).distinct()
    docs.filter(col("b") >= 90).select(col("doc_id"), col("source"))
      .join(matched, col("doc_id") === col("did"), "left_anti")
  }

  /** Asymmetric containment near-dup: directed pairs where C(src→dst) =
    * |S_src ∩ S_dst| / |S_src| ≥ 0.8 over the word-3-shingle df-cut sets —
    * the quote/subset detector Jaccard is blind to (a paragraph fully
    * embedded in a 10× longer page has Jaccard ~0.1 but containment 1.0;
    * standard in pretraining dedup for boilerplate-inside-page and
    * doc-expansion cases).
    *
    * Same inverted-index front half as every set-similarity operator
    * ([[cutPostings]]); the self-join emits each unordered pair once
    * (id_a < id_b) and BOTH directed containments project from that single
    * aggregated row — no second join, no doubled shuffle. Ratio is
    * int/int one division: bitwise cross-engine. */
  private def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val pairs = wordPairsAll(s, d)
    pairs.select(col("id_a").as("src_id"), col("id_b").as("dst_id"),
        (col("inter") * lit(1.0) / col("na")).as("containment"))
      .unionByName(pairs.select(col("id_b").as("src_id"), col("id_a").as("dst_id"),
        (col("inter") * lit(1.0) / col("nb")).as("containment")))
      .filter(col("containment") >= 0.8)
  }

  /** Leak-free train/eval split: the doc_id-hash split (C19) made
    * near-dup-aware — every document is bucketed by its CLUSTER's canonical
    * id (component label, singletons by their own id), so a near-duplicate
    * pair can never straddle train and eval (the contamination mode a
    * per-doc split is blind to; group-aware splitting is the standard fix).
    * Composes the memoized component labels ([[wordComponents]]) with
    * Sampling.bucketOf — deterministic, engine-portable, no RNG. */
  private def splitLeakfree(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .join(wordComponents(s, d), col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        when(Sampling.bucketOf(coalesce(col("comp"), col("doc_id")), 100) < 90,
          "train").otherwise("eval").as("split"))

  /** Per-source dedup inflation: documents vs near-dup clusters touched —
    * the data-card statistic that tells a mixture designer how much of a
    * source is redundant mass (inflation 1.0 = no near-dups; 2.0 = the
    * source holds twice the docs of its deduped self, so its effective
    * token budget is half its raw one). Reuses the memoized component
    * labels ([[wordComponents]] — the fifth consumer of one fixpoint);
    * n_clusters counts DISTINCT canonical ids per source, so a cluster
    * straddling sources counts once for each — the honest per-source
    * view of shared boilerplate. */
  private def sourceInflation(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(wordComponents(s, d), col("doc_id") === col("id"), "left")
      .select(col("source"), col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("canonical"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canonical")).as("n_clusters"))
      .withColumn("inflation",
        round(col("n_docs") * lit(1.0) / col("n_clusters"), 6))

  /** Near-dup threshold tuning curve: surviving pair counts at
    * τ ∈ {0.3, 0.5, 0.7} from ONE shared pair build — the curve a
    * pipeline owner reads before committing to a dedup threshold (a
    * cliff between two τ values means a boilerplate family sits there).
    * Twelfth consumer of the memoized pair relation; the candidate set
    * is scanned once with conditional partial-combined sums. */
  private def thresholdCurve(s: SparkSession, d: String): DataFrame =
    wordPairsAll(s, d).agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("raw_j") >= 0.3, 1L).otherwise(0L)).as("n_tau_03"),
      sum(when(col("raw_j") >= 0.5, 1L).otherwise(0L)).as("n_tau_05"),
      sum(when(col("raw_j") >= 0.7, 1L).otherwise(0L)).as("n_tau_07"))

  /** Cross-source cluster purity: for every near-dup cluster, how many
    * SOURCES it spans — the histogram (n_sources → clusters, docs) that
    * separates within-source duplication (re-crawls, hard negatives)
    * from cross-source boilerplate (mirrors, syndication): a heavy
    * multi-source tail means source-level dedup would miss most of the
    * mass. Eleventh consumer of the ONE memoized component fixpoint;
    * after the label join everything partial-combines on comp then on
    * the tiny n_sources key. */
  private def clusterPurity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(wordComponents(s, d), col("doc_id") === col("id"))
      .groupBy(col("comp"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("csize"))
      .groupBy(col("n_sources"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))

  /** Soft dedup weighting: every document's training weight = 1/|cluster|
    * — the loss-reweighting alternative to keep-one dedup (drop nothing,
    * make each near-dup CLUSTER contribute one unit of loss mass; the
    * standard soft option when hard dropping is too aggressive for a
    * small-but-duplicated source). Seventh consumer of the one memoized
    * component fixpoint; singletons weigh 1. The weight is 1/n with n a
    * small exact integer — bitwise identical in any engine. */
  private def dedupWeights(s: SparkSession, d: String): DataFrame = {
    val canon = Tables.documents(s, d).select(col("doc_id"))
      .join(wordComponents(s, d), col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
    val sizes = canon.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    canon.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size")).as("weight"))
  }

  /** Nearest near-dup partner per document: the argmax-Jaccard neighbor
    * (≥ 0.2) from the shared pair relation — the "show me what this doc
    * duplicates" lookup behind every dedup triage UI, and the bounded
    * per-doc alternative to dumping the whole pair list. Eighth consumer
    * of the memoized wordPairsAll build; the rank window partitions by
    * doc over candidate-bounded rows. Determinism: raw_j is one int/int
    * division (bitwise cross-engine), ties break on partner id. */
  private def bestMatch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = wordPairsAll(s, d).filter(col("raw_j") >= 0.2)
    val sym = pairs
      .select(col("id_a").as("doc_id"), col("id_b").as("partner"), col("raw_j"))
      .unionByName(pairs
        .select(col("id_b").as("doc_id"), col("id_a").as("partner"), col("raw_j")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("raw_j").desc, col("partner"))
    sym.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("partner"), round(col("raw_j"), 6).as("jaccard"))
  }

  /** PageRank over the τ=0.2 word-similarity graph, 10 fixed-point
    * iterations (Page et al. 1999; damping 0.85) — duplicate-hub scoring:
    * a high-rank document sits at the center of a similarity
    * neighborhood, the thing to keep (or investigate as a template) when
    * a cluster collapses. EXACT integer arithmetic throughout: rank mass
    * is scaled to 10^12, damping is ×85 ÷100 integer ops, contributions
    * are v div deg — every engine truncates non-negative integer
    * division identically, so 10 iterations stay bitwise reproducible
    * (float PageRank would drift per-iteration across engines). Dangling
    * mass is dropped (documented), isolated docs keep the teleport term.
    * Scale shape (r9, per the r8 verdict): the fixpoint runs on
    * co-partitioned RDDs — the q_dedup_components/kcore machinery — with
    * ONE HashPartitioner shared by edges, degrees, and the rank vector,
    * so every iteration's joins are narrow (no replanning, no
    * re-shuffling of the static edge relation; the DF unroll replanned
    * the whole 10-join prefix each action). Each iteration is one
    * co-partitioned join + one partial-combined reduceByKey over the
    * df-cut-bounded edge relation (ninth consumer of the shared pair
    * build). Division is Scala `/` on non-negative longs ≡ SQL `div` —
    * the bitwise replay contract is unchanged. */
  private def pagerank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val S = 1000000000000L
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("degree", LongType, nullable = false),
      StructField("pr_scaled", LongType, nullable = false)))
    val pairs = wordPairsAll(s, d).filter(col("raw_j") >= 0.2)
      .select(col("id_a"), col("id_b"))
    // scale-adaptive partitioning (r17 optimization, guide §2): 10 rank
    // rounds schedule parts tasks per shuffle stage — size to the edge
    // count, core-capped at scale (the components rule; the count
    // reuses the memoized pair build's shuffle files).
    val parts = adaptiveParts(s, pairs.count() * 2)
    val part = new HashPartitioner(parts)
    // src-keyed directed edges, hash-partitioned ONCE — later iterations
    // reuse this layout's shuffle files as skipped stages
    val edges = pairs.rdd.flatMap { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      Iterator((a, b), (b, a))
    }.partitionBy(part)
    val deg = edges
      .mapPartitions(_.map { case (srcV, _) => (srcV, 1L) },
        preservesPartitioning = true)
      .reduceByKey(part, _ + _)
    val nodeIds = Tables.documents(s, d).select(col("doc_id")).rdd
      .map(r => (r.getLong(0), ())).partitionBy(part)
    val n = nodeIds.count() // driver scalar (node count, the teleport base)
    if (n == 0)
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], outSchema)
    val v0 = S / n
    val teleport = (15L * v0) / 100L
    var pr = nodeIds.mapPartitions(_.map { case (id, _) => (id, v0) },
      preservesPartitioning = true)
    for (_ <- 1 to 10) {
      val contrib = pr.join(deg, part)
        .mapPartitions(_.map { case (id, (v, dg)) => (id, v / dg) },
          preservesPartitioning = true)
      val infl = edges.join(contrib, part)
        .map { case (_, (dst, c)) => (dst, c) }
        .reduceByKey(part, _ + _)
      pr = nodeIds.leftOuterJoin(infl, part)
        .mapPartitions(_.map { case (id, (_, scOpt)) =>
          (id, teleport + (85L * scOpt.getOrElse(0L)) / 100L)
        }, preservesPartitioning = true)
    }
    s.createDataFrame(
      pr.leftOuterJoin(deg, part).map { case (id, (v, dgOpt)) =>
        Row(id, dgOpt.getOrElse(0L), v)
      }, outSchema)
  }

  /** Triangle census + global clustering coefficient of the τ=0.2
    * word-similarity graph — the boilerplate-cliquishness audit (near-dup
    * graphs of templated corpora close far more wedges than organic
    * ones). Tenth consumer of the shared pair build. The count uses the
    * oriented-wedge join (x<y, y<z, closing edge x<z) so every triangle
    * is counted EXACTLY once with no orientation dedup pass; wedges come
    * from the degree relation in closed form Σ deg·(deg−1)/2. All exact
    * integers, one final division for the coefficient. Scale shape: the
    * wedge join is candidate-bounded (pairs are df-cut and capped
    * upstream), the closing-edge check is a semi join, and the degree
    * relation is node-sized. */
  private def triangles(s: SparkSession, d: String): DataFrame = {
    val e = wordPairsAll(s, d).filter(col("raw_j") >= 0.2)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
      .select(col("x"), col("z"))
    val tri = wedges.join(e.select(col("a").as("x"), col("b").as("z")),
        Seq("x", "z"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(
        deg.agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))))
      .crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          col("n_triangles").cast("double") * 3 / col("n_wedges"))
          .otherwise(lit(0.0)).as("global_cc"))
  }

  /** 2-core of the τ=0.2 word-similarity graph by 12 fixed peel rounds —
    * the density audit between components (too coarse: one bridge merges
    * everything) and triangles (too summary): a node survives iff it
    * keeps ≥2 neighbors after every weaker node is removed, so the
    * 2-core IS the template/boilerplate backbone, with tree-like
    * incidental matches peeled away (Seidman 1983, cores). Fixed-round
    * semantics make the operator engine-replayable: both engines compute
    * exactly 12 peels, and `converged` (round-11 edge count == round-12)
    * reports whether the fixpoint was reached — loud, not silent, on
    * pathological chains. Scale shape: the RDD loop (the
    * q_dedup_components machinery — DataFrame unrolling would reference
    * the surviving-node set twice per round and double the plan per
    * iteration) keeps one hash partitioning across all rounds; each
    * round is two co-partitioned joins + a partial-combined degree count
    * over a shrinking edge set, and every action reuses prior rounds'
    * shuffle files as skipped stages. Fourteenth consumer of the shared
    * pair build. */
  /** The components sizing rule (≈250k keyed rows per task, floor 1,
    * core-capped), shared by every iterative RDD loop — r17: kcore and
    * pagerank previously scheduled defaultParallelism/2 tasks per stage
    * regardless of graph size (kcore: 12 rounds × ~5 stages each). */
  private def adaptiveParts(s: SparkSession, rows: Long): Int =
    math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
      rows / 250000L + 1L)).toInt

  private def kcore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.HashPartitioner
    val spark = s
    val k = 2
    val rounds = 12
    val pairs = wordPairsAll(s, d).filter(col("raw_j") >= 0.2)
      .select(col("id_a"), col("id_b"))
    val raw = pairs.rdd.flatMap { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      Iterator((a, b), (b, a))
    }
    // scale-adaptive partitioning (r17 optimization, guide §2): 12 peel
    // rounds × ~5 stages each schedule parts tasks PER STAGE, so a
    // constant tuned to the core count pays ~60·parts task launches on a
    // pair graph that is tiny at bench scale. Derive parts from the edge
    // count (the count reuses the memoized pair build's shuffle files —
    // one cheap job), core-capped at scale (the components rule).
    val parts = adaptiveParts(spark, pairs.count() * 2)
    val part = new HashPartitioner(parts)
    var edges = raw.partitionBy(part)
    var prevEdges = edges
    for (_ <- 1 to rounds) {
      prevEdges = edges
      val good = edges
        .mapPartitions(_.map { case (src, _) => (src, 1L) },
          preservesPartitioning = true)
        .reduceByKey(part, _ + _)
        .filter(_._2 >= k)
      edges = edges.join(good, part)
        .map { case (src, (dst, _)) => (dst, src) }
        .partitionBy(part)
        .join(good, part)
        .map { case (dst, (src, _)) => (src, dst) }
        .partitionBy(part)
    }
    // convergence = the last peel removed nothing (counts suffice: peels
    // only ever remove edges). Both counts reuse the loop's shuffle files.
    val converged = edges.count() == prevEdges.count()
    val deg = edges
      .mapPartitions(_.map { case (src, _) => (src, 1L) },
        preservesPartitioning = true)
      .reduceByKey(part, _ + _)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    spark.createDataFrame(
      deg.map { case (id, dg) => Row(id, dg, converged) },
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("core_deg", LongType, nullable = false),
        StructField("converged", BooleanType, nullable = false))))
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct word-3
    * shingles whose corpus-wide FIRST occurrence (min doc_id) is this doc
    * — the novelty curve curriculum/incremental-crawl pipelines read
    * (ingest order ≈ doc_id): late docs scoring near 0 are re-crawls or
    * templates even when no single near-dup partner exists; the
    * complement of C42's duplicated-shingle mass, resolved per document.
    * Exact integers, novelty = one int/int division. Scale shape: the
    * shingle explosion partial-combines into (shingle, min_doc) — the
    * same postings economics as the dedup family (min is insensitive to
    * the df cut, so no cap is needed for correctness); join back on the
    * 8-byte shingle hash, per-doc agg partial-combines on doc_id. */
  private def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    // r17 optimization: the hashed shingle stream feeds the first-seen
    // aggregate AND the join side — materialized once (one corpus
    // explode, not two).
    val sh = graft.operators.Relational.materializeOnce(s, d, "novelty_sh")(
      Tables.documents(s, d)
      .select(col("doc_id"), explode(shingleCol).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h")))
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
  }

  /** Near-dup incidence by document-length decile — the diagnostic that
    * tells a cleaning pipeline WHERE its duplication lives (short scraps
    * duplicating at 40% and long docs at 2% argues for a length gate
    * before the expensive near-dup pass, and vice versa). Deciles come
    * from the fact-scale quantile pattern (value-histogram cumdist cut
    * points — the window runs over DISTINCT n_chars values, never a
    * global row window; ties share a bucket by construction), the dup
    * set is the τ=0.4 pair relation's endpoint set (eleventh consumer of
    * the memoized wordPairsAll build), and the rate is one int/int
    * division. */
  private def dupByLength(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val hist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val thr = cum.crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
      .agg((1 to 9).map(i =>
        min(when(col("cum") * 10 >= col("n") * i, col("n_chars"))).as(s"t$i")).head,
        (1 to 9).map(i =>
          min(when(col("cum") * 10 >= col("n") * i, col("n_chars"))).as(s"t$i")).tail: _*)
    val pairs = wordPairsAll(s, d).filter(col("raw_j") >= 0.4)
    val dup = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
      .distinct().withColumn("isdup", lit(1L))
    val bucket = (1 to 9).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("n_chars") > col(s"t$i"), 1).otherwise(0)
    }
    docs.crossJoin(broadcast(thr))
      .join(dup, Seq("doc_id"), "left_outer")
      .select(bucket.as("decile"), coalesce(col("isdup"), lit(0L)).as("isdup"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("isdup")).as("n_dup"),
        round(sum(col("isdup")).cast("double") / count(lit(1)), 6).as("dup_rate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dup_by_length" -> dupByLength _,
    "q_ngram_novelty" -> ngramNovelty _,
    "q_kcore" -> kcore _,
    "q_threshold_curve" -> thresholdCurve _,
    "q_cluster_purity" -> clusterPurity _,
    "q_triangles" -> triangles _,
    "q_pagerank" -> pagerank _,
    "q_best_match" -> bestMatch _,
    "q_dedup_weights" -> dedupWeights _,
    "q_source_inflation" -> sourceInflation _,
    "q_containment" -> containmentPairs _,
    "q_split_leakfree" -> splitLeakfree _,
    "q_cluster_sizes" -> clusterSizes _,
    "q_neardup_incremental" -> neardupIncremental _,
    "q_dup_mass" -> shingleDupMass _,
    "q_source_overlap" -> sourceOverlap _,
    "q_decontaminate" -> decontaminate _,
    "q_dedup_incremental" -> dedupIncremental _,
    "q_bloom_incremental" -> bloomIncremental _,
    "q_dedup_exact" -> dedupExact _,
    "q_dedup_jaccard" -> dedupJaccard _,
    "q_dedup_editdist" -> dedupEditDist _,
    "q_dedup_ngram" -> dedupNgram _,
    "q_minhash_lsh" -> minhashLsh _,
    "q_simhash" -> simhash _,
    "q_simhash_radius" -> simhashRadius _,
    "q_dedup_components" -> dedupComponents _,
    "q_window_dedup" -> windowDedup _,
    "q_dedup_canonical" -> dedupCanonical _
  )

  /** Shared oracle CTE chain producing the word-3-shingle df-cut pair graph
    * (id_a, id_b, inter + per-doc post-cut sizes in cnt). */
  private[graft] val wordPairCtes =
    """t AS (
      | SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(len(w) - 2),
      |   i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS shs FROM t),
      |e0 AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |keep AS (SELECT s FROM e0 GROUP BY s HAVING count(*) <= 1000),
      |e AS (SELECT doc_id, e0.s FROM e0 JOIN keep ON e0.s = keep.s),
      |cnt AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
      |p AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)""".stripMargin

  /** Shared oracle CTE chain re-deriving the 64-bit SimHash per document —
    * bitwise equal to `simhash64(split(text, ' '))`. The token hash is the
    * portable polynomial (TextHashKernels.portableHash64: seed = FNV offset
    * basis, multiplier 0x85EBCA6B, mod 2^64), so DuckDB replays it with
    * HUGEINT arithmetic; the per-bit majority vote and the unsigned→signed
    * fold are plain SQL. Ends with `sh64(doc_id, simhash)`. */
  private[graft] val simhashCtes =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |         FROM documents),
      |th AS (SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS HUGEINT))),
      |    (acc, cp) -> (acc * 2246822507 + cp) % 18446744073709551616) AS h
      |  FROM toks),
      |bits AS (SELECT doc_id, bb.b AS b,
      |   sum(CASE WHEN (h // CAST(power(2, bb.b) AS HUGEINT)) % 2 = 1
      |       THEN 1 ELSE -1 END) AS cnt
      |  FROM th CROSS JOIN range(64) AS bb(b) GROUP BY 1, 2),
      |sh64 AS (SELECT doc_id,
      |   CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
      |        ELSE u END AS BIGINT) AS simhash
      |  FROM (SELECT doc_id,
      |     sum(CASE WHEN cnt > 0 THEN CAST(power(2, b) AS HUGEINT)
      |         ELSE CAST(0 AS HUGEINT) END) AS u
      |    FROM bits GROUP BY doc_id))""".stripMargin

  /** The 10 PageRank iterations unrolled as chained CTEs (DuckDB bars
    * aggregates from a recursive term, so the loop is spelled out —
    * integer arithmetic makes every step exact, see pagerank). */
  private val pagerankSteps = (1 to 10).map { i =>
    s"""pr$i AS (
       | SELECT n0.doc_id,
       |  (15 * (1000000000000 // nn.n)) // 100
       |   + (85 * COALESCE(infl.s, 0)) // 100 AS v
       | FROM nodes n0 CROSS JOIN nn
       | LEFT JOIN (
       |   SELECT e.dst, CAST(sum(pp.v // dg.deg) AS BIGINT) AS s
       |   FROM edges e
       |   JOIN pr${i - 1} pp ON e.src = pp.doc_id
       |   JOIN deg dg ON e.src = dg.dsrc
       |   GROUP BY e.dst) infl ON n0.doc_id = infl.dst)""".stripMargin
  }.mkString(",\n")

  /** 12 unrolled peel rounds for the q_kcore oracle: each round keeps
    * edges whose BOTH endpoints have in-round degree ≥ 2 (mirrors the
    * Spark loop exactly; e0 is the symmetric τ=0.2 edge relation). */
  private val kcoreSteps = (1 to 12).map { i =>
    s"""kg$i AS MATERIALIZED (
       | SELECT src FROM ke${i - 1} GROUP BY 1 HAVING count(*) >= 2),
       |ke$i AS MATERIALIZED (
       | SELECT e.src, e.dst FROM ke${i - 1} e
       | JOIN kg$i ga ON e.src = ga.src
       | JOIN kg$i gb ON e.dst = gb.src)""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "q_dup_by_length" ->
      s"""WITH $wordPairCtes,
         |j AS (
         | SELECT id_a, id_b
         | FROM p JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.4),
         |dup AS (
         | SELECT DISTINCT doc_id FROM (
         |  SELECT id_a AS doc_id FROM j UNION ALL SELECT id_b FROM j)),
         |hist AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
         |cum AS (
         | SELECT n_chars, sum(c) OVER (ORDER BY n_chars
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         | FROM hist),
         |nn AS (SELECT sum(c) AS n FROM hist),
         |thr AS (SELECT
         |  ${(1 to 9).map(i =>
              s"min(CASE WHEN cum * 10 >= n * $i THEN n_chars END) AS t$i")
              .mkString(", ")}
         | FROM cum CROSS JOIN nn),
         |b AS (
         | SELECT doc_id,
         |  1 ${(1 to 9).map(i =>
              s"+ (CASE WHEN n_chars > t$i THEN 1 ELSE 0 END)").mkString(" ")}
         |   AS decile
         | FROM documents CROSS JOIN thr)
         |SELECT decile, count(*) AS n_docs,
         | CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         | round(CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*), 6) AS dup_rate
         |FROM b LEFT JOIN dup USING (doc_id) GROUP BY decile""".stripMargin,
    "q_ngram_novelty" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |   i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s FROM t),
        |fo AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |per AS (
        | SELECT sh.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel
        | FROM sh JOIN fo USING (s) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_novel,
        | CAST(n_novel AS DOUBLE) / n_shingles AS novelty
        |FROM per""".stripMargin,
    "q_kcore" ->
      s"""WITH $wordPairCtes,
         |jp AS (
         | SELECT id_a, id_b
         | FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.2),
         |ke0 AS MATERIALIZED (
         | SELECT id_a AS src, id_b AS dst FROM jp
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM jp),
         |$kcoreSteps,
         |conv AS (
         | SELECT (SELECT count(*) FROM ke12) = (SELECT count(*) FROM ke11)
         |   AS converged)
         |SELECT src AS doc_id, count(*) AS core_deg, converged
         |FROM ke12 CROSS JOIN conv GROUP BY 1, 3""".stripMargin,
    "q_threshold_curve" ->
      s"""WITH $wordPairCtes,
         |jp AS (
         | SELECT inter * 1.0 / (ca.n + cb.n - inter) AS j
         | FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id)
         |SELECT count(*) AS n_candidates,
         | CAST(sum(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_tau_03,
         | CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_tau_05,
         | CAST(sum(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_tau_07
         |FROM jp""".stripMargin,
    "q_cluster_purity" ->
      s"""WITH RECURSIVE $wordPairCtes,
         |pairsj AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairsj
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairsj),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst),
         |compt AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |cl AS (
         | SELECT comp, count(DISTINCT source) AS n_sources,
         |  count(*) AS csize
         | FROM documents JOIN compt ON doc_id = id
         | GROUP BY comp)
         |SELECT n_sources, count(*) AS n_clusters,
         | CAST(sum(csize) AS BIGINT) AS n_docs
         |FROM cl GROUP BY 1""".stripMargin,
    "q_triangles" ->
      s"""WITH $wordPairCtes,
         |jp AS (
         | SELECT id_a, id_b
         | FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.2),
         |dg AS (
         | SELECT v, count(*) AS deg FROM (
         |  SELECT id_a AS v FROM jp UNION ALL SELECT id_b AS v FROM jp)
         | GROUP BY 1),
         |wg AS (
         | SELECT e1.id_a AS x, e2.id_b AS z
         | FROM jp e1 JOIN jp e2 ON e1.id_b = e2.id_a),
         |tri AS (
         | SELECT count(*) AS n_triangles FROM wg
         | WHERE EXISTS (SELECT 1 FROM jp e3
         |   WHERE e3.id_a = wg.x AND e3.id_b = wg.z)),
         |es AS (SELECT count(*) AS n_edges FROM jp),
         |ws AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT)
         |  AS n_wedges FROM dg)
         |SELECT n_edges, n_wedges, n_triangles,
         | CASE WHEN n_wedges > 0
         |  THEN CAST(n_triangles AS DOUBLE) * 3 / n_wedges
         |  ELSE 0.0 END AS global_cc
         |FROM es CROSS JOIN ws CROSS JOIN tri""".stripMargin,
    "q_pagerank" ->
      s"""WITH $wordPairCtes,
         |jp AS (
         | SELECT id_a, id_b
         | FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.2),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM jp
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM jp),
         |deg AS (SELECT src AS dsrc, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT doc_id FROM documents),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |pr0 AS (
         | SELECT doc_id, 1000000000000 // nn.n AS v
         | FROM nodes CROSS JOIN nn),
         |$pagerankSteps
         |SELECT pr10.doc_id, COALESCE(dg.deg, 0) AS degree,
         | pr10.v AS pr_scaled
         |FROM pr10 LEFT JOIN deg dg ON pr10.doc_id = dg.dsrc""".stripMargin,
    "q_best_match" ->
      s"""WITH $wordPairCtes,
         |j AS (
         | SELECT id_a, id_b, inter * 1.0 / (ca.n + cb.n - inter) AS raw_j
         | FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.2),
         |sym AS (
         | SELECT id_a AS doc_id, id_b AS partner, raw_j FROM j
         | UNION ALL
         | SELECT id_b AS doc_id, id_a AS partner, raw_j FROM j),
         |r AS (SELECT doc_id, partner, raw_j, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY raw_j DESC, partner) AS rn FROM sym)
         |SELECT doc_id, partner, round(raw_j, 6) AS jaccard
         |FROM r WHERE rn = 1""".stripMargin,
    // Full replay oracle: the portable token hash (see simhashCtes) makes
    // the fingerprint itself engine-independent.
    "q_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sh64""".stripMargin,
    // Invariant oracle: the pair list is hash-family-specific (an engine
    // without this simhash cannot re-derive it), but pigeonhole banding's
    // completeness is a hard guarantee the in-query sampled brute-force
    // audit checks — the oracle asserts the audit verdict exactly.
    "q_simhash_radius" ->
      """SELECT CAST(3 AS INTEGER) AS radius, CAST(4 AS INTEGER) AS n_bands,
        | CAST(0 AS BIGINT) AS audit_missing, true AS complete_ok
        |FROM documents HAVING count(*) > 0""".stripMargin,
    "q_dedup_weights" ->
      s"""WITH RECURSIVE $wordPairCtes,
         |pairsj AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairsj
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairsj),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst),
         |compt AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |canon AS (
         | SELECT doc_id, coalesce(comp, doc_id) AS cluster
         | FROM documents LEFT JOIN compt ON doc_id = id),
         |sz AS (SELECT cluster, count(*) AS cluster_size FROM canon GROUP BY 1)
         |SELECT doc_id, cluster_size, CAST(1 AS DOUBLE) / cluster_size AS weight
         |FROM canon JOIN sz USING (cluster)""".stripMargin,
    "q_source_inflation" ->
      s"""WITH RECURSIVE $wordPairCtes,
         |pairsj AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairsj
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairsj),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst),
         |compt AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
         |SELECT source, count(*) AS n_docs,
         | count(DISTINCT coalesce(comp, doc_id)) AS n_clusters,
         | round(count(*) * 1.0 / count(DISTINCT coalesce(comp, doc_id)), 6)
         |   AS inflation
         |FROM documents LEFT JOIN compt ON doc_id = id
         |GROUP BY source""".stripMargin,
    "q_containment" ->
      s"""WITH $wordPairCtes,
         |cp AS (
         | SELECT id_a, id_b, inter, ca.n AS na, cb.n AS nb FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id)
         |SELECT id_a AS src_id, id_b AS dst_id,
         | inter * 1.0 / na AS containment
         |FROM cp WHERE inter * 1.0 / na >= 0.8
         |UNION ALL
         |SELECT id_b AS src_id, id_a AS dst_id,
         | inter * 1.0 / nb AS containment
         |FROM cp WHERE inter * 1.0 / nb >= 0.8""".stripMargin,
    "q_split_leakfree" ->
      s"""WITH RECURSIVE $wordPairCtes,
         |pairs AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst),
         |lab AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |gid AS (
         | SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS g
         | FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)
         |SELECT doc_id,
         | CASE WHEN ((g % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 < 90
         |  THEN 'train' ELSE 'eval' END AS split
         |FROM gid""".stripMargin,
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE $wordPairCtes,
         |pairs AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst),
         |lab AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
         |cs AS (SELECT comp, count(*) AS cluster_size FROM lab GROUP BY comp)
         |SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY 1
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS cluster_size,
         | (SELECT count(*) FROM documents) - (SELECT count(*) FROM lab)
         |   AS n_clusters""".stripMargin,
    "q_neardup_incremental" ->
      s"""WITH $wordPairCtes,
         |bk AS (SELECT doc_id, source,
         |  ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 AS b
         |  FROM documents),
         |m AS (
         | SELECT DISTINCT a.doc_id AS did
         | FROM e a JOIN e c ON a.s = c.s
         | JOIN bk ba ON a.doc_id = ba.doc_id
         | JOIN bk bc ON c.doc_id = bc.doc_id
         | JOIN cnt ca ON a.doc_id = ca.doc_id
         | JOIN cnt cb ON c.doc_id = cb.doc_id
         | WHERE ba.b >= 90 AND bc.b < 90
         | GROUP BY a.doc_id, c.doc_id, ca.n, cb.n
         | HAVING count(*) * 1.0 / (ca.n + cb.n - count(*)) >= 0.5)
         |SELECT doc_id, source FROM bk
         |WHERE b >= 90 AND doc_id NOT IN (SELECT did FROM m)""".stripMargin,
    "q_dup_mass" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |   i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s FROM t),
        |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |  (CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1.0)
        |    / count(*) AS dup_frac
        |FROM sh JOIN df ON sh.s = df.s
        |GROUP BY 1""".stripMargin,
    "q_source_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, text FROM documents
        |  UNION
        |  SELECT DISTINCT 'mirror' AS source, text FROM documents
        |  WHERE doc_id % 7 = 0)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |FROM st a JOIN st b ON a.text = b.text AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 4),
        |   i -> concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5])))) AS s FROM t),
        |train AS (SELECT doc_id, s FROM sh
        | WHERE ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 < 90),
        |ev AS (SELECT DISTINCT s FROM sh
        | WHERE ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 >= 90)
        |SELECT doc_id, count(*) AS n_contaminated
        |FROM train JOIN ev USING (s) GROUP BY doc_id""".stripMargin,
    "q_dedup_incremental" ->
      """SELECT doc_id, source FROM documents b
        |WHERE ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 >= 90
        |AND NOT EXISTS (SELECT 1 FROM documents c
        |  WHERE ((c.doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 < 90
        |  AND c.text = b.text)""".stripMargin,
    // the bloom is a pure pre-filter: the final result is exactly the
    // plain incremental-dedup relation
    "q_bloom_incremental" ->
      """SELECT doc_id, source FROM documents b
        |WHERE ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 >= 90
        |AND NOT EXISTS (SELECT 1 FROM documents c
        |  WHERE ((c.doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 < 90
        |  AND c.text = b.text)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "q_dedup_editdist" ->
      s"""WITH $wordPairCtes,
         |cand AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.3)
         |SELECT id_a, id_b,
         | CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist,
         | levenshtein(da.text, db.text) * 1.0
         |   / greatest(length(da.text), length(db.text)) AS rel_dist
         |FROM cand
         |JOIN documents da ON cand.id_a = da.doc_id
         |JOIN documents db ON cand.id_b = db.doc_id
         |WHERE levenshtein(da.text, db.text) * 1.0
         |   / greatest(length(da.text), length(db.text)) <= 0.2""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH $wordPairCtes
         |SELECT id_a, id_b,
         | inter * 1.0 / (ca.n + cb.n - inter) AS jaccard
         |FROM p
         |JOIN cnt ca ON id_a = ca.doc_id
         |JOIN cnt cb ON id_b = cb.doc_id
         |WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5""".stripMargin,
    "q_dedup_components" ->
      s"""WITH RECURSIVE $wordPairCtes,
         |pairs AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst)
         |SELECT id AS doc_id, min(comp) AS comp FROM walk GROUP BY id""".stripMargin,
    "q_window_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 14),
        |   i -> array_to_string(list_slice(w, i+1, i+15), ' ')))) AS s FROM t),
        |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |e AS (SELECT doc_id, sh.s FROM sh JOIN keep ON sh.s = keep.s)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $wordPairCtes,
         |pairs AS (
         | SELECT id_a, id_b FROM p
         | JOIN cnt ca ON id_a = ca.doc_id
         | JOIN cnt cb ON id_b = cb.doc_id
         | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |walk AS (
         | SELECT src AS id, src AS comp FROM edges
         | UNION
         | SELECT e2.src AS id, w.comp AS comp
         | FROM edges e2 JOIN walk w ON w.id = e2.dst),
         |lab AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
         |SELECT d.doc_id,
         | coalesce(l.comp, d.doc_id) AS canonical_id,
         | coalesce(l.comp, d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN lab l ON d.doc_id = l.id""".stripMargin,
    "q_dedup_ngram" ->
      """WITH e0 AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(strlen(text) - 4),
        |   i -> substring(text, CAST(i + 1 AS INTEGER), 5)))) AS s
        | FROM documents),
        |keep AS (SELECT s FROM e0 GROUP BY s HAVING count(*) <= 100),
        |e AS (SELECT doc_id, e0.s FROM e0 JOIN keep ON e0.s = keep.s),
        |cnt AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | inter * 1.0 / (ca.n + cb.n - inter) AS jaccard
        |FROM p
        |JOIN cnt ca ON id_a = ca.doc_id
        |JOIN cnt cb ON id_b = cb.doc_id
        |WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5""".stripMargin,
    // The MinHash signatures themselves are hash-family-specific (not
    // DuckDB-expressible), but the OPERATOR's contract is: banded LSH
    // candidate generation loses no pair at the 0.5 threshold, and
    // survivors carry exact verified Jaccard. So the exact pair relation
    // IS the oracle — identical to q_dedup_jaccard's (verified bitwise-
    // equal at sf0.001/0.01/0.1; banding is deterministic, so a recall
    // loss is a real regression, not sampling noise, and now fails the
    // GATE instead of only the recall spec).
    "q_minhash_lsh" ->
      s"""WITH $wordPairCtes
         |SELECT id_a, id_b,
         | inter * 1.0 / (ca.n + cb.n - inter) AS jaccard
         |FROM p
         |JOIN cnt ca ON id_a = ca.doc_id
         |JOIN cnt cb ON id_b = cb.doc_id
         |WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5""".stripMargin
  )
}
