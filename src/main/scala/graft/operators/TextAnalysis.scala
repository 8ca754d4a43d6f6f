package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for training-data pipelines: language-ID
  * heuristic, quality scoring, token counting, document fingerprinting.
  *
  * All of these are per-row, shuffle-free, codegen-friendly column
  * expressions (no UDFs): at 100 TB they run at scan speed with full
  * column pruning — only `doc_id` and `text` are read.
  *
  * Cross-engine float discipline: every derived double is produced by the
  * same operation sequence as the DuckDB oracle (int-exact counts, one
  * division, fixed-order weighted sum) — the values are bitwise identical
  * across engines, so they ship UNROUNDED (rounding would reintroduce the
  * Spark-vs-DuckDB round-semantics mismatch at .xxx5 shortest-reprs). Only
  * tfidf rounds: its `ln` comes from different libm implementations, so a
  * last-ulp difference is possible and the 4-dp grid absorbs it.
  */
object TextAnalysis {

  /** Canonical lexicons live with their codegen kernels (functions.Lexicon)
    * so operator code, kernels, and oracles cannot drift apart. */
  val EnStopwords: Seq[String] = graft.functions.LexiconKernels.EnStopwords

  private def toks: Column = split(col("text"), " ")

  /** Stopword-hit ratio of the whitespace-tokenized `text` column — the
    * language-ID signal. Shared with operators.Pipeline so the formula and
    * its oracles cannot drift apart. The hit count is the `stopword_hits`
    * codegen kernel (one while-loop pass) rather than a
    * `size(filter(...))` HOF chain — HOF lambdas run interpreted per
    * token, the round-1 100× scan hazard; a parity spec pins the two
    * formulations equal. */
  def enRatioOf(text: Column): Column =
    call_function("stopword_hits", text) * lit(1.0) / size(split(text, " "))

  /** The 0.4·length + 0.4·distinct + 0.2·mean-len quality score. Shared
    * with operators.Pipeline. */
  def qualityOf(text: Column): Column = {
    val t = split(text, " ")
    val nTokens = size(t)
    val distinctRatio = size(array_distinct(t)) * lit(1.0) / nTokens
    val meanLen = (length(text) - (nTokens - lit(1))) * lit(1.0) / nTokens
    lit(0.4) * least(lit(1.0), nTokens * lit(1.0) / 100.0) +
      lit(0.4) * distinctRatio +
      lit(0.2) * when(meanLen.between(3.0, 8.0), 1.0).otherwise(0.0)
  }

  private def langId(s: SparkSession, d: String): DataFrame = {
    val ratio = enRatioOf(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      when(ratio >= 0.05, "en").otherwise("other").as("pred_lang"),
      ratio.as("en_ratio"))
  }

  private def quality(s: SparkSession, d: String): DataFrame = {
    val nTokens = size(toks)
    val distinctRatio = size(array_distinct(toks)) * lit(1.0) / nTokens
    // chars excluding the single-space separators, per token
    val meanLen = (length(col("text")) - (nTokens - lit(1))) * lit(1.0) / nTokens
    Tables.documents(s, d).select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      distinctRatio.as("distinct_ratio"),
      meanLen.as("mean_len"),
      qualityOf(col("text")).as("score"))
  }

  private def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("re_tokens"),
      length(col("text")).as("n_chars_m"))

  private def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      call_function("content_fp", col("text")).as("fp"))

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken 2003 —
    * the MOSS local algorithm): positional 3-word grams are hashed with
    * the portable content_fp polynomial and a w=4 sliding-window minimum
    * selects the document's fingerprint SET. Winnowing guarantees any
    * shared run of ≥ w+k−1 words between two documents shares a selected
    * fingerprint, at expected density 2/(w+1) — the principled
    * sub-sampling that makes all-pairs substring matching indexable.
    * Tie-break position rules never affect the selected VALUE set (equal
    * hashes collide to one value), so the set is engine-independent.
    * Scale shape: pure per-row codegen array ops — no explode, no
    * shuffle; the 100 TB cost is one map pass. Docs with fewer grams
    * than the window select their single minimum; docs under k words
    * select nothing. The oracle replays grams, hash, and sweep in DuckDB
    * list comprehensions (the content_fp doctrine). */
  private def winnow(s: SparkSession, d: String): DataFrame =
    winnowOver(Tables.documents(s, d))

  /** The winnowing kernel over any (doc_id, text) relation — shared by
    * the q_winnow operator key and the `winnow` SQL table function
    * (r15). Pure per-row codegen array ops: no explode, no shuffle.
    * Words, gram hashes and the selection are each a column of their own
    * projection: the window lambdas read them rather than inlining them,
    * which would re-split the text per gram and rehash every gram per
    * window (quadratic in the document's length). Each is read more than
    * once, so `CollapseProject` keeps the projections apart. */
  private[graft] def winnowOver(docs: DataFrame): DataFrame = {
    val w = 4
    val ws = col("ws")
    val grams = when(size(ws) >= 3,
      transform(sequence(lit(0), size(ws) - 3),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2),
          element_at(ws, i + 3))))
      .otherwise(array().cast("array<string>"))
    val hs = col("hs")
    val n = size(hs)
    val selected =
      when(n >= w,
        array_distinct(transform(sequence(lit(0), n - w),
          i => array_min(slice(hs, i + lit(1), lit(w))))))
        .when(n >= 1, array(array_min(hs)))
        .otherwise(array().cast("array<bigint>"))
    val sel = col("sel")
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), transform(grams, g => call_function("content_fp", g)).as("hs"))
      .select(col("doc_id"), n.as("n_grams"), selected.as("sel"))
      .select(
        col("doc_id"),
        col("n_grams"),
        size(sel).as("n_selected"),
        aggregate(sel, lit(0L), (a, x) => a + x).as("fp_sum"),
        array_min(sel).as("fp_min"))
  }

  /** TF-IDF scoring: top term per document by tf·idf. Inverted document-
    * frequency join on hashed terms; the per-term df aggregation is
    * partial/map-side combined, so shuffle volume is O(distinct terms),
    * not O(corpus). The top term is a `min_by` aggregate over the
    * (−score, term) struct ordering — identical to ORDER BY score DESC,
    * term ASC but partial-combining map-side, so the exchange carries one
    * row per document instead of every scored (doc, term) pair a
    * row_number window would shuffle and sort. */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.select(countDistinct(col("doc_id")).as("nd"))
    // r17 optimization: the (doc, term) counts feed the df aggregation
    // AND the score join — materialized once so the corpus is exploded
    // once, not twice.
    val terms = graft.operators.Relational.materializeOnce(s, d, "tfidf_terms")(
      docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val df = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    terms
      .join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("raw_score", col("tf") * log((col("nd") + 1.0) / (col("df") + 1.0)))
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("term"), col("raw_score")),
        struct(-col("raw_score"), col("term"))).as("best"))
      .select(col("doc_id"), col("best.term").as("top_term"),
        round(col("best.raw_score"), 4).as("score"))
  }

  /** Gopher-style repetition signals: top-word concentration and duplicate
    * n-gram fractions — the repetition family of pretraining quality filters
    * (boilerplate, keyword stuffing, and generation loops score high).
    * Per-row codegen kernels (functions/Repetition.scala): shuffle-free,
    * scan-speed at 100 TB. Each value is a ratio of two exact integer
    * counts, so the single IEEE division is bitwise-identical cross-engine
    * and ships unrounded. */
  private def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      call_function("top_token_frac", col("text")).as("top_word_frac"),
      call_function("dup_ngram_frac", col("text"), lit(2)).as("dup_bigram_frac"),
      call_function("dup_ngram_frac", col("text"), lit(3)).as("dup_trigram_frac"))

  /** Policy-denylist scrubbing: per-document denylist hit count, hit
    * fraction, and the text with denylisted tokens masked — the
    * blocklist-filtering step of a pretraining pipeline (profanity / PII
    * term / unwanted-domain vocab removal). Token-level membership rather
    * than a regex: exact and engine-portable (no regex-dialect drift
    * between engines), and per-row scan work — shuffle-free, column-pruned
    * to (doc_id, text) at 100 TB. The hit fraction is a ratio of two exact
    * ints (one IEEE division, bitwise cross-engine, ships unrounded).
    * Counting and masking are single-pass codegen kernels
    * (`denylist_hits` / `denylist_mask`), not interpreted
    * filter/transform HOF lambdas — the round-1 100× scan hazard; a
    * parity spec pins kernel == HOF. */
  val Denylist: Seq[String] = graft.functions.LexiconKernels.Denylist

  private def denylist(s: SparkSession, d: String): DataFrame = {
    val hits = call_function("denylist_hits", col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      hits.as("n_hits"),
      (hits * lit(1.0) / size(toks)).as("hit_frac"),
      call_function("denylist_mask", col("text")).as("scrubbed"))
  }

  /** The PII pattern this scrubber removes. Deliberately restricted to a
    * regex subset (character classes, +, literal dot) that parses and
    * matches identically under Java regex (Spark) and RE2 (DuckDB), so the
    * oracle is engine-exact — the denylist op above handles the cases
    * where regex dialects would drift. */
  val PiiEmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"

  /** Regex PII scrubbing: count and mask email-shaped spans. Per-row
    * regexp work inside the scan (codegen, shuffle-free, column-pruned)
    * — the compliance pass every training corpus runs before release.
    *
    * The test corpus contains no PII (nor should it), so the condition is
    * synthesized deterministically, the q_source_overlap / q_upsert
    * doctrine: every 5th document gets an injected contact string, and
    * the oracle checks the scrubber removes exactly those spans at every
    * SF. */
  /** The per-row scrub transform over (doc_id, text), shared by the batch
    * key and the D16 streaming replay (`q_stream_pii`) — stream-transparent
    * by construction: pure per-row codegen expressions, no state, no
    * shuffle, so the same plan runs on a batch scan or a micro-batch. */
  def piiScrubOf(docs: DataFrame): DataFrame = {
    val injected = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com now")))
        .otherwise(col("text")).as("text"))
    injected.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(PiiEmailRe), lit(0))).as("n_pii"),
      regexp_replace(col("text"), PiiEmailRe, "<EMAIL>").as("clean_text"))
  }

  private def piiScrub(s: SparkSession, d: String): DataFrame =
    piiScrubOf(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** Luhn-gated credit-card PII detection: PAN-shaped digit runs (13-19,
    * ISO/IEC 7812) counted and then checksum-validated — the gate a real
    * compliance pass needs because bare 13+-digit regex hits are mostly
    * ids/hashes/timestamps, and Luhn rejects ~90% of random runs. Both
    * counts are one codegen pass over the text (functions/Luhn.scala), no
    * per-row regex, shuffle-free — scan speed at 100 TB.
    *
    * The corpus carries no card numbers (nor should it), so the condition
    * is synthesized deterministically per the piiScrub doctrine: every 3rd
    * doc gets a doc_id-derived 16-digit run (Luhn-valid for ~10% of them),
    * every 7th a known-valid PAN, so candidates != valids at every SF and
    * both columns are non-vacuous. */
  private def piiLuhn(s: SparkSession, d: String): DataFrame = {
    val injected = Tables.documents(s, d).select(col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" pan "),
            lpad(((col("doc_id") * 7919) % 1000000000).cast("string"), 16, "4")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" card 4532015112830366"))
          .otherwise(lit(""))).as("text"))
    injected.select(
      col("doc_id"),
      call_function("cc_candidates", col("text")).as("n_cc_candidates"),
      call_function("cc_valid", col("text")).as("n_cc_valid"))
  }

  /** Gopher-style composite quality gate (Rae et al. 2021 §A1.1 rules,
    * adapted to this corpus's scale): per-document boolean rule flags and
    * the conjunctive keep decision. Every rule is a comparison of exact
    * integer counts or of a double produced by the identical op sequence
    * in both engines (mean-length ratio, top-token fraction) — comparisons
    * of bitwise-equal doubles are engine-portable, so the booleans hash
    * exactly. Per-row, shuffle-free, scan-speed at 100 TB. */
  private def gopherFlags(s: SparkSession, d: String): DataFrame =
    gopherFlagsOver(Tables.documents(s, d), col("doc_id"), col("text"))

  /** The gate core over any (id, text) relation — also the SQL dialect's
    * `quality_gate(tbl, id, text)` table function. */
  private[graft] def gopherFlagsOver(df: DataFrame, id: Column, text: Column): DataFrame = {
    val nTokens = size(split(text, " "))
    val meanLen = (length(text) - (nTokens - lit(1))) * lit(1.0) / nTokens
    val stopHits = call_function("stopword_hits", text)
    val okWords = nTokens.between(20, 100000)
    val okMeanLen = meanLen.between(3.0, 10.0)
    val okRep = call_function("top_token_frac", text) <= 0.2
    val okStop = stopHits >= 2
    df.select(
      id.as("doc_id"),
      okWords.as("ok_words"),
      okMeanLen.as("ok_mean_len"),
      okRep.as("ok_repetition"),
      okStop.as("ok_stopwords"),
      (okWords && okMeanLen && okRep && okStop).as("keep"))
  }

  /** Corpus vocabulary heavy hitters: global token frequencies, top-N.
    * explode → partial (map-side) count → final count → TakeOrdered: the
    * shuffle carries one row per distinct token per mapper, not per token
    * occurrence, and the top-N never materializes a global sort. */
  private def vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(25)

  /** Domain-affinity scoring (DSIR-lite): fraction of each document's
    * tokens found in the TARGET domain's top-50 vocabulary — data-driven
    * curation scoring where the lexicon is DERIVED from an exemplar
    * subset (here the 'en' docs) instead of hand-written (the static twin
    * is q_denylist). Shape: heavy-hitter aggregate (partial counts +
    * TakeOrdered 50, no global sort) → the 50-row lexicon rides an
    * AQE-broadcast join under the exploded-token scan → per-doc hit-ratio
    * re-aggregation. The score is a ratio of two exact integer counts —
    * one IEEE division, bitwise cross-engine. Deterministic at the LIMIT
    * boundary via the (count DESC, word) tie-break, identical in both
    * engines. */
  private def domainAffinity(s: SparkSession, d: String): DataFrame = {
    val toksAll = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val lex = Tables.documents(s, d).filter(col("lang") === "en")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(50)
      .select(col("word").as("lex_word"))
    toksAll.join(lex, col("word") === col("lex_word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(when(col("lex_word").isNotNull, 1).otherwise(0)) * lit(1.0) /
          count(lit(1))).as("affinity"))
  }

  /** RAG chunking parameters: 32-token windows advancing 24 tokens (8-token
    * overlap). Shared constants so the operator, its oracle, and the spec
    * cannot drift. */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** Overlapping token-window chunking — the retrieval/embedding prep step
    * (split every document into fixed-token windows with overlap so no
    * boundary sentence is lost to a hard cut). Pure per-row work: tokenize
    * once, explode the window-start sequence, slice — codegen built-ins
    * only, shuffle-free, column-pruned to (doc_id, text); output is
    * ~n/stride rows per doc, linear in the corpus. Tail chunks shorter
    * than a full window are kept (standard RAG practice; the trailing
    * partial context still retrieves). chunk_id arithmetic is exact:
    * (start−1) is a stride multiple, so the double division is integral. */
  private def chunkOverlap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"),
        size(split(col("text"), " ")).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(1), col("n"), lit(ChunkStride))).as("start"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / lit(ChunkStride)).cast("int").as("chunk_id"),
        array_join(slice(col("toks"), col("start"), lit(ChunkTokens)), " ").as("chunk_text"),
        least(lit(ChunkTokens), col("n") - col("start") + 1).as("n_chunk_tokens"))

  /** Per-source vocabulary-overlap matrix: Jaccard similarity between the
    * distinct-token vocabularies of every source pair — the corpus-level
    * redundancy signal for mixture design (two crawls of the same domain
    * show near-1 vocabulary Jaccard long before doc-level dedup finds the
    * copies). Scale shape: the corpus collapses to distinct (source,
    * token) FIRST — the self-join input is vocabulary-sized, not
    * corpus-sized — and the token-keyed join fans out at most
    * #sources per posting, so candidate volume is |vocab|·sources², with
    * a sources²-row result. Jaccard is a ratio of exact integer counts:
    * one IEEE division, bitwise cross-engine, ships unrounded. */
  private def vocabOverlap(s: SparkSession, d: String): DataFrame = {
    val sw = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .distinct()
    val sizes = sw.groupBy(col("source")).agg(count(lit(1)).as("vsize"))
    val inter = sw.as("a")
      .join(sw.as("b"),
        col("a.word") === col("b.word") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("vsize").as("va"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("vsize").as("vb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("va") + col("vb") - col("inter")).as("union_n"),
        (col("inter") * lit(1.0) / (col("va") + col("vb") - col("inter"))).as("jaccard"))
  }

  /** Language-ID evaluation: confusion counts of the heuristic prediction
    * against the labeled `lang` column — the accuracy report that keeps a
    * classifier-gated pipeline honest (a drifting heuristic silently
    * reshapes the corpus; this surfaces it as a moved confusion mass).
    * One partial-combined groupBy over (label, prediction); output is
    * |langs|·2 rows at any corpus size. */
  private def langidEval(s: SparkSession, d: String): DataFrame = {
    val ratio = enRatioOf(col("text"))
    Tables.documents(s, d)
      .select(col("lang"),
        when(ratio >= 0.05, "en").otherwise("other").as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-source top terms: the 5 most frequent tokens of every source —
    * the per-source vocabulary card (global heavy hitters C23 hide which
    * source a term dominates). Bounded-heap `top_k` per source over the
    * partial-combined (source, word) counts: the shuffle carries distinct
    * words per mapper and then 5 rows per source — no row_number window
    * sorting every count. Deterministic at the boundary: the heap orders
    * by (count, word) with word-DESC tie-break (top_k keeps the largest
    * struct; strings have no negation), and the oracle mirrors exactly
    * that tie direction. */
  private def vocabBySource(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(call_function("top_k", struct(col("n"), col("word")), lit(5)).as("top"))
      .select(col("source"), explode(col("top")).as("t"))
      .select(col("source"), col("t.word").as("word"), col("t.n").as("n"))

  /** Approximate distinct counting (HLL++): the constant-memory cardinality
    * path at 100 TB (exact distinct shuffles every value; HLL merges
    * fixed-size sketches). Cross-engine sketch internals differ, so raw
    * sketch estimates can never hash-match an independent oracle — instead
    * the query reports the invariant a working sketch must satisfy
    * (the q_embed_pca pattern): exact per-group cardinalities (fully
    * DuckDB-checkable) alongside booleans asserting the HLL estimate lands
    * within 5% of each (rsd=0.02, so 5% is ~2.5σ — a broken sketch fails
    * the GATE, not just a spec). The exact counts ride in the same
    * one-pass aggregate; the library op at 100 TB is the approx column
    * alone — the exact twin here is the grader, same as q_ann_pq's. */
  private def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("as_"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        (abs(col("ap") - col("exact_parts")) <= col("exact_parts") * 0.05)
          .as("parts_ok"),
        (abs(col("as_") - col("exact_supps")) <= col("exact_supps") * 0.05)
          .as("supps_ok"))

  /** BM25 relevance scoring (Robertson/Okapi, k1=1.2, b=0.75) of every
    * document against a fixed query-term set — the lexical-retrieval
    * scorer a RAG/data-curation stack runs next to embedding search.
    * idf uses the Lucene positive form ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Scale shape: one explode of the token stream filtered to the query
    * terms (predicate on the exploded value → the shuffle only ever
    * carries query-term hits, not the corpus vocabulary), partial-combined
    * tf counts, then two broadcast joins (df and corpus stats are
    * term-count- and 1-row-sized). Per-term scores pass through
    * DECIMAL(28,10) before the final sum so summation order can't wiggle
    * the last ulp (q_stats convention); one round(…,4) at the end. */
  private def bm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "hash", "window")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    // r17 optimization: the per-doc length relation feeds the corpus
    // stats AND the score join — materialized once (doc-count-sized) so
    // the corpus is split/scanned once for lengths, not twice.
    val dl = graft.operators.Relational.materializeOnce(s, d, "bm25_dl")(
      toks.select(col("doc_id"), size(col("w")).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = toks.select(col("doc_id"), explode(col("w")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1))
          * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast("decimal(28,10)").as("sc"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("sc")).cast("double"), 4).as("bm25"))
  }

  /** Bigram-LM perplexity scoring (CCNet-style quality filter): a bigram
    * language model with add-one smoothing is fit on the corpus itself and
    * every document is scored by its mean negative log-likelihood — the
    * in-domain-fluency signal used to rank web text for pretraining
    * (CCNet scores against a held-out LM; self-scoring is the same
    * machinery, and the model here IS a table, not an artifact).
    *
    *   p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V),  nll = −mean ln p
    *
    * where c(w1·) counts w1 as a bigram PREFIX (so p sums to 1 per w1)
    * and V is corpus vocabulary size. Scale shape: bigrams come from one
    * lead() window over doc-bounded partitions (state = one row); counts
    * partial-combine; the score join is bigram-table-sized, shuffled on
    * the bigram key — at 100 TB the join key would be xxhash64(w1,w2),
    * 8 bytes, the jaccardPairs trick. ln values pass through
    * DECIMAL(28,12) so per-doc summation order can't move the last ulp;
    * round(…,6) at the end. Docs under 2 tokens have no bigrams and no
    * row, in both engines. */
  private def bigramLm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    // r17 optimization: the bigram stream feeds the pair counts AND the
    // score join (2 evals of scan+posexplode+lead window without the
    // cache), and the prefix counts are exact sums of the pair counts —
    // c(w1·) = Σ_w2 c(w1 w2) — so they derive from the materialized
    // count table instead of a third pass (guide §1.2).
    val big = graft.operators.Relational.materializeOnce(s, d, "bigram_lm_big")(
      toks
      .withColumn("w2",
        lead(col("w"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2")))
    val cb = graft.operators.Relational.materializeOnce(s, d, "bigram_lm_cb")(
      big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))
    val c1 = cb.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
    val v = toks.agg(countDistinct(col("w")).as("v"))
    big.join(cb, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        log((col("cb") + lit(1.0)) / (col("c1") + col("v")))
          .cast("decimal(28,12)").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("s")).cast("double") / count(lit(1)) * lit(-1), 6).as("nll"))
  }

  /** Language-consistency audit: documents whose tagged language differs
    * from their source's MAJORITY language — the standard crawl-hygiene
    * pass (a mostly-English source emitting `de` rows usually means a
    * mislabeled scrape or boilerplate bleed, and mixed-language sources
    * poison per-language mixing weights downstream).
    *
    * Scale shape: the majority vote aggregates FIRST (sources × langs
    * rows — dimension-sized however big the corpus), the window ranks
    * inside that tiny relation, and the verdict joins back broadcast.
    * The corpus is scanned once for the vote and once for the verdict;
    * ties break lexicographically so the vote is deterministic. */
  private def langOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val majority = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("majority_lang"))
    docs.join(broadcast(majority), "source")
      .filter(col("lang") =!= col("majority_lang"))
      .select(col("doc_id"), col("source"), col("lang"), col("majority_lang"))
  }

  /** Count-min sketch accuracy report over the vocabulary: estimate the
    * exact top-20 terms' counts from a 4×2048 cms_agg grid and report the
    * CMS contract per term — never an underestimate (a hard guarantee:
    * every counter a term hashes to holds at least its true count), and
    * within an εN additive bound (ε = e/w ≈ 0.0013; asserted at 0.005·N,
    * ~4× slack — deterministic here since data and seeds are fixed).
    *
    * This is the frequency-sketch completing the approx family (HLL++
    * cardinality, approx_percentile quantiles, bloom membership): at
    * 100 TB "how often does each token appear" is a few hundred KB of
    * mergeable partial state instead of a vocabulary-wide shuffle. The
    * sketch arrives at the probe as a scalar subquery, so estimates are
    * per-row codegen lookups against the broadcast grid. A broken sketch
    * (hash drift, merge bug, packing bug) fails the GATE booleans, not
    * just a spec. */
  private def cmsVocab(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).createOrReplaceTempView("graft_cms_docs")
    s.sql("""
      |WITH tok AS (
      |  SELECT explode(split(text, ' ')) AS term FROM graft_cms_docs),
      |exact AS (
      |  SELECT term, count(*) AS n_exact FROM tok GROUP BY term
      |  ORDER BY n_exact DESC, term LIMIT 20),
      |est AS (
      |  SELECT term, n_exact,
      |    cms_estimate((SELECT cms_agg(term, 4, 2048) FROM tok), term, 2048) AS n_est
      |  FROM exact)
      |SELECT term, n_exact,
      |  n_est >= n_exact AS no_underestimate,
      |  n_est <= n_exact + CAST(ceil(0.005 * (SELECT count(*) FROM tok)) AS BIGINT)
      |    AS eps_bounded
      |FROM est
      |""".stripMargin)
  }

  /** PMI collocation card: the 20 most frequent bigrams with their
    * pointwise mutual information ln(P(w1w2) / (P(w1·)·P(·w2))) — the
    * standard phrase-mining signal (high-PMI pairs are units the tokenizer
    * should not split; near-zero PMI at high count is boilerplate).
    *
    * Scale shape: bigram counts are partial-combined (shuffle is
    * distinct-bigram-sized, not corpus-sized), the top-20 selection is a
    * bounded TakeOrdered on exact counts — count-ordered, NOT PMI-ordered,
    * so the selected set is integer-deterministic cross-engine — and the
    * margin joins run against a 20-row side. PMI itself: products of exact
    * int64 counts stay under 2^53, one IEEE division, one ln; round(4)
    * absorbs the last-ulp libm difference. */
  private def pmiBigrams(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val big = toks
      .withColumn("w2",
        lead(col("w"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
    // r17 optimization: every marginal is an exact sum of the pair
    // counts — c1(w1) = Σ_w2 cb, c2(w2) = Σ_w1 cb, n = Σ cb — so ONE
    // pass builds the materialized pair-count table and the other three
    // aggregates read it (was 4 evals of scan+posexplode+lead window).
    val cb = graft.operators.Relational.materializeOnce(s, d, "pmi_cb")(
      big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))
    val c1 = cb.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
    val c2 = cb.groupBy(col("w2")).agg(sum(col("cb")).as("c2"))
    val n = cb.agg(sum(col("cb")).as("n"))
    cb.orderBy(col("cb").desc, col("w1"), col("w2")).limit(20)
      .join(c1, Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("cb"),
        round(log(col("cb") * lit(1.0) * col("n") / (col("c1") * lit(1.0) * col("c2"))), 4)
          .as("pmi"))
  }

  /** Jensen–Shannon divergence between every source pair's unigram token
    * distributions — the mixture-design distance (vocabulary Jaccard C49
    * says whether sources share words; JS says whether they USE them at
    * the same rates — two crawls of one domain are near 0, code vs prose
    * near ln 2). Decomposed so only the shared-token inner join is needed:
    * tokens private to one side contribute p·ln2 in closed form, i.e.
    * JS = ½ln2·(2 − Σ_shared(p+q)) + ½·Σ_shared[p ln(2p/(p+q)) + q ln(2q/(p+q))].
    *
    * Scale shape: the corpus collapses to (source, token) counts first
    * (vocabulary-sized), per-source totals broadcast back, and the
    * token-keyed self-join fans out at most #sources per posting —
    * |vocab|·sources² candidates, sources² output rows. Cross-engine float
    * discipline: p and q are single-division doubles of exact counts;
    * per-term values are cast to DECIMAL(28,12) before summing so
    * summation order (Spark partial aggs vs DuckDB) cannot move a bit;
    * the one ln-per-term last-ulp wobble is absorbed by round(4). */
  private def jsDivergence(s: SparkSession, d: String): DataFrame = {
    // (r18 note: materializing the (source, token) counts was tried and
    // MEASURED 1.14× slower under an interleaved A/B — the self-join's
    // two sides already share one exchange via ReuseExchange, so the
    // cache only added persist overhead and broke codegen fusion.
    // Reverted; receipt in dev/bench_r18opt_ab_batch3.json.)
    val st = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val tot = st.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val p = st.join(broadcast(tot), "source")
      .select(col("source"), col("tok"), (col("c") * lit(1.0) / col("n")).as("p"))
    val pa = col("a.p"); val pb = col("b.p")
    p.as("a").join(p.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        pa.cast("decimal(28,12)").as("dpa"),
        pb.cast("decimal(28,12)").as("dpb"),
        (pa * log(pa * lit(2.0) / (pa + pb)) + pb * log(pb * lit(2.0) / (pa + pb)))
          .cast("decimal(28,12)").as("t"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"),
        round(
          lit(0.5) * log(lit(2.0)) *
            (lit(2.0) - (sum(col("dpa")) + sum(col("dpb"))).cast("double")) +
            lit(0.5) * sum(col("t")).cast("double"),
          4).as("js"))
  }

  /** Per-document unigram token entropy H = ln n − Σc·ln c / n — the
    * repetitiveness/diversity filter signal (low entropy at high length is
    * generated boilerplate; it separates "many distinct words" from
    * "many words", which distinct_ratio alone conflates).
    *
    * Scale shape: per-row after a (doc, token) partial-combined count —
    * no corpus-wide state at all. The ln n − Σ(c ln c)/n form needs no
    * per-term probability (no join back for the doc total); Σ c·ln c is
    * summed in DECIMAL(28,12) so order can't move a bit, and the final
    * round(4) absorbs per-term libm wobble. */
  private def tokenEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"),
        (col("c") * log(col("c"))).cast("decimal(28,12)").as("clc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(log(sum(col("c"))) - sum(col("clc")).cast("double") / sum(col("c")), 4)
          .as("entropy"))

  /** Content-defined chunking audit: tile every document into CDC chunks
    * (functions.CdcChunks — token-level Gear boundaries, expected chunk
    * length 16 tokens) and prove the tiling exactly. CDC is the
    * segmentation that survives edits: inserting a sentence shifts fixed
    * windows forever but re-synchronizes CDC at the next boundary token,
    * so chunk-hash dedup (xxhash64 over chunk text downstream) still
    * matches everything after the edit — the property CdcSpec pins.
    *
    * The boundary rule is kernel-internal (FNV-1a), so the gate checks
    * the engine-independent INVARARIANT instead of replaying hashes (the
    * q_approx_distinct pattern): chunks must tile the document — token
    * counts and character counts (with the n−1 rejoining spaces) must
    * reconstruct the original exactly. Per-row, shuffle-free, codegen. */
  private def cdcAudit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        call_function("cdc_chunks", col("text"), lit(16)).as("cs"))
      .select(col("doc_id"), col("text"), posexplode(col("cs")).as(Seq("cid", "ctext")))
      .groupBy(col("doc_id"))
      .agg(
        sum(size(split(col("ctext"), " "))).as("n_tokens"),
        (sum(length(col("ctext"))) + count(lit(1)) - 1).as("n_chars_joined"),
        first(col("text")).as("t"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") === size(split(col("t"), " ")) &&
          col("n_chars_joined") === length(col("t"))).as("tiles"))

  /** Deterministic curriculum ordering: quality-score percentile phases
    * (clean data first — the standard data-curriculum recipe) with a
    * multiplicative-hash shuffle key inside each phase, so the training
    * order is fully reproducible with NO RNG and no global sort
    * materialized here — the (phase, order_key) pair IS the order, and
    * the writer's range partitioner (or a per-phase bucketed write) sorts
    * at output time. Scale shape: one scan to score (the shared
    * [[qualityOf]] per-row kernel), a single-row exact-percentile agg
    * broadcast back, map-only phase + key assignment. Thresholds are
    * interpolated percentiles over bitwise-identical doubles, so phase
    * membership replays exactly cross-engine. */
  private def curriculum(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), qualityOf(col("text")).as("score"))
    val cuts = scored.agg(
      percentile(col("score"), lit(0.5)).as("p50"),
      percentile(col("score"), lit(0.75)).as("p75"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("score"),
        when(col("score") >= col("p75"), 0)
          .when(col("score") >= col("p50"), 1)
          .otherwise(2).as("phase"),
        pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)).as("order_key"))
  }

  /** Lexical diversity (type-token ratio + hapax fraction): the
    * vocabulary-richness quality signal — template/boilerplate text shows
    * low TTR and low hapax share, LM-worthy prose shows high. One
    * explode → (doc, word) count → per-doc aggregate; every ratio is ONE
    * int/int division so the doubles are bitwise cross-engine. Scale
    * shape: both aggregations partial-combine and key on doc_id —
    * embarrassingly parallel, no global state. */
  private def lexicalDiversity(s: SparkSession, d: String): DataFrame = {
    val wc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
    wc.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (col("n_types") * lit(1.0) / col("n_tokens")).as("ttr"),
        (col("n_hapax") * lit(1.0) / col("n_tokens")).as("hapax_frac"))
  }

  /** Zipf rank-frequency slope per source: least-squares slope of
    * ln(freq) on ln(rank) over each source's top-100 terms — natural text
    * sits near −1; templated/generated corpora flatten or steepen, making
    * the slope a one-number distribution-shape audit (Zipf 1949; Piantadosi
    * 2014 review). Scale shape: term counts partial-combine, the rank
    * window runs inside a 100-row-per-source relation (never global), and
    * the regression is four decimal-routed sums — ln values and their
    * products pass through DECIMAL(28,12) so per-source summation order
    * cannot move the last ulp (the bigram-LM discipline); one double
    * division at the end, round(…,6). */
  private def zipfSlope(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("word"))
    val top = freq.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 100)
    val x = log(col("rank").cast("double"))
    val y = log(col("n").cast("double"))
    top
      .select(col("source"),
        x.cast("decimal(28,12)").as("x"),
        y.cast("decimal(28,12)").as("y"),
        (x * y).cast("decimal(28,12)").as("xy"),
        (x * x).cast("decimal(28,12)").as("xx"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("xy")).cast("double").as("sxy"),
        sum(col("xx")).cast("double").as("sxx"))
      .select(col("source"), col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          / (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"))
  }

  /** Vocabulary coverage curve: what fraction of the corpus's total token
    * mass the top-k word types cover, for k ∈ {10, 100, 1000} — the
    * tokenizer-budget planning number (how big a vocab before coverage
    * plateaus). Only ranks ≤ max(k)=1000 ever contribute, so the plan is
    * a distributed top-1000 (TakeOrdered: per-partition heaps, one
    * 1000-row driver merge — no global sort shuffle, no vocabulary-wide
    * window) and the rank window runs over that CONSTANT 1000-row
    * relation no matter the corpus size (r12 rewrite: the previous
    * vocabulary-wide rank window measured 4.14× at ×100 — the vocabulary
    * scales under replication even though real vocab growth is
    * Heaps-sublinear). Ties break (count desc, word); counts and totals
    * are exact integers, coverage is one final IEEE division. Scale
    * shape: corpus collapses to (word, count) with map-side partial agg
    * first; the ×3 k-expansion is a broadcast range join over the
    * 1000-row relation. */
  private def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val top = wc.orderBy(col("c").desc, col("word")).limit(1000)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("word"))))
    val total = wc.agg(sum(col("c")).as("total_tokens"))
    val ks = s.range(1).select(explode(array(lit(10), lit(100), lit(1000))).as("k"))
    ranked.join(broadcast(ks), col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k").cast("bigint").as("k"), col("n_types"),
        col("covered_tokens"), col("total_tokens"),
        (col("covered_tokens").cast("double") / col("total_tokens"))
          .as("coverage"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between every pair of
    * sources' document-length distributions — the distribution-drift
    * audit before mixing corpora. The statistic is computed ENTIRELY in
    * integers: at each length value v, D_num(v) = |c₁(v)·n₂ − c₂(v)·n₁|
    * (cumulative counts cross-multiplied by the opposite sample size), so
    * KS = max D_num / (n₁·n₂) suffers zero float accumulation — one
    * final division. Scale shape: the corpus collapses to
    * (source, length, count) first; the value grid, cumulative windows
    * (per source, ordered by value), and the pair join are all
    * dimension-sized (sources × distinct lengths). */
  private def sourceKs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val cnt = docs.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val vals = docs.select(col("n_chars").as("v")).distinct()
    val grid = tot.select(col("source"), col("n")).crossJoin(broadcast(vals))
      .join(cnt, Seq("source", "v"), "left_outer")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum", sum(col("c0")).over(w))
      .select(col("source"), col("n"), col("v"), col("cum"))
    cum.as("a").join(cum.as("b"),
        col("a.v") === col("b.v") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        abs(col("a.cum") * col("b.n") - col("b.cum") * col("a.n")).as("dn"))
      .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"))
      .agg(max(col("dn")).as("ks_num"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("ks_num"),
        (col("ks_num").cast("double") / (col("n_a") * col("n_b")))
          .as("ks"))
  }

  /** Term burstiness (Church–Gale variance-to-mean ratio): for each word
    * with enough mass, VMR over its per-document counts including the
    * zero docs — VMR ≈ 1 is Poisson scatter (function words), VMR ≫ 1 is
    * bursty content/boilerplate. Computed by the exact identity
    * VMR = (N·Σc² − (Σc)²) / (N·Σc) — absent docs contribute nothing to
    * either sum, so the zeros never materialize; all sums are exact
    * integers, one final division. Scale shape: one explode → (doc,word)
    * partial-count → per-word partial agg; the N scalar broadcasts. */
  private def burstiness(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val wc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    val perWord = wc.groupBy(col("word"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .filter(col("s1") >= 50)
    perWord.crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("word"), col("df"), col("s1").as("total_count"),
        ((col("n_docs") * col("s2") - col("s1") * col("s1")).cast("double")
          / (col("n_docs") * col("s1"))).as("vmr"))
  }

  /** Robust length-outlier report (median/MAD): per language, documents
    * whose length deviates from the median by more than 3× the median
    * absolute deviation — the robust-statistics twin of q_outliers'
    * z-score (medians shrug off the heavy tails that inflate a stddev).
    * Both medians are exact interpolated percentiles (≡ quantile_cont);
    * the deviation and the 3×MAD comparison are single IEEE ops. Scale
    * shape: two passes over the corpus with language-dimension broadcast
    * joins between them; every aggregation partial-combines. */
  private def lengthOutliers(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("lang"), col("n_chars"))
    val med = docs.groupBy(col("lang"))
      .agg(percentile(col("n_chars"), lit(0.5)).as("med_chars"))
    val dev = docs.join(broadcast(med), "lang")
      .withColumn("dev", abs(col("n_chars") - col("med_chars")))
    val mad = dev.groupBy(col("lang"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad_chars"))
    dev.join(broadcast(mad), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("med_chars")).as("med_chars"),
        min(col("mad_chars")).as("mad_chars"),
        sum(when(col("dev") > col("mad_chars") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** BPE merge-candidate mining: the most frequent within-word character
    * bigrams across the corpus — literally the statistic a BPE tokenizer
    * trainer computes for its first merge, as one distributed scan (the
    * iterated trainer would re-run this over re-segmented text). The
    * pair explosion is a codegen'd transform/sequence over each word (no
    * UDF); counts partial-combine; top-20 goes through TakeOrdered
    * partial heaps, ties on the pair string. */
  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** Mergeable distinct-count sketches (the 100 TB cardinality path):
    * per-source HLL sketches union-merged to a global estimate, with the
    * algebraic contract asserted IN the result — merge-then-estimate
    * must equal estimate-direct (HLL registers are element-wise max, so
    * partial sketches lose nothing), and the estimate must sit within
    * the sketch's error envelope of the exact count. This is the
    * re-aggregatable rollup pattern (store sketches per partition, merge
    * at read) that q_approx_distinct's one-shot estimate cannot do. */
  private def hllMerge(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val merged = docs.groupBy(col("source"))
      .agg(hll_sketch_agg(col("text")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    docs.agg(
        hll_sketch_estimate(hll_sketch_agg(col("text"))).as("est_direct"),
        countDistinct(col("text")).as("n_exact"))
      .crossJoin(broadcast(merged))
      .select(col("n_exact"),
        // both paths must sit inside the sketch's error envelope of the
        // exact count (bitwise merge≡direct does NOT hold: the union may
        // densify a sparse sketch, shifting the estimator by a hair)
        (abs(col("est_direct") - col("n_exact")).cast("double")
          / col("n_exact") < 0.15).as("direct_within_bound"),
        (abs(col("est_merged") - col("n_exact")).cast("double")
          / col("n_exact") < 0.15).as("merged_within_bound"))
  }

  /** Flesch reading-ease per document, from three integer counts a
    * regex scan produces in one pass: words (whitespace tokens),
    * sentences (maximal [.!?]+ runs, floored at 1), syllables (maximal
    * [aeiouy]+ runs — vowel groups cannot span a space, so the per-doc
    * count equals the per-word sum without exploding words). The classic
    * readability gate (Kincaid 1975; score below ~30 = college-level
    * prose, negative = pathological) used as a cheap quality signal next
    * to C10's ratios. Score arithmetic is a fixed left-to-right chain of
    * IEEE ops over exact integers — bitwise cross-engine; map-only scan,
    * no shuffle. */
  private def readability(s: SparkSession, d: String): DataFrame = {
    val words = size(split(col("text"), " "))
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    val syllables = regexp_count(col("text"), lit("[aeiouy]+"))
    Tables.documents(s, d).select(
      col("doc_id"),
      words.cast("bigint").as("n_words"),
      sentences.cast("bigint").as("n_sentences"),
      syllables.cast("bigint").as("n_syllables"),
      round(lit(206.835)
        - lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - lit(84.6) * (syllables.cast("double") / words.cast("double")), 4)
        .as("flesch"))
  }

  /** Tokenizer-fertility audit per language: subword units per
    * whitespace word, with the subword segmentation proxied by maximal
    * vowel-run / consonant-run alternation ([aeiou]+|[^aeiou ]+) — the
    * syllable-ish split a byte-level BPE converges toward on alphabetic
    * text. High fertility = the tokenizer pays more sequence length per
    * word for that language — THE number behind per-language token
    * budgeting (a doc's token cost ≠ its word count). Exact integer
    * sums per language, one final division; map-only scan + 5-group
    * partial agg. */
  private def fertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("w"),
        regexp_count(col("text"), lit("[aeiou]+|[^aeiou ]+")).cast("bigint")
          .as("u"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"), sum(col("u")).as("n_subunits"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subunits"),
        (col("n_subunits").cast("double") / col("n_words")).as("fertility"))

  /** Heaps'-law exponent per source: least-squares slope of
    * ln(distinct types) on ln(tokens) across the source's documents —
    * natural text sits near β ≈ 0.6-0.8, while templated/generated
    * corpora flatten toward 0 (vocabulary stops growing with length).
    * The vocabulary-growth twin of C83's Zipf slope, same discipline:
    * both regressors are exact integers through ln, every product passes
    * DECIMAL(28,12) so per-source summation order cannot move the last
    * ulp, one double division, round 6. Scale shape: per-doc counts are
    * a map-side pass (size/array_distinct on the split — no explode),
    * the regression is a 20-group partial agg. */
  private def heapsLaw(s: SparkSession, d: String): DataFrame = {
    val x = log(size(split(col("text"), " ")).cast("double"))
    val y = log(size(array_distinct(split(col("text"), " "))).cast("double"))
    Tables.documents(s, d)
      .select(col("source"),
        x.cast("decimal(28,12)").as("x"),
        y.cast("decimal(28,12)").as("y"),
        (x * y).cast("decimal(28,12)").as("xy"),
        (x * x).cast("decimal(28,12)").as("xx"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("xy")).cast("double").as("sxy"),
        sum(col("xx")).cast("double").as("sxx"))
      .select(col("source"), col("n_docs"),
        round((col("n_docs") * col("sxy") - col("sx") * col("sy"))
          / (col("n_docs") * col("sxx") - col("sx") * col("sx")), 6)
          .as("heaps_beta"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_readability" -> readability _,
    "q_fertility" -> fertility _,
    "q_heaps_law" -> heapsLaw _,
    "q_length_outliers" -> lengthOutliers _,
    "q_bpe_merges" -> bpeMerges _,
    "q_hll_merge" -> hllMerge _,
    "q_vocab_coverage" -> vocabCoverage _,
    "q_source_ks" -> sourceKs _,
    "q_burstiness" -> burstiness _,
    "q_ttr" -> lexicalDiversity _,
    "q_zipf" -> zipfSlope _,
    "q_curriculum" -> curriculum _,
    "q_cdc_chunks" -> cdcAudit _,
    "q_pmi_bigrams" -> pmiBigrams _,
    "q_js_div" -> jsDivergence _,
    "q_token_entropy" -> tokenEntropy _,
    "q_cms_vocab" -> cmsVocab _,
    "q_lang_outliers" -> langOutliers _,
    "q_bm25" -> bm25 _,
    "q_bigram_lm" -> bigramLm _,
    "q_tfidf" -> tfidf _,
    "q_approx_distinct" -> approxDistinct _,
    "q_langid" -> langId _,
    "q_quality" -> quality _,
    "q_token_count" -> tokenCount _,
    "q_fingerprint" -> fingerprint _,
    "q_winnow" -> winnow _,
    "q_repetition" -> repetition _,
    "q_vocab" -> vocab _,
    "q_denylist" -> denylist _,
    "q_pii_scrub" -> piiScrub _,
    "q_pii_luhn" -> piiLuhn _,
    "q_domain_affinity" -> domainAffinity _,
    "q_gopher_flags" -> gopherFlags _,
    "q_chunk_overlap" -> chunkOverlap _,
    "q_vocab_overlap" -> vocabOverlap _,
    "q_langid_eval" -> langidEval _,
    "q_vocab_by_source" -> vocabBySource _
  )

  val oracles: Map[String, String] = Map(
    "q_readability" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_words,
        | greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
        | len(regexp_extract_all(text, '[aeiouy]+')) AS n_syllables,
        | round(206.835
        |  - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
        |     / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |        AS DOUBLE))
        |  - 84.6 * (CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS DOUBLE)
        |     / CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS flesch
        |FROM documents""".stripMargin,
    "q_fertility" ->
      """WITH per AS (
        | SELECT lang,
        |  len(string_split(text, ' ')) AS w,
        |  len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS u
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(w) AS BIGINT) AS n_words,
        | CAST(sum(u) AS BIGINT) AS n_subunits,
        | CAST(sum(u) AS DOUBLE) / sum(w) AS fertility
        |FROM per GROUP BY 1""".stripMargin,
    "q_heaps_law" ->
      """WITH per AS (
        | SELECT source,
        |  CAST(ln(CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    AS DECIMAL(28,12)) AS x,
        |  CAST(ln(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE))
        |    AS DECIMAL(28,12)) AS y,
        |  CAST(ln(CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    * ln(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE))
        |    AS DECIMAL(28,12)) AS xy,
        |  CAST(ln(CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    * ln(CAST(len(string_split(text, ' ')) AS DOUBLE))
        |    AS DECIMAL(28,12)) AS xx
        | FROM documents),
        |a AS (
        | SELECT source, count(*) AS n_docs,
        |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
        | FROM per GROUP BY 1)
        |SELECT source, n_docs,
        | round((n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx), 6)
        |   AS heaps_beta
        |FROM a""".stripMargin,
    "q_length_outliers" ->
      """WITH med AS (
        | SELECT lang, quantile_cont(n_chars, 0.5) AS med_chars
        | FROM documents GROUP BY 1),
        |dv AS (
        | SELECT d.lang, med_chars, abs(d.n_chars - med_chars) AS dev
        | FROM documents d JOIN med ON d.lang = med.lang),
        |mad AS (
        | SELECT lang, quantile_cont(dev, 0.5) AS mad_chars
        | FROM dv GROUP BY 1)
        |SELECT dv.lang, count(*) AS n_docs,
        | min(dv.med_chars) AS med_chars,
        | min(mad.mad_chars) AS mad_chars,
        | CAST(sum(CASE WHEN dev > mad_chars * 3 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_outliers
        |FROM dv JOIN mad ON dv.lang = mad.lang
        |GROUP BY 1""".stripMargin,
    "q_bpe_merges" ->
      """WITH w AS (
        | SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (
        | SELECT unnest(list_transform(range(1, len(w)),
        |   i -> w[i:i+1])) AS pair
        | FROM w WHERE len(w) >= 2)
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // the contract columns ARE the oracle: merge≡direct and the error
    // envelope must both hold, and the exact count is replayed literally
    "q_hll_merge" ->
      """SELECT count(DISTINCT text) AS n_exact,
        | true AS direct_within_bound, true AS merged_within_bound
        |FROM documents""".stripMargin,
    "q_vocab_coverage" ->
      """WITH wc AS (
        | SELECT word, count(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        | GROUP BY 1),
        |r AS (SELECT word, c,
        |  row_number() OVER (ORDER BY c DESC, word) AS rank FROM wc),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM wc),
        |ks AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_types,
        | CAST(sum(c) AS BIGINT) AS covered_tokens, total_tokens,
        | CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / total_tokens AS coverage
        |FROM r JOIN ks ON rank <= k CROSS JOIN t
        |GROUP BY k, total_tokens""".stripMargin,
    "q_source_ks" ->
      """WITH cnt AS (
        | SELECT source, n_chars AS v, count(*) AS c
        | FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |vals AS (SELECT DISTINCT n_chars AS v FROM documents),
        |grid AS (
        | SELECT tot.source, tot.n, vals.v, COALESCE(cnt.c, 0) AS c0
        | FROM tot CROSS JOIN vals
        | LEFT JOIN cnt ON cnt.source = tot.source AND cnt.v = vals.v),
        |cum AS (
        | SELECT source, n, v,
        |  CAST(sum(c0) OVER (PARTITION BY source ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM grid)
        |SELECT a.source AS src_a, b.source AS src_b,
        | a.n AS n_a, b.n AS n_b,
        | CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS ks_num,
        | CAST(CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS DOUBLE)
        |   / (a.n * b.n) AS ks
        |FROM cum a JOIN cum b ON a.v = b.v AND a.source < b.source
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    "q_burstiness" ->
      """WITH wc AS (
        | SELECT doc_id, word, count(*) AS c FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        | GROUP BY 1, 2),
        |pw AS (
        | SELECT word, count(*) AS df, CAST(sum(c) AS BIGINT) AS s1,
        |  CAST(sum(c * c) AS BIGINT) AS s2
        | FROM wc GROUP BY 1 HAVING CAST(sum(c) AS BIGINT) >= 50),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT word, df, s1 AS total_count,
        | CAST(n_docs * s2 - s1 * s1 AS DOUBLE) / (n_docs * s1) AS vmr
        |FROM pw CROSS JOIN nd""".stripMargin,
    "q_ttr" ->
      """WITH w AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types,
        | count(*) * 1.0 / CAST(sum(n) AS BIGINT) AS ttr,
        | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
        |   / CAST(sum(n) AS BIGINT) AS hapax_frac
        |FROM wc GROUP BY doc_id""".stripMargin,
    "q_zipf" ->
      """WITH w AS (
        | SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2),
        |r AS (SELECT source, n, row_number() OVER (
        |  PARTITION BY source ORDER BY n DESC, word) AS rank FROM f),
        |t AS (SELECT source,
        |  CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,12)) AS x,
        |  CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(28,12)) AS y,
        |  CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE))
        |    AS DECIMAL(28,12)) AS xy,
        |  CAST(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
        |    AS DECIMAL(28,12)) AS xx
        | FROM r WHERE rank <= 100),
        |a AS (SELECT source, count(*) AS n_terms,
        |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
        | FROM t GROUP BY 1)
        |SELECT source, n_terms,
        | round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
        |   AS zipf_slope
        |FROM a""".stripMargin,
    "q_curriculum" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
        |  CAST(length(text) AS INTEGER) AS n_chars
        | FROM documents),
        |s AS (
        | SELECT doc_id,
        |  0.4 * least(1.0, n_tokens * 1.0 / 100.0)
        |   + 0.4 * (n_distinct * 1.0 / n_tokens)
        |   + 0.2 * (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
        |       BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) AS score
        | FROM t),
        |c AS (
        | SELECT quantile_cont(score, 0.5) AS p50,
        |  quantile_cont(score, 0.75) AS p75 FROM s)
        |SELECT doc_id, score,
        | CASE WHEN score >= p75 THEN 0 WHEN score >= p50 THEN 1 ELSE 2 END
        |   AS phase,
        | (doc_id * 2654435761) % 4294967296 AS order_key
        |FROM s CROSS JOIN c""".stripMargin,
    // Invariant oracle (the q_approx_distinct pattern): the boundary rule
    // is kernel-internal, but a correct chunking must TILE — token and
    // char counts reconstruct the document exactly, independently checked
    // here from the raw table.
    "q_cdc_chunks" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | true AS tiles
        |FROM documents""".stripMargin,
    "q_pmi_bigrams" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |big AS (
        | SELECT bg[1] AS w1, bg[2] AS w2 FROM (
        |  SELECT unnest(list_transform(range(len(w) - 1),
        |    i -> [w[i+1], w[i+2]])) AS bg FROM tok)),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
        |c2 AS (SELECT w2, count(*) AS c2 FROM big GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM big),
        |top AS (SELECT * FROM cb ORDER BY cb DESC, w1, w2 LIMIT 20)
        |SELECT w1, w2, cb,
        | round(ln(cb * 1.0 * n / (c1 * 1.0 * c2)), 4) AS pmi
        |FROM top JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n""".stripMargin,
    "q_js_div" ->
      """WITH st AS (
        | SELECT source, tok, count(*) AS c FROM (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        | GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY 1),
        |p AS (
        | SELECT st.source, tok, c * 1.0 / n AS p
        | FROM st JOIN tot ON st.source = tot.source)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared,
        | round(0.5 * ln(2.0) *
        |   (2.0 - CAST(sum(CAST(a.p AS DECIMAL(28,12))) +
        |               sum(CAST(b.p AS DECIMAL(28,12))) AS DOUBLE)) +
        |  0.5 * CAST(sum(CAST(
        |    a.p * ln(a.p * 2.0 / (a.p + b.p)) +
        |    b.p * ln(b.p * 2.0 / (a.p + b.p)) AS DECIMAL(28,12))) AS DOUBLE),
        |  4) AS js
        |FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "q_token_entropy" ->
      """WITH tc AS (
        | SELECT doc_id, tok, count(*) AS c FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        | GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        | count(*) AS n_distinct,
        | round(ln(CAST(sum(c) AS BIGINT)) -
        |   CAST(sum(CAST(c * ln(c) AS DECIMAL(28,12))) AS DOUBLE)
        |     / CAST(sum(c) AS BIGINT), 4) AS entropy
        |FROM tc GROUP BY doc_id""".stripMargin,
    // Invariant oracle: the estimates are hash-family-specific, but the
    // CMS contract (no underestimates; εN additive bound) is assertable
    // exactly, and the top-20 terms + exact counts replay cross-engine.
    "q_cms_vocab" ->
      """WITH tok AS (
        | SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |exact AS (
        | SELECT term, count(*) AS n_exact FROM tok GROUP BY term
        | ORDER BY n_exact DESC, term LIMIT 20)
        |SELECT term, n_exact, true AS no_underestimate, true AS eps_bounded
        |FROM exact""".stripMargin,
    "q_lang_outliers" ->
      """WITH v AS (
        | SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang),
        |m AS (
        | SELECT source, lang AS majority_lang,
        |  row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn
        | FROM v)
        |SELECT d.doc_id, d.source, d.lang, m.majority_lang
        |FROM documents d JOIN m ON d.source = m.source AND m.rn = 1
        |WHERE d.lang <> m.majority_lang""".stripMargin,
    "q_bm25" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, len(w) AS dl FROM tok),
        |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |hits AS (
        | SELECT doc_id, unnest(w) AS t FROM tok),
        |tf AS (
        | SELECT doc_id, t, count(*) AS tf FROM hits
        | WHERE t IN ('spark', 'hash', 'window') GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |sc AS (
        | SELECT tf.doc_id,
        |  CAST(ln((n - df + 0.5) / (df + 0.5) + 1)
        |    * tf * 2.2
        |    / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS DECIMAL(28,10)) AS sc
        | FROM tf JOIN df USING (t) JOIN dl ON tf.doc_id = dl.doc_id, st)
        |SELECT doc_id, round(CAST(sum(sc) AS DOUBLE), 4) AS bm25
        |FROM sc GROUP BY doc_id""".stripMargin,
    "q_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |big AS (
        | SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(w) - 1),
        |    i -> [w[i+1], w[i+2]])) AS bg FROM tok)),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM tok)),
        |s AS (
        | SELECT doc_id, CAST(ln((cb + 1.0) / (c1 + v)) AS DECIMAL(28,12)) AS s
        | FROM big JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        | round(CAST(sum(s) AS DOUBLE) / count(*) * -1, 6) AS nll
        |FROM s GROUP BY doc_id""".stripMargin,
    // Invariant oracle: exact cardinalities are independently computed;
    // the _ok booleans assert the sketch's 5% bound held (see approxDistinct).
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_parts,
        | count(DISTINCT l_suppkey) AS exact_supps,
        | true AS parts_ok, true AS supps_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_langid_eval" ->
      """SELECT lang,
        | CASE WHEN len(list_filter(string_split(text, ' '),
        |   t -> t IN ('the','a','of','and','to','in','is'))) * 1.0
        |   / len(string_split(text, ' ')) >= 0.05 THEN 'en' ELSE 'other' END
        |   AS pred_lang,
        | count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_vocab_by_source" ->
      """WITH c AS (
        | SELECT source, word, count(*) AS n FROM (
        |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
        | GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |  ORDER BY n DESC, word DESC) AS rn FROM c)
        |SELECT source, word, n FROM r WHERE rn <= 5""".stripMargin,
    "q_chunk_overlap" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS n
        | FROM documents),
        |e AS (
        | SELECT doc_id, toks, n,
        |  unnest(generate_series(1, n, 24)) AS start
        | FROM t)
        |SELECT doc_id,
        | CAST((start - 1) / 24 AS INTEGER) AS chunk_id,
        | array_to_string(list_slice(toks, start, least(start + 31, n)), ' ')
        |   AS chunk_text,
        | CAST(least(32, n - start + 1) AS INTEGER) AS n_chunk_tokens
        |FROM e""".stripMargin,
    "q_vocab_overlap" ->
      """WITH sw AS (
        | SELECT DISTINCT source, word FROM (
        |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)),
        |vs AS (SELECT source, count(*) AS vsize FROM sw GROUP BY 1)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter,
        | va.vsize + vb.vsize - count(*) AS union_n,
        | count(*) * 1.0 / (va.vsize + vb.vsize - count(*)) AS jaccard
        |FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
        |JOIN vs va ON va.source = a.source
        |JOIN vs vb ON vb.source = b.source
        |GROUP BY a.source, b.source, va.vsize, vb.vsize""".stripMargin,
    "q_domain_affinity" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |lex AS (
        |  SELECT word FROM (
        |    SELECT word, count(*) AS n
        |    FROM (SELECT unnest(string_split(text, ' ')) AS word
        |          FROM documents WHERE lang = 'en')
        |    GROUP BY 1 ORDER BY n DESC, word LIMIT 50)),
        |j AS (
        |  SELECT t.doc_id, lex.word AS hit
        |  FROM t LEFT JOIN lex ON t.word = lex.word)
        |SELECT doc_id, count(*) AS n_tokens,
        |  (CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1.0) / count(*) AS affinity
        |FROM j GROUP BY 1""".stripMargin,
    "q_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' contact user' || doc_id || '@example.com now'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\.[a-z]+'))
        |    AS INTEGER) AS n_pii,
        |  regexp_replace(text, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g')
        |    AS clean_text
        |FROM inj""".stripMargin,
    // the Luhn lambda replays the kernel exactly: position i counted from
    // the right (i=1 rightmost, not doubled), doubled digits fold via -9
    "q_pii_luhn" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' pan ' ||
        |           lpad(CAST((doc_id * 7919) % 1000000000 AS VARCHAR), 16, '4')
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' card 4532015112830366'
        |         ELSE '' END AS text
        |  FROM documents),
        |runs AS (
        |  SELECT doc_id, regexp_extract_all(text, '[0-9]+') AS rs FROM inj)
        |SELECT doc_id,
        |  CAST(len(list_filter(rs, r -> len(r) BETWEEN 13 AND 19))
        |    AS INTEGER) AS n_cc_candidates,
        |  CAST(len(list_filter(rs, r -> len(r) BETWEEN 13 AND 19 AND
        |    list_sum(list_transform(range(1, len(r) + 1), i ->
        |      CASE WHEN i % 2 = 0
        |        THEN CASE WHEN CAST(substr(r, len(r)-i+1, 1) AS INT) * 2 > 9
        |                  THEN CAST(substr(r, len(r)-i+1, 1) AS INT) * 2 - 9
        |                  ELSE CAST(substr(r, len(r)-i+1, 1) AS INT) * 2 END
        |        ELSE CAST(substr(r, len(r)-i+1, 1) AS INT) END)) % 10 = 0))
        |    AS INTEGER) AS n_cc_valid
        |FROM runs""".stripMargin,
    "q_tfidf" ->
      """WITH t AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |sc AS (
        | SELECT doc_id, term, tf * ln((nd + 1.0) / (df + 1.0)) AS raw
        | FROM tf JOIN df USING (term) CROSS JOIN nd),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY raw DESC, term) AS rn FROM sc)
        |SELECT doc_id, term AS top_term, round(raw, 4) AS score
        |FROM r WHERE rn = 1""".stripMargin,
    // q_approx_distinct: HLL sketch internals are engine-specific →
    // rows-only here; ApproxSpec bounds the error vs exact counts.
    "q_langid" ->
      """SELECT doc_id,
        | CASE WHEN len(list_filter(string_split(text, ' '),
        |   t -> t IN ('the','a','of','and','to','in','is'))) * 1.0
        |   / len(string_split(text, ' ')) >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
        | len(list_filter(string_split(text, ' '),
        |   t -> t IN ('the','a','of','and','to','in','is'))) * 1.0
        |   / len(string_split(text, ' ')) AS en_ratio
        |FROM documents""".stripMargin,
    "q_quality" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
        |  CAST(length(text) AS INTEGER) AS n_chars
        | FROM documents)
        |SELECT doc_id, n_tokens,
        | n_distinct * 1.0 / n_tokens AS distinct_ratio,
        | (n_chars - (n_tokens - 1)) * 1.0 / n_tokens AS mean_len,
        | 0.4 * least(1.0, n_tokens * 1.0 / 100.0)
        |   + 0.4 * (n_distinct * 1.0 / n_tokens)
        |   + 0.2 * (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
        |       BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) AS score
        |FROM t""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS re_tokens,
        | CAST(length(text) AS INTEGER) AS n_chars_m
        |FROM documents""".stripMargin,
    "q_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2),
        |tw AS (SELECT doc_id,
        |  CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_word_frac
        | FROM wc GROUP BY 1),
        |l AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |  list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg,
        |  list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
        | FROM l)
        |SELECT doc_id, top_word_frac,
        | CASE WHEN len(bg) = 0 THEN 0.0
        |   ELSE CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) END AS dup_bigram_frac,
        | CASE WHEN len(tg) = 0 THEN 0.0
        |   ELSE CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg) END AS dup_trigram_frac
        |FROM tw JOIN g USING (doc_id)""".stripMargin,
    "q_vocab" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 25""".stripMargin,
    "q_denylist" ->
      """SELECT doc_id,
        | CAST(len(list_filter(string_split(text, ' '),
        |   t -> t IN ('customer','vector','spark'))) AS INTEGER) AS n_hits,
        | len(list_filter(string_split(text, ' '),
        |   t -> t IN ('customer','vector','spark'))) * 1.0
        |   / len(string_split(text, ' ')) AS hit_frac,
        | array_to_string(list_transform(string_split(text, ' '),
        |   t -> CASE WHEN t IN ('customer','vector','spark')
        |        THEN '[X]' ELSE t END), ' ') AS scrubbed
        |FROM documents""".stripMargin,
    "q_gopher_flags" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2),
        |tw AS (SELECT doc_id,
        |  CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_frac
        | FROM wc GROUP BY 1),
        |t AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','and','to','in','is'))) AS INTEGER) AS stop_hits
        | FROM documents),
        |f AS (
        | SELECT doc_id,
        |  n_tokens BETWEEN 20 AND 100000 AS ok_words,
        |  (n_chars - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 3.0 AND 10.0 AS ok_mean_len,
        |  top_frac <= 0.2 AS ok_repetition,
        |  stop_hits >= 2 AS ok_stopwords
        | FROM t JOIN tw USING (doc_id))
        |SELECT doc_id, ok_words, ok_mean_len, ok_repetition, ok_stopwords,
        | ok_words AND ok_mean_len AND ok_repetition AND ok_stopwords AS keep
        |FROM f""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents""".stripMargin,
    // winnowing: replay grams → poly hash → w=4 window-min sweep with
    // list comprehensions; list_sum([]) is NULL in DuckDB vs the
    // 0-initialized fold in Spark, hence the COALESCE
    "q_winnow" ->
      """WITH g AS (
        | SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |   [list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(
        |          string_split(
        |            array_to_string(
        |              list_slice(string_split(text, ' '), i, i + 2), ' '),
        |            ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007)
        |    for i in range(1, len(string_split(text, ' ')) - 1)]
        |  ELSE [] END AS hs
        | FROM documents),
        |s AS (
        | SELECT doc_id, len(hs) AS n,
        |  CASE WHEN len(hs) >= 4 THEN
        |    list_distinct([list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)])
        |  WHEN len(hs) >= 1 THEN [list_min(hs)]
        |  ELSE [] END AS sel
        | FROM g)
        |SELECT doc_id,
        | CAST(n AS INTEGER) AS n_grams,
        | CAST(len(sel) AS INTEGER) AS n_selected,
        | CAST(COALESCE(list_sum(sel), 0) AS BIGINT) AS fp_sum,
        | list_min(sel) AS fp_min
        |FROM s""".stripMargin
  )
}
