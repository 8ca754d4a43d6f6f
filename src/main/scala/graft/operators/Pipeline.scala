package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The end-to-end training-data cleaning pipeline: the composition every
  * LLM data pipeline runs — language filter → quality gate → near-dup
  * removal → per-doc stats — expressed as ONE declarative DataFrame plan so
  * Catalyst fuses the per-row stages into a single scan and the only
  * shuffles are the ones the near-dup stage fundamentally needs
  * (df-cut window, inverted-index join, pair aggregation).
  *
  * Near-dup policy: from every pair with 3-word-shingle Jaccard ≥ 0.5
  * (over df-pruned shingle sets — Dedup.WordMaxDf), the higher doc_id is
  * dropped (keep-first). The drop-list size is O(dup rate × corpus) —
  * 10⁸⁺ ids at 100 TB with a 10% dup rate — so the final anti join is NOT
  * hard-broadcast: AQE broadcasts it when the runtime size is small and
  * shuffles otherwise.
  */
object Pipeline {

  /** The shared gate chain (r17 optimization): ONE construction of the
    * language/quality gates and the near-dup drop set for BOTH
    * q_pipeline_clean and q_pipeline_attrition — the two keys previously
    * built plan-distinct copies of the identical shingled relation, so
    * each paid its own postings self-join; a single construction makes
    * the pair registry (Dedup.jaccardPairs' plan-identity key) share one
    * build. The stage formulas are THE TextAnalysis builders, so operator
    * and pipeline (and their oracles) cannot drift apart. Returns
    * (docs, langKept, kept, dropIds). */
  private def gateChain(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val sig = docs
      .withColumn("en", TextAnalysis.enRatioOf(col("text")))
      .withColumn("quality", TextAnalysis.qualityOf(col("text")))
    val langKept = sig.filter(col("en") >= 0.05)
    val kept = langKept.filter(col("quality") >= 0.5)
    // near-dup pairs (Dedup's inverted shingle index) → drop the higher
    // id of each pair (keep-first)
    val shingled = kept.select(col("doc_id"),
      call_function("word_shingles", col("text"), lit(3)).as("sh"))
    val dropIds = Dedup.jaccardPairs(shingled, 0.5, name = "pipeline_kept")
      .select(col("id_b").as("doc_id"))
      .distinct()
    (docs, langKept, kept, dropIds)
  }

  private def pipelineClean(s: SparkSession, d: String): DataFrame = {
    val (_, _, kept, dropIds) = gateChain(s, d)
    kept
      .join(dropIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"), col("quality"))
  }

  /** Per-source data cards: the governance summary every corpus release
    * ships (datasheet / data-card row per source) — volume, token mass,
    * length stats, language breadth, and exact-dup rate. One groupBy over
    * the scan: every aggregate partial-combines map-side except the two
    * distinct counts, which Spark plans as one Expand (2× the scan rows,
    * keyed shuffle, no global sort) — acceptable for a per-release audit
    * job; a continuously-updated card would swap them for HLL sketches
    * (approx_count_distinct) at zero shape change. Ratios are single IEEE
    * divisions over exact ints (bitwise cross-engine). */
  private def dataCards(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")) * lit(1.0) / count(lit(1))).as("avg_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("text")).as("n_unique"),
        (lit(1.0) - countDistinct(col("text")) * lit(1.0) / count(lit(1))).as("dup_rate"))

  /** Stage-attrition card for the cleaning pipeline: how many documents
    * survive each gate (raw → language → quality → near-dup) plus the
    * cumulative retention fraction — the one-page release report read
    * BEFORE q_pipeline_clean's output ships (a gate suddenly eating 40%
    * of a source is a pipeline bug, not a data property). The stage
    * formulas are THE TextAnalysis/Dedup builders pipelineClean composes,
    * so card and pipeline cannot drift; retention is a single IEEE
    * division of exact counts. Scale shape: the per-row gates fuse into
    * one scan per stage count (Catalyst shares the signal projections),
    * the dedup stage reuses the same candidate-bounded pair machinery,
    * output is 4 rows. */
  private def pipelineAttrition(s: SparkSession, d: String): DataFrame = {
    val (docs, langKept, kept, dropIds) = gateChain(s, d)
    val fin = kept.join(dropIds, Seq("doc_id"), "left_anti")
    val stages = Seq("0_raw" -> docs, "1_lang" -> langKept,
      "2_quality" -> kept, "3_dedup" -> fin)
    stages.map { case (st, df) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(st).as("stage"), col("n_docs"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n0"))))
      .select(col("stage"), col("n_docs"),
        (col("n_docs").cast("double") / col("n0")).as("retention"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_clean" -> pipelineClean _,
    "q_pipeline_attrition" -> pipelineAttrition _,
    "q_data_cards" -> dataCards _
  )

  /** Shared oracle CTE prefix replaying the cleaning stages (signals,
    * language gate, quality gate, df-cut shingle pairs, drop list) —
    * consumed by both q_pipeline_clean and q_pipeline_attrition so the
    * two oracles cannot drift apart. */
  private val cleanCtes =
    """t AS (
      | SELECT doc_id, lang, text,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  len(list_filter(string_split(text, ' '),
      |    x -> x IN ('the','a','of','and','to','in','is'))) * 1.0
      |    / len(string_split(text, ' ')) AS en_ratio,
      |  0.4 * least(1.0, len(string_split(text, ' ')) * 1.0 / 100.0)
      |   + 0.4 * (len(list_distinct(string_split(text, ' '))) * 1.0
      |            / len(string_split(text, ' ')))
      |   + 0.2 * (CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
      |       / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
      |       THEN 1.0 ELSE 0.0 END) AS quality
      | FROM documents),
      |langkept AS (SELECT * FROM t WHERE en_ratio >= 0.05),
      |kept AS (SELECT * FROM langkept WHERE quality >= 0.5),
      |sh AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   range(len(string_split(text, ' ')) - 2),
      |   i -> concat_ws(' ', string_split(text, ' ')[i+1],
      |     string_split(text, ' ')[i+2], string_split(text, ' ')[i+3]))) AS shs
      | FROM kept),
      |e0 AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |keep_s AS (SELECT s FROM e0 GROUP BY s HAVING count(*) <= 1000),
      |e AS (SELECT doc_id, e0.s FROM e0 JOIN keep_s ON e0.s = keep_s.s),
      |cnt AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
      |p AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      | FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |drop_ids AS (
      | SELECT DISTINCT id_b AS doc_id FROM p
      | JOIN cnt ca ON id_a = ca.doc_id
      | JOIN cnt cb ON id_b = cb.doc_id
      | WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_pipeline_clean" ->
      s"""WITH $cleanCtes
         |SELECT doc_id, lang, n_tokens, quality
         |FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)""".stripMargin,
    "q_pipeline_attrition" ->
      s"""WITH $cleanCtes,
         |stages AS (
         | SELECT '0_raw' AS stage, (SELECT count(*) FROM t) AS n_docs
         | UNION ALL
         | SELECT '1_lang', (SELECT count(*) FROM langkept)
         | UNION ALL
         | SELECT '2_quality', (SELECT count(*) FROM kept)
         | UNION ALL
         | SELECT '3_dedup', (SELECT count(*) FROM kept
         |   WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)))
         |SELECT stage, n_docs,
         | CAST(n_docs AS DOUBLE) / (SELECT count(*) FROM t) AS retention
         |FROM stages""".stripMargin,
    "q_data_cards" ->
      """WITH t AS (SELECT source, lang, text, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT source,
        | count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | sum(n_tokens) * 1.0 / count(*) AS avg_tokens,
        | min(n_chars) AS min_chars,
        | max(n_chars) AS max_chars,
        | count(DISTINCT lang) AS n_langs,
        | count(DISTINCT text) AS n_unique,
        | 1.0 - count(DISTINCT text) * 1.0 / count(*) AS dup_rate
        |FROM t GROUP BY source""".stripMargin
  )
}
