package graft

import org.apache.spark.sql.functions.{coalesce, col, lit, when}

import graft.operators.{Multimodal, Relational, Similarity}

/** Plan-shape audits: the scale properties SURVEY §4 promises, asserted on
  * the actual physical plans — pushdown, pruning, broadcast, TakeOrdered. */
class QueryPlanSpec extends SparkTestBase {

  private def plan(name: String): String = {
    GraftSession.prepare(spark)
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
  }

  test("SQL ASOF JOIN plans exactly one hash exchange (the B21 shape) (r14)") {
    // union-window lowering: tag both sides, shuffle ONCE on the asof
    // key (__k) — a range-join lowering would show a join node + extra
    // exchanges. (The key's own purchase pre-dedup contributes its own
    // groupBy exchange; only the __k shuffle is the asof machinery.)
    val p = plan("q_sql_asof")
    val asofExchanges = "hashpartitioning\\(__k".r.findAllIn(p).length
    assert(asofExchanges == 1, s"expected 1 asof exchange, got $asofExchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("generate_series is a Range leaf — generated, never scanned (r14)") {
    val p = plan("q_sql_series")
    assert(p.contains("Range (1"), p)
  }

  test("SQL SEMI JOIN plans as a left-semi with a broadcast probe side (r14)") {
    val p = plan("q_sql_semi_anti")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
  }

  test("quantified ALL reduces to one broadcast stats row, no per-row join (r14)") {
    // the subquery folds to a 1-row (min,max,count,nulls) aggregate read
    // as a scalar subquery value by every probe row — no join at all
    val p = plan("q_sql_any_all")
    assert(p.contains("struct(min(v) AS lo, max(v) AS hi, count(1) AS n"), p)
    assert(!p.contains("Join"), p)
  }

  test("diversity selection shuffles one row per vector, heaps per cell (r14)") {
    // assignment is a partial-combined max_by (objecthashaggregate), so
    // the exchange carries one row per vec_id; per-cell ranking is the
    // bounded-heap top_k aggregate, not a window sort over the corpus
    val p = plan("q_diversity_select")
    assert(p.contains("top_k") && !p.toLowerCase.contains("window"), p)
  }

  test("seeded shuffle's first-k read plans as TakeOrdered, no global sort (r14)") {
    val p = plan("q_shuffle_order")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("five DISTINCT aggregates over one column share ONE dedup pass (r16)") {
    // SUM/AVG/MIN/MAX/COUNT(DISTINCT o_custkey) in one query: a single
    // distinct-column family needs NO Expand at all — Catalyst rewrites
    // it as one partial-combined (group, value) dedup aggregate (MIN/MAX
    // ride along; the lowering already dropped their redundant DISTINCT)
    // feeding the distinct sum/count. Expand (which replicates every
    // input row per distinct family) appears only with MULTIPLE distinct
    // columns — over one column it would double the shuffled rows for
    // nothing at 100 TB.
    val p = plan("q_sql_sum_distinct")
    val expands = "Expand".r.findAllIn(p).length
    assert(expands == 0, s"expected no Expand, got $expands:\n$p")
    assert("keys=\\[o_orderstatus#\\d+L?, o_custkey#\\d+L?\\]".r
      .findFirstIn(p).nonEmpty, p) // the shared dedup pre-aggregation
    assert(p.contains("sum(distinct o_custkey"), p)
  }

  test("typed DATE/TIMESTAMP literals reach PushedFilters (r16)") {
    // both literal forms must constant-fold into scan-level pushed
    // range filters — a string-comparison lowering would cast the
    // COLUMN and push nothing
    GraftSession.prepare(spark)
    val p = SparkEntry.queries("q_sql_date_literal")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
  }

  test("ann_search nprobe=2 prunes to two cluster directories (r16)") {
    // the widened probe is still DIRECTORY pruning: cluster_id IN (c1,c2)
    // rides PartitionFilters over the hive-partitioned IVF layout — 2 of
    // 8 directories read, never a row-level filter over the corpus
    val p = plan("q_sql_ann_nprobe")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.nonEmpty, p)
    assert(pf.get.contains("cluster_id"), pf.get)
    assert(pf.get.contains(" IN (") || pf.get.contains("isin"), pf.get)
  }

  test("ann_search cells dial prunes to 2 of 16 cluster directories (r17)") {
    // the COST dial: a 16-cell layout probed at nprobe=2 still answers
    // from directory pruning — cluster_id IN (c1,c2) over 16 partitions
    // (scan fraction nprobe/cells, the 100 TB lever)
    val p = plan("q_sql_ann_cells")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.nonEmpty, p)
    assert(pf.get.contains("cluster_id"), pf.get)
    assert(pf.get.contains(" IN (") || pf.get.contains("isin"), pf.get)
  }

  test("point lookup pushes the equality filter into the parquet scan") {
    val p = plan("q_point_lookup")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderkey,42)"), p)
  }

  test("IS NOT DISTINCT FROM a literal pushes EqualNullSafe to the scan (r17)") {
    // the null-safe comparison must reach the parquet scan as a pushed
    // EqualNullSafe — a non-pushable lowering (e.g. a CASE rewrite)
    // would read every row group at 100 TB
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.register("orders", graft.sources.Tables.orders(spark, sfDir))
    val p = es.sql(
      "SELECT o_orderkey FROM orders WHERE o_orderstatus IS NOT DISTINCT FROM 'O' ORDER BY o_orderkey LIMIT 5;")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualNullSafe(o_orderstatus,O)"), p)
  }

  test("NATURAL JOIN plans as an equi-join, never a cartesian (r15)") {
    val p = plan("q_sql_natural")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("UPDATE … FROM / DELETE … USING plan as equi-joins (r15)") {
    // the WHERE's equi conjunct must reach the join condition — a
    // cartesian-with-filter residue would explode at scale
    val pu = plan("q_sql_update_from")
    assert(!pu.contains("CartesianProduct"), pu)
    val pd = plan("q_sql_delete_using")
    assert(!pd.contains("CartesianProduct"), pd)
    assert(pd.contains("LeftAnti"), pd) // keep = no match, ONE anti join
  }

  test("USING SAMPLE filters at scan speed, before any exchange (r15)") {
    // the desugared hash conjunct is a plain Filter directly over the
    // scan (arithmetic — not parquet-pushable, but evaluated per-row in
    // codegen before the aggregate's shuffle sees a single byte)
    val p = plan("q_sql_sample")
    val fi = p.indexOf("Filter")
    val ex = p.indexOf("Exchange")
    // plan text prints root-first: the scan-side Filter must sit BELOW
    // (after) the aggregate's Exchange — i.e. map-side, pre-shuffle
    assert(fi >= 0, p)
    assert(ex < 0 || fi > ex, p)
    assert(p.contains("2654435761"), p) // the hash conjunct is there
  }

  test("frame-free aggregate window carries no ORDER BY sort keys (r15)") {
    // SUM(n) OVER (PARTITION BY st): the window spec has no order —
    // windowspecdefinition(st, unspecifiedframe$()) or the whole-
    // partition frame; crucially NO global Sort over the fact relation
    // (the inner groupBy collapsed it to the status×priority grid first)
    val p = plan("q_sql_share")
    assert(p.contains("Window"), p)
  }

  test("tuple IN lowers to pushable equality disjunctions (r13)") {
    // the row-value membership must reach the parquet scan as pushed
    // Or/And equality filters — a struct-comparison lowering would not
    GraftSession.prepare(spark)
    val p = SparkEntry.queries("q_sql_in_tuple")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)") ||
      p.contains("In(o_orderstatus"), p)
  }

  test("aggregate FILTER clause partial-aggregates (no pre-shuffle row explosion) (r13)") {
    // agg-over-when must keep the HashAggregate partial/final split —
    // the conditional rides INSIDE the aggregate, not as a join or
    // per-row blowup before the exchange
    val p = plan("q_sql_filter_agg")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("projection queries prune the scan schema") {
    val p = plan("q_select_eq")
    // only the selected + filtered columns are read, not text
    assert(p.contains("ReadSchema") && !p.contains("text"), p)
  }

  test("star join broadcasts dimensions") {
    val p = plan("q_local_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ORDER BY over a local relation sorts its rows in memory, in Spark's order") {
    GraftSession.prepare(spark)
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.functions.col
    val local = Seq[(Option[Int], String)]((Some(2), "b"), (None, "a"),
      (Some(2), "a"), (Some(-1), "z"), (None, "c"), (Some(7), "a"))
      .toDF("n", "s")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("n").desc_nulls_last, col("s")).select(col("s"), col("n"))
    val q = sorted(local)
    assert(q.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    // same rows in the same order as the distributed sort of the same data
    assert(q.collect().toSeq == sorted(local.repartition(3)).collect().toSeq)
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q_topk_global")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("knn cosine plans as broadcast + TakeOrdered, no shuffle of corpus") {
    val p = plan("q_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("quantized knn keeps the broadcast + TakeOrdered shape") {
    val p = plan("q_knn_q8")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("Q6 pushes all three predicates into the scan, 4-column schema") {
    // formatted mode: toString truncates long PushedFilters lists
    GraftSession.prepare(spark)
    val p = SparkEntry.queries("q_forecast_revenue")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05"), p)
    assert(p.contains("LessThan(l_quantity,24"), p)
    // the scan reads only the columns the query touches
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
      .forall(read.contains), read)
    assert(!read.contains("l_orderkey"), read)
  }

  test("Q19 disjunction: part-side envelope reaches the part scan, part broadcasts") {
    GraftSession.prepare(spark)
    val p = SparkEntry.queries("q_disjunctive_revenue")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // the OR'd brand/size envelope is pushed to the part scan as a
    // data filter (Catalyst factors the part-only conjuncts out of the
    // mixed disjunction), and the dim side broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Brand#11"), p)
    // the fact scan reads only the touched columns
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("l_tax"), reads)
  }

  test("Q4 lateness semi-join: date range pushed to the orders scan, left-semi shape") {
    GraftSession.prepare(spark)
    val p = SparkEntry.queries("q_late_priority")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("trade balance: supplier/customer dims broadcast, one fact-fact shuffle") {
    val p = plan("q_trade_balance")
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly one join is a shuffle join (lineitem↔orders on the import side)
    val smj = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(smj <= 1, s"expected <=1 shuffle join, got $smj\n$p")
  }

  test("mutual kNN below the cutoff: broadcast NL scan, no corpus shuffle join") {
    val p = plan("q_mutual_knn")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("priority mix shift: windows run over the collapsed month grid, fact partial-aggregates") {
    val p = plan("q_priority_mix_shift")
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ABC analysis scans the fact exactly once (windowed scalar total)") {
    val p = plan("q_abc_analysis")
    assert(p.linesIterator.count(_.trim.startsWith("Scan parquet")) <= 1
      || "\\(\\d+\\) Scan parquet".r.findAllIn(p).size <= 2, p) // tree+detail
  }

  test("waiting suppliers scans lineitem exactly once (fused late+multi agg)") {
    val p = plan("q_waiting_suppliers")
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans <= 1, s"$lineitemScans lineitem scans:\n$p")
  }

  test("trade flows broadcast every dimension; one fact-fact shuffle join") {
    val p = plan("q_trade_flows")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("aggregations are partial (map-side) before the shuffle") {
    val p = plan("q_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("FuseCosine rule rewrites dot/norms formula to the fused kernel") {
    GraftSession.prepare(spark)
    // non-foldable input (derived from range ids) so constant folding
    // can't collapse the expression before our rule sees it
    val df = spark.range(1, 4)
      .selectExpr("transform(array(id, id + 1), x -> CAST(x AS FLOAT)) AS v")
      .selectExpr("dot_product(v, v) / (l2_norm(v) * l2_norm(v)) AS sim")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_sim"), optimized)
    assert(!optimized.contains("dot_product"), optimized)
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("window top-k gets map-side group limiting (WindowGroupLimit)") {
    // Spark plans the rank<=k filter as Partial+Final WindowGroupLimit —
    // per-group k-heaps BEFORE the shuffle, so the exchange carries ≤k rows
    // per group per mapper. This is why graft needs no custom rewrite rule
    // here; the top_k aggregate (q_topk_per_group) remains the
    // aggregation-shaped alternative.
    val p = plan("q_window_topk")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
  }

  test("pipeline anti-join has no hard-coded broadcast of the drop list") {
    // the drop list is O(dup rate × corpus) — unbounded — so the LOGICAL
    // plan must not pin a broadcast hint on it; AQE picks broadcast vs
    // shuffle from the runtime size (at sf it will broadcast, which is fine
    // — what matters is that the choice is the planner's, not hard-coded)
    GraftSession.prepare(spark)
    val logical = SparkEntry.queries("q_pipeline_clean")(spark, sfDir)
      .queryExecution.analyzed.toString
    assert(!logical.contains("ResolvedHint"), logical)
  }

  test("ntile_threshold windows only the distinct-value histogram, not fact rows") {
    val p = plan("q_ntile_threshold")
    // bucket assignment reaches rows via a broadcast of the 1-row threshold
    // relation; the only window sits above the histogram aggregate
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.indexOf("HashAggregate", winIdx) >= 0, p)
  }

  test("vocab heavy hitters: partial count + TakeOrdered, no global sort") {
    val p = plan("q_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count") || p.contains("partial"), p)
  }

  test("sql aggregate extension plans TakeOrderedAndProject for ORDER BY+LIMIT") {
    val p = plan("q_sql_agg")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tfidf and ann_ivf best-per-group are aggregates, not windows") {
    // min_by/max_by partial-combine map-side: the exchange carries one row
    // per group, where a row_number window shuffles and sorts every scored
    // pair (r3 verdict item)
    Seq("q_tfidf", "q_ann_ivf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q should not window:\n$p")
    }
  }

  test("funnel and cohort are aggregation-shaped: no window, no sort of the event stream") {
    Seq("q_funnel", "q_cohort").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q should not window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
  }

  test("banded range join plans as an equi-join, not a nested loop") {
    val p = plan("q_range_join")
    // the band turns the range predicate into hash-join keys; the
    // residual |Δday| filter rides as a join condition
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a non-equi physical join:\n$p")
  }

  test("column profile is one scan: a single Expand feeds all distinct counts") {
    val p = plan("q_profile")
    assert("Expand".r.findAllIn(p).length == 1, p)
  }

  test("chunking is shuffle-free and prunes the scan to (doc_id, text)") {
    val p = plan("q_chunk_overlap")
    assert(!p.contains("Exchange"), p)        // pure per-row work
    assert(!p.contains("lang"), p)            // untouched columns pruned
  }

  test("version_topn and vocab_by_source keep the bounded-heap aggregate shape") {
    // top_k partial-combines: the plan must show partial aggregation and
    // contain no Window operator (a row_number regression would add one)
    val p1 = plan("q_version_topn")
    assert(p1.contains("partial_top_k") && !p1.contains("RunningWindowFunction")
      && !p1.contains("Window "), p1)
    val p2 = plan("q_vocab_by_source")
    assert(p2.contains("partial_top_k") && !p2.contains("Window "), p2)
  }

  test("above-average spenders: the 25-row nation relation is broadcast") {
    val p = plan("q_above_avg_spenders")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("edit-distance dedup joins candidates, never a cartesian of texts") {
    val p = plan("q_dedup_editdist")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gdpr cascade: deletion list rides semi joins, report is 3 fixed rows") {
    val p = plan("q_gdpr_erase")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("PQ search is map-only: code scan + TakeOrdered, zero exchanges in ADC") {
    GraftSession.prepare(spark)
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val model = graft.operators.PqIndex.fitPq(emb, dim = 64)
    val probe = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val enc = graft.operators.PqIndex.encode(emb, model)
    val p = graft.operators.PqIndex.searchAdc(enc, model, probe, topK = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"ADC scan should not shuffle: $p")
  }

  test("hard negatives: broadcast anchors + bounded-heap agg, no score-matrix shuffle") {
    val p = plan("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("top_k"), p)
  }

  test("lang outliers: the majority vote joins back broadcast") {
    val p = plan("q_lang_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("simhash radius: band candidates via equi-join, brute force only on the broadcast sample") {
    val p = plan("q_simhash_radius")
    // the banded candidate join must be an equi-join (hash keys), never a
    // nested loop over the corpus; the audit's inequality join is NLJ by
    // construction but only against the broadcast doc_id%37 sample
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(nlj <= 2, s"unexpected nested loops ($nlj): $p")
  }

  test("interval sweep: only the date-aggregated deltas reach the window") {
    val p = plan("q_in_transit")
    // the running sum's Window input must be downstream of the per-day
    // HashAggregate — the corpus-sized relation is never globally sorted
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p)
    assert(p.substring(winIdx).contains("HashAggregate"),
      "window is not over the aggregated deltas:\n" + p)
  }

  test("WAU: distinct collapses BEFORE the 7-way explode") {
    val p = plan("q_wau")
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, p)
    // below (after, in toString order) the Generate there must be the
    // (user, day) distinct aggregate — the explode fans out the collapsed
    // relation, not the raw event stream
    assert(p.substring(gen).contains("HashAggregate"),
      "explode is fed by the raw events, not the distinct relation:\n" + p)
  }

  test("transition matrix: row totals join back broadcast") {
    val p = plan("q_transitions")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("rolling 7d: one shuffle on user_id, RANGE frame, no self-join") {
    val p = plan("q_rolling_7d")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("RangeFrame"), p)
  }

  test("PMI: top-20 selection is a TakeOrdered over the count aggregate") {
    val p = plan("q_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("Q9 flavor: part filter pushes to the scan; dims broadcast") {
    GraftSession.prepare(spark)
    val p = SparkEntry.queries("q_product_profit")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("StringContains(p_name,red)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("Q20 flavor: one lineitem scan (conditional agg, no second pass)") {
    val p = plan("q_excess_share")
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(lineitemScans <= 1, s"expected one lineitem scan, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("running distinct: window input is the day-aggregated relation") {
    val p = plan("q_running_distinct")
    // two partial-combined aggregates feed the window — no window over
    // the raw fact rows (the relation under Window must be post-agg)
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("important_parts / top_supplier: broadcast scalar reuses the agg exchange — one fact scan") {
    // the (total, np) / max scalar re-aggregates the SAME per-key aggregate;
    // AQE reuses the identical shuffle stage at runtime, so the FINAL
    // adaptive plan must carry a ReusedExchange (one lineitem scan executed),
    // not two independent scan+agg pipelines (the r11 rewrite of the
    // unordered global window — initial plans show two scans by design)
    GraftSession.prepare(spark)
    Seq("q_important_parts", "q_top_supplier").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // r12: q_abc_analysis persists the SAME canonical per-part aggregate
      // (materializeOnce), and the CacheManager substitutes it into any
      // later query sharing the subtree — then the plan serves from
      // InMemoryTableScan (zero fact scans) instead of ReusedExchange
      // (one). Either shape satisfies the test's contract: never two
      // independent scan+agg pipelines.
      assert(p.contains("ReusedExchange") || p.contains("InMemoryTableScan"),
        s"$q final plan has neither ReusedExchange nor InMemoryTableScan:\n$p")
      // …and assert the contract DIRECTLY (r12 ADVICE: node-name presence
      // alone would pass a plan that ALSO carried a second independent
      // scan+agg pipeline): at most ONE lineitem FileScan may EXECUTE in
      // this plan. Counted by tree walk, not string match — the plan's
      // toString renders the InMemoryRelation's stored child plan inline,
      // whose scan text is a cache-population artifact, not an execution.
      // Cache/reuse boundaries terminate the walk (their inputs executed
      // once elsewhere); AQE query stages are descended via their plans.
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      def factScans(pl: SparkPlan): Int = pl match {
        case f: FileSourceScanExec =>
          if (f.relation.location.rootPaths.exists(_.toString.contains("lineitem")))
            1 else 0
        case _: InMemoryTableScanExec => 0
        case _: ReusedExchangeExec => 0
        case a: AdaptiveSparkPlanExec => factScans(a.executedPlan)
        case st: QueryStageExec => factScans(st.plan)
        case other =>
          (other.children ++ other.subqueries).map(factScans).sum
      }
      val n = factScans(df.queryExecution.executedPlan)
      assert(n <= 1, s"$q executed plan carries $n lineitem file scans:\n$p")
    }
  }

  test("rfm / ntile: no single-partition window anywhere in the plan") {
    // rangeNtile's range shuffle + offset map run as eager RDD jobs; the
    // returned DataFrame is an RDD scan. What must NOT appear is a Window
    // (the old single-partition global ntile) in the visible plan.
    Seq("q_ntile", "q_rfm").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q still windows:\n$p")
    }
  }

  test("no unpartitioned Window over an SF-scaling input anywhere in the registry") {
    // An empty-partitionSpec WindowExec plans as a SINGLE partition — a
    // one-executor sort at 100 TB (the r10 q_ntile/q_rfm finding, fixed via
    // Relational.rangeNtile). This audit walks every registered query's
    // physical plan (descending into AQE roots and subqueries) and fails on
    // any unpartitioned window, except keys on the explicit allowlist whose
    // window input is a COLLAPSED bounded domain (a histogram / per-day /
    // per-part aggregate), each justified at its definition site and
    // covered by a ×100 stress receipt.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val allow = Set(
      "q_ntile_threshold",   // window over the distinct-2dp-value histogram
      "q_gini",              // Lorenz curve over per-part aggregate (×100: 1.4×)
      "q_vocab_coverage",    // rank over the LIMIT-1000 top-type relation (r12 rewrite)
      "q_in_transit",        // running sum over per-day deltas
      "q_running_distinct",  // running total over per-day firsts
      "q_mom_trend",         // lag over the ~84-row month series
      "q_skyline",           // suffix max over distinct order-count values
      "q_dup_by_length",     // cumdist over the distinct-n_chars histogram
      "q_budget_waterfill",  // rank/cumsum over the per-source relation
      "q_ivf_recall_curve",  // ranks over 8 centroids / 3 nprobe settings
      "q_shuffle_order",     // pos over the post-TakeOrdered 200-row head
      "q_sql_share"          // SUM(n) OVER () over the collapsed
                             // status×priority grid (≤15 rows at any SF)
    )
    def unpartitioned(p: SparkPlan): Seq[String] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
        case _ => Nil
      }
      val kids = p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case _ => Nil
      }) ++ p.subqueries
      here ++ kids.flatMap(unpartitioned)
    }
    GraftSession.prepare(spark)
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream_")) // replay harness: batch plans not in the final DF
      .filterNot(allow)
      .flatMap { name =>
        val hits = unpartitioned(
          SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
        if (hits.isEmpty) None else Some(s"$name: ${hits.mkString(",")}")
      }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("every registered query executes and returns rows at sf0.001") {
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        if (n > 0) None else Some(s"$name: 0 rows")
      } catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  // literal-parameterized codegen (graft.plans.ParameterizeLiterals)

  private def documentsSession(): graft.sql.EmdriveSession = {
    val es = new graft.sql.EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, sfDir))
    es
  }

  test("statements that differ only in a literal compile once and share the class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val es = documentsSession()
    def lookup(k: Int): Seq[Long] =
      es.sql(s"SELECT doc_id, n_chars FROM documents WHERE doc_id = $k;")
        .collect().map(_.getLong(0)).toSeq
    assert(lookup(0) == Seq(0L))
    val afterFirst = compiles.getCount
    (1 until 20).foreach(i => assert(lookup(i * 25) == Seq(i * 25L)))
    assert(compiles.getCount == afterFirst,
      s"${compiles.getCount - afterFirst} compiles after the first point lookup")

    // the same through AQE stages: a filtered partial/final aggregate
    val docs = graft.sources.Tables.documents(spark, sfDir)
    def grouped(t: Int): Map[String, Long] =
      es.sql(s"SELECT source, COUNT(*) AS n FROM documents WHERE n_chars > $t GROUP BY source;")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def want(t: Int): Map[String, Long] =
      docs.filter(col("n_chars") > t).groupBy(col("source")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped(100) == want(100))
    val afterGrouped = compiles.getCount
    Seq(200, 400, 800, 1600).foreach(t => assert(grouped(t) == want(t)))
    assert(compiles.getCount == afterGrouped,
      s"${compiles.getCount - afterGrouped} compiles after the first aggregate")
  }

  test("parameterized literals leave pushed filters and plan strings as they were") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import graft.plans.{ParamLiteral, ParameterizeLiterals}
    val df = documentsSession()
      .sql("SELECT doc_id, n_chars + 1 AS m FROM documents WHERE doc_id = 7;")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(7L))
    val plan = df.queryExecution.executedPlan
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PushedFilters").contains("EqualTo(doc_id,7)"), scan.metadata)
    assert(scan.dataFilters.exists(_.exists(_ ==
      org.apache.spark.sql.catalyst.expressions.Literal(7L))), scan.dataFilters)
    assert(plan.collect { case f: FilterExec => f.condition }
      .exists(_.exists(_.isInstanceOf[ParamLiteral])), plan)
    val physical = df.queryExecution.sparkPlan
    val rewritten = ParameterizeLiterals(physical)
    assert(rewritten != physical, "the rule rewrote nothing")
    assert(rewritten.treeString == physical.treeString)
  }

  test("ScalaCheck: parameterized filter+project equals interpreted evaluation for every covered type") {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    import java.time.temporal.ChronoUnit.MICROS
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    import graft.plans.ParamLiteral

    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")

    def edgesOr[T](edges: T*)(g: Gen[T]): Gen[T] =
      Gen.frequency(1 -> Gen.oneOf(edges), 1 -> g)
    // Spark's supported datetime range, 0001-01-01 .. 9999-12-31
    val micros = Gen.choose(-62135596800000000L, 253402300799999999L)
    def instant(us: Long): Instant = Instant.EPOCH.plus(us, MICROS)
    val instants = Seq("0001-01-01T00:00:00Z", "9999-12-31T23:59:59.999999Z",
      "1969-12-31T23:59:59.999999Z", "1582-10-04T12:00:00Z", "1970-01-01T00:00:00Z")
      .map(Instant.parse)
    val covered: Seq[(DataType, Gen[Any])] = Seq(
      IntegerType -> edgesOr(Int.MinValue, Int.MaxValue, 0, -1)(
        Gen.choose(Int.MinValue, Int.MaxValue)),
      LongType -> edgesOr(Long.MinValue, Long.MaxValue, 0L, -1L)(
        Gen.choose(Long.MinValue, Long.MaxValue)),
      ShortType -> edgesOr(Short.MinValue, Short.MaxValue, 0.toShort)(
        Gen.choose(Short.MinValue, Short.MaxValue)),
      ByteType -> edgesOr(Byte.MinValue, Byte.MaxValue, 0.toByte)(
        Gen.choose(Byte.MinValue, Byte.MaxValue)),
      FloatType -> edgesOr(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
        Float.NegativeInfinity, Float.MinValue, Float.MaxValue,
        Float.MinPositiveValue)(Gen.choose(-1e6f, 1e6f)),
      DoubleType -> edgesOr(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinValue, Double.MaxValue,
        Double.MinPositiveValue)(Gen.choose(-1e12, 1e12)),
      BooleanType -> Gen.oneOf(true, false),
      DateType -> edgesOr(instants.map(_.atZone(ZoneOffset.UTC).toLocalDate): _*)(
        micros.map(us => instant(us).atZone(ZoneOffset.UTC).toLocalDate)),
      TimestampType -> edgesOr(instants: _*)(micros.map(instant)),
      TimestampNTZType -> edgesOr(instants.map(LocalDateTime.ofInstant(_, ZoneOffset.UTC)): _*)(
        micros.map(us => LocalDateTime.ofInstant(instant(us), ZoneOffset.UTC))))

    val cases = Gen.oneOf(covered).flatMap { case (dt, g) =>
      for (data <- Gen.listOfN(12, g); probes <- Gen.listOfN(3, g))
      yield (dt, data, probes)
    }
    val prop = Prop.forAllNoShrink(cases) { case (dt, data, probes) =>
      val Seq(p, q, r) = probes.map(lit)
      def run(s: SparkSession) = {
        val df = s.createDataFrame(
          s.sparkContext.parallelize(data.map(Row(_)) :+ Row(null), 2),
          StructType(Seq(StructField("v", dt))))
        val v = col("v")
        val out = df.filter(v =!= p || v.isNull || v > q)
          .select(v, v === p, v < q, v <=> r, coalesce(v, p),
            when(v >= q, r).otherwise(v))
        (out.collect().toSeq, out.queryExecution.executedPlan)
      }
      val (got, plan) = run(spark)
      val (want, _) = run(interpreted)
      val parameterized = plan.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral])))
      (got == want && parameterized) :|
        s"$dt data=$data probes=$probes got=$got want=$want parameterized=$parameterized"
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
