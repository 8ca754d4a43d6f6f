package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational analytics surface: the reference's SELECT/WHERE/point-lookup
  * semantics (reference: src/constructs/statements.rs SelectStatement,
  * src/sql/expects/statements/select.rs) widened to a full analytic query
  * engine — aggregation, joins, windows, rollup, time bucketing.
  *
  * Scale notes (100 TB):
  *  - dimension joins (`region`,`nation`,`supplier`,`customer`) broadcast
  *    explicitly: no shuffle of the fact table for dim enrichment;
  *  - fact aggregations rely on partial (map-side) aggregation — grouping
  *    keys are low-cardinality so the shuffle carries only partial states;
  *  - top-k queries go through sort+limit which Spark plans as
  *    TakeOrderedAndProject (per-partition heap, no global sort);
  *  - equality point lookups push the predicate into the parquet scan
  *    (PushedFilters) — the Spark analog of the reference's btree `=` index.
  *
  * Float discipline: aggregated doubles are rounded on both the Spark and
  * oracle side (2-4 dp) so cross-engine summation-order differences (~1e-9
  * relative) cannot flip the comparison hash.
  */
object Relational {

  /** Order-independent money sum: each double term is fixed-pointed to
    * DECIMAL(18,4) per row (deterministic — same IEEE value every time),
    * then summed exactly as integers, so the result is identical across
    * engines and partition orders. Plain double sums differ by ~1e-10 with
    * summation order, which flips 2-dp rounding at .xx5 boundaries — at
    * 150k output groups some group always hits one. Rounded to 2 dp and
    * cast back to double. */
  private def moneySum(c: Column, scale: Int = 4): Column =
    round(sum(c.cast(s"decimal(18,$scale)")), 2).cast("double")

  /** Order-independent average. The naive `round(avg(x), 4)` is a coin-flip:
    * double summation order differs between engines AND between Spark runs,
    * and a mean landing on a .xxxx5 boundary flips the rounded value. Here
    * the sum is exact decimal (deterministic per-row fixed-pointing, exact
    * integer addition), the decimal→double cast and the division are single
    * correctly-rounded IEEE ops — so both engines produce bitwise-identical
    * doubles and no rounding step is needed at all. */
  private def moneyAvg(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double") / count(c)

  private def pointLookup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") === 42)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))

  private def selectEq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("source"), col("n_chars"))

  private def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        // price(2dp) × (1-disc)(2dp) × (1+tax)(2dp) is a 6-dp value: casting
        // the double product to scale 4 rounds AT a .xxxx5 boundary, where
        // Spark (shortest-repr HALF_UP) and DuckDB (binary-value) disagree.
        // Scale 6 is exact — no boundary — so both engines fix-point
        // identically before the exact decimal sum.
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), scale = 6).as("sum_charge"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        moneyAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  private def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val li = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Scale note: only region/nation (25/5 rows at ANY scale) are broadcast
    * explicitly. customer/supplier grow with the data — hard-broadcasting
    * them would OOM a 100 TB run, so their joins are left to Catalyst/AQE,
    * which broadcasts at small SF and shuffles (with skew splitting) at
    * scale. */
  private def localSupplier(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val supp = Tables.supplier(s, d)
    val cust = Tables.customer(s, d)
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  private def antiJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private def windowTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= 3)
  }

  private def runningSum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")).over(w), 2)
          .cast("double").as("run_total"))
  }

  private def distinctAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("supp_cnt"),
        countDistinct(col("l_partkey")).as("part_cnt"))

  private def rollupAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  private def topkGlobal(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  private def caseAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        moneySum(when(col("l_discount") > 0.05,
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0)).as("disc_rev"),
        count(when(col("l_quantity") > 30, 1)).as("big_cnt"))

  private def dateBucket(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))

  private def stringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_name").like("%r%"))
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 5)).as("name5"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"))

  private def exceptIntersect(s: SparkSession, d: String): DataFrame = {
    val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey"))
    val machinery = Tables.customer(s, d).filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_nationkey"))
    building.except(machinery).select(col("c_nationkey"), lit("only_building").as("src"))
      .unionByName(building.intersect(machinery)
        .select(col("c_nationkey"), lit("both").as("src")))
  }

  private def unionNames(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_name").as("name"), lit("customer").as("side"))
      .unionByName(
        Tables.supplier(s, d).select(col("s_name").as("name"), lit("supplier").as("side")))
      .distinct()

  private def sessionize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val ev = EventTime.withMs(Tables.events(s, d))
    ev.withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(wOrd) > 1800000L, 1)
          .otherwise(when(lag(col("ms"), 1).over(wOrd).isNull, 1).otherwise(0)))
      .withColumn("session_seq", sum(col("new_sess")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sess_value"),
        (max(col("ms")) - min(col("ms"))).as("duration_ms"))
  }

  /** Three-step behavioral funnel with a 24 h conversion window per step:
    * users who signed up, then viewed within a day of their first signup,
    * then purchased within a day of that first view. Each step is a
    * filtered keyed aggregation (one row per user, partial-combined)
    * joined to the previous step's per-user timestamp — every shuffle is
    * keyed on `user_id` and carries per-user scalars, never the event
    * stream, so AQE can broadcast the (tiny) later-step sides against the
    * event scan at any scale. Chained `min` timestamps make the step
    * ordering exact (not just "did both events ever happen"), and the
    * window keeps the funnel discriminating (150 → 39 → 15 at sf0.01). */
  private def funnel(s: SparkSession, d: String): DataFrame = {
    val stepMs = 86400000L
    val ev = EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), col("event_type"), col("ms"))
    // r18: each step relation feeds the NEXT step's join AND its own
    // final count — unmaterialized, t1's subplan executed 3× and t2's 2×
    // (6 event scans per execution). Per-user scalar rows (the r17
    // q_above_avg_spenders class), evictAll-registered; the type-filtered
    // event scans keep their own pushed filters (one scan each).
    val t1 = materializeOnce(s, d, "funnel_t1")(
      ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ms")).as("t1")))
    val t2 = materializeOnce(s, d, "funnel_t2")(
      ev.filter(col("event_type") === "view")
        .join(t1, "user_id")
        .filter(col("ms") > col("t1") && col("ms") <= col("t1") + stepMs)
        .groupBy(col("user_id")).agg(min(col("ms")).as("t2")))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ms") > col("t2") && col("ms") <= col("t2") + stepMs)
      .groupBy(col("user_id")).agg(min(col("ms")).as("t3"))
    t1.agg(count(lit(1)).as("n_users"))
      .select(lit("1_signup").as("step"), col("n_users"))
      .unionByName(t2.agg(count(lit(1)).as("n_users"))
        .select(lit("2_view_after").as("step"), col("n_users")))
      .unionByName(t3.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after").as("step"), col("n_users")))
  }

  /** Weekly cohort retention: users bucketed by first-active epoch-week,
    * counted per (cohort, weeks-since-cohort). Fixed 7-day integer buckets
    * (`ms div 604800000`) rather than calendar weeks: exact integer math
    * in any engine, no timezone/locale drift. The event stream collapses
    * to distinct (user, week) BEFORE the cohort join — activity rows are
    * bounded by users·weeks, so the join input is corpus-size-independent
    * and every later shuffle is tiny. */
  private def cohortRetention(s: SparkSession, d: String): DataFrame = {
    // r18: feeds the cohort aggregate AND the join back — materialize the
    // (user, week)-distinct collapse once (the churn_user_weeks pattern;
    // different week column name keeps the memo entries distinct).
    val uw = materializeOnce(s, d, "cohort_user_weeks")(
      EventTime.withMs(Tables.events(s, d))
        .select(col("user_id"), expr("ms div 604800000").as("w"))
        .distinct())
    val first = uw.groupBy(col("user_id")).agg(min(col("w")).as("cohort_w"))
    uw.join(first, "user_id")
      .groupBy(col("cohort_w"), (col("w") - col("cohort_w")).as("period_w"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Banded range join: same-customer order pairs placed within 30 days.
    * A range predicate alone forces a nested-loop/cartesian per key; the
    * scale shape is BANDING — bucket time into 30-day bands, explode ONE
    * side into its band ±1, and equi-join on (customer, band), then apply
    * the exact |Δday| ≤ 30 filter. Candidate volume is per-(customer,
    * band) occupancy products — linear in practice, never |orders|² — and
    * the join is a plain shuffled equi-join AQE can size. Each true pair
    * matches exactly once (the un-exploded side has one band, which falls
    * in exactly one of the other side's three), so no post-dedup pass. */
  private def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)").as("day"))
    val left = o.select(col("o_orderkey").as("key_a"), col("o_custkey"),
      col("day").as("day_a"),
      explode(array(expr("day div 30 - 1"), expr("day div 30"),
        expr("day div 30 + 1"))).as("band"))
    val right = o.select(col("o_orderkey").as("key_b"),
      col("o_custkey").as("cust_b"), col("day").as("day_b"),
      expr("day div 30").as("band_b"))
    left.join(right,
        col("o_custkey") === col("cust_b") && col("band") === col("band_b") &&
          col("key_a") < col("key_b") &&
          abs(col("day_a") - col("day_b")) <= 30)
      .select(col("o_custkey"), col("key_a"), col("key_b"),
        abs(col("day_a") - col("day_b")).as("gap_days"))
  }

  /** One-pass column profile of the orders table (Deequ-style data
    * quality report): per column, row count, null count, distinct count.
    * Multi-column distinct aggregation is a single scan through one
    * Expand (one shuffle of partial states); the per-column unpivot is a
    * `stack` over the 1-row aggregate — no per-column re-scans. At 100 TB
    * the exact distincts swap for `approx_count_distinct` (the same
    * one-pass shape, constant-size sketches — the C36 data-cards swap). */
  private def profile(s: SparkSession, d: String): DataFrame =
    profileOf(Tables.orders(s, d))

  /** Column profile of ANY frame (B30's engine, shared with the SQL
    * `profile(tbl)` table function — the SUMMARIZE analog): one
    * aggregation pass computes per-column null + distinct counts and the
    * row count, then a stack pivots to one row per column. */
  def profileOf(o: DataFrame): DataFrame = {
    val cols = o.columns.toSeq
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"null_$c"),
      countDistinct(col(c)).as(s"nd_$c"))) :+ count(lit(1)).as("n_rows")
    val stackExpr = s"stack(${cols.length}, " +
      cols.map(c => s"'$c', null_$c, nd_$c").mkString(", ") +
      ") AS (column_name, n_null, n_distinct)"
    o.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"))
  }

  /** Referential-integrity / constraint report: named checks with
    * violation counts (pk uniqueness, null keys, orphaned foreign keys,
    * childless parents). Each check is a scalar aggregate or an
    * anti-join count (AQE-decided strategy, no hard broadcast); the
    * result is a fixed handful of rows regardless of input size. On this
    * corpus `orders_childless` is the non-vacuous one (~1.7% of orders
    * have no lineitems). */
  private def integrity(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val l = Tables.lineitem(s, d)
    def check(name: String, cnt: DataFrame): DataFrame =
      cnt.select(lit(name).as("check_name"), col("n").as("n_violations"))
    // r17 optimization: the two scalar checks fuse into ONE orders pass
    // (one aggregate computes both counts, stack unpivots to the same
    // two rows) — the anti-join checks keep their own scans, which the
    // join itself needs.
    val scalar = o.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dup"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0))
          .cast("long").as("null_ck"))
      .select(expr("stack(2, 'orders_pk_dup', pk_dup, " +
        "'orders_null_custkey', null_ck) AS (check_name, n_violations)"))
    scalar
      .unionByName(check("orders_orphan_custkey",
        o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n"))))
      .unionByName(check("orders_childless",
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n"))))
      .unionByName(check("lineitem_orphan",
        l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n"))))
  }

  private def tumbling(s: SparkSession, d: String): DataFrame =
    EventTime.withMs(Tables.events(s, d))
      .groupBy((expr("ms div 3600000") * 3600000L).as("hour_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))

  /** Hopping (sliding) window aggregation in batch: 60-minute windows
    * advancing every 15 minutes. Each event lands in exactly
    * length/hop = 4 windows, materialized by a 4-element explode at scan
    * time — output volume is a fixed small multiple of the input, then
    * one partial-combined keyed aggregation; no self-join, no window
    * function, no sort. (The streaming twin is `window(..., "1 hour",
    * "15 minutes")` in StreamOps; this is the batch/backfill shape of the
    * same report.) */
  private def hopping(s: SparkSession, d: String): DataFrame = {
    val hopMs = 900000L // 15 min
    val winHops = 4 // 60-minute window = 4 hops
    EventTime.withMs(Tables.events(s, d))
      .select(col("event_type"), col("value"),
        explode(sequence(lit(0), lit(winHops - 1))).as("i"),
        expr(s"ms div $hopMs").as("hop"))
      .groupBy(((col("hop") - col("i")) * hopMs).as("window_start_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
  }

  /** Market-share analysis (TPC-H Q8 flavor): per order-year, the revenue
    * share supplied by one nation's suppliers. One pass: revenue rows
    * carry their supplier nation, the share is a conditional aggregate
    * over the same groups — total and part come from the SAME partial-
    * combined aggregation, no second scan and no join of two aggregates.
    * Both sums go through moneySum (exact decimal accumulation), so the
    * final single division is bitwise cross-engine. */
  private def marketShare(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .select(year(col("o_orderdate")).as("o_year"), col("n_name"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("vol"))
    rev.groupBy(col("o_year"))
      .agg(
        moneySum(col("vol")).as("total_rev"),
        moneySum(when(col("n_name") === "NATION_7", col("vol")).otherwise(0))
          .as("nation_rev"))
      .select(col("o_year"), col("total_rev"), col("nation_rev"),
        (col("nation_rev") / col("total_rev")).as("share"))
  }

  private def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").as("k_val"))
      .groupBy(col("k_val"))
      .agg(count(lit(1)).as("n"))

  /** Top-3 orders per customer via the bounded-heap `top_k` aggregate
    * (functions.TopK): map-side partial heaps, shuffle carries only
    * k·groups rows — the scale-safe twin of q_window_topk (which
    * shuffles + sorts every row). Negated orderkey flips the tiebreak
    * to ascending under the struct's descending lexicographic order. */
  private def topkPerGroup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(call_function("top_k",
        struct(col("o_totalprice"), (-col("o_orderkey")).as("neg_key")),
        lit(3)).as("top"))
      .select(col("o_custkey"), explode(col("top")).as("t"))
      .select(col("o_custkey"),
        (-col("t.neg_key")).as("o_orderkey"),
        col("t.o_totalprice"))

  private def outerJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"))
      .agg(
        coalesce(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), lit(0.0)).as("revenue"),
        count(col("l_linenumber")).as("n_items"))

  private def windowLag(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2).as("delta_prev"),
      datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate")).as("days_to_next"))
  }

  /** Distributed EXACT ntile — the scale path for a global quantile bucket
    * over an SF-scaling relation. An un-partitioned `ntile().over(Window
    * .orderBy(...))` plans as a SINGLE-partition sort: correct at sf0.1,
    * a one-executor bottleneck at 100 TB. This operator reproduces ntile's
    * exact semantics (bucket sizes differ by ≤1; first n%b buckets get the
    * extra row) with no global sort:
    *   1. `repartitionByRange` + `sortWithinPartitions` — a range shuffle
    *      whose partitions are globally ordered and each locally sorted
    *      (fully parallel; the same machinery as a distributed ORDER BY);
    *   2. one light count job over the shuffled output (shuffle files are
    *      reused, not recomputed) yields per-partition row counts, whose
    *      prefix sums are the global rank offsets — the classic
    *      zipWithIndex two-job pattern;
    *   3. a map assigns `rank → bucket` by the closed-form ntile formula.
    * The order columns must form a TOTAL order (tie-broken by a unique
    * key) so the global rank — and hence the bucket — is deterministic
    * and engine-independent. */
  /** (r18 note: a fully-declarative rewrite — approxQuantile range
    * buckets + partitioned row_number + broadcast offsets, the
    * rangeCumSum machinery — was built and MEASURED this round: q_rfm
    * 1.4 → 3.0 s, q_ntile 0.76 → 1.35 s, even with the input local-
    * checkpointed against nested re-evaluation. The RDD shape below wins
    * because its two passes are cheap ones — RangePartitioner sampling +
    * a counts job whose shuffle files the final pass reuses as skipped
    * stages — while the sketch pass pays QuantileSummaries per row and
    * the checkpoint pays a full row copy+persist. Reverted per guide
    * §1.1: empirical loop beats the paper plan.) */
  private[graft] def rangeNtile(df: DataFrame, buckets: Int,
                                order: Seq[Column], out: String): DataFrame = {
    val s = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val rdd = sorted.rdd
    val counts = rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)),
        preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = offsets.last
    val b = buckets.toLong
    val q = n / b
    val r = n % b
    val firstSpan = r * (q + 1) // rows living in the r buckets of size q+1
    val tiled = rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = offsets(pi)
      it.map { row =>
        val bucket =
          if (i < firstSpan) (i / (q + 1) + 1).toInt
          else (r + (i - firstSpan) / q + 1).toInt
        i += 1
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ bucket)
      }
    }
    s.createDataFrame(tiled,
      df.schema.add(out, org.apache.spark.sql.types.IntegerType, nullable = false))
  }

  /** Multi-pass guard: persist `df` (memory, disk overflow) so algorithms
    * that run several ACTIONS over one expensively-collapsed relation
    * (rangeCumSum runs a quantile sketch, a per-bucket total, and the
    * final plan over its input) compute the upstream aggregation once —
    * the r12 abc ×100 re-receipt measured the unguarded recomputation at
    * 27.9×, and a parquet-spill variant paid a 2M-row write (~13 s at
    * ×100) the cache avoids. The cache is NOT unpersisted here — the
    * returned plan still reads it at the caller's final action. Its
    * lifecycle is the session registry's (r12 ADVICE): the entry is
    * memoized per (session, dir, key) so repeated invocations reuse ONE
    * `InMemoryRelation` instead of stacking duplicates, a corpus rewrite
    * under `dir` rebuilds and unpersists it, and
    * [[graft.SessionMemo.evictAll]] unpersists it. It is
    * collapsed-relation-sized (dimension cardinality, not fact) and
    * spills to disk under pressure. */
  private[graft] def materializeOnce(s: SparkSession, dir: String,
      key: String)(df: => DataFrame): DataFrame =
    graft.SessionMemo.ofPersisted(s, dir, key)(df)

  /** Distributed EXACT global prefix sum — the cumulative-share twin of
    * rangeNtile, for Pareto/Lorenz-style "cumulative mass in this order"
    * over an SF-scaling relation (the r11 ×100 receipt priced
    * q_abc_analysis's unpartitioned cumulative window at 13.6×; this
    * removes the single-partition sort entirely). The input should be
    * cheap to rescan — [[materializeOnce]] it first when it is itself an
    * aggregation (this operator runs three passes over it).
    *
    * r12 shape — fully declarative, whole-stage-codegen, one data shuffle
    * (the r11 RDD two-job version priced at 14.6×/×100 with its Row
    * boxing and BigDecimal maps; this one stays on Tungsten rows):
    *   1. ~`buckets` range boundaries of `bucketCol` from one
    *      approxQuantile sketch pass. Accuracy is irrelevant to
    *      CORRECTNESS — any boundary set yields exact results, the
    *      sketch only balances bucket sizes — because the bucket id is
    *      monotone in the order (equal `bucketCol` values share a
    *      bucket; `tieBreak` orders only within it);
    *   2. a cumulative-sum window PARTITIONED by bucket (parallel,
    *      never a single-partition sort);
    *   3. per-bucket totals (≤ `buckets` rows) prefix-summed on the
    *      driver in java.math.BigDecimal, broadcast-joined back as each
    *      bucket's starting offset.
    * All sums are Spark DECIMAL(38, s) / BigDecimal — exact at any
    * scale, so the cumulative values are bitwise what a single-partition
    * window would have produced. (`bucketCol` desc/asc + `tieBreak`)
    * must total-order the rows for cross-engine determinism. */
  private[graft] def rangeCumSum(df: DataFrame, bucketCol: String,
      descending: Boolean, tieBreak: Seq[Column],
      value: String, out: String, buckets: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inScale = df.schema(df.schema.fieldIndex(value)).dataType
      .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale
    val outType = org.apache.spark.sql.types.DecimalType(38, inScale)
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    val bs = df.select(col(bucketCol).cast("double").as("__q"))
      .stat.approxQuantile("__q", probes, 0.01).distinct.sorted
    // bucket id: #boundaries strictly below (asc) / above (desc) the
    // row's value — codegen'd size(filter(...)) over the ≤127-element
    // boundary literal, monotone in the global order by construction.
    // NULL bucketCol rows follow Spark's default null ordering (asc ⇒
    // nulls FIRST, desc ⇒ nulls LAST): a null comparison drops out of
    // filter(), which lands nulls in bucket 0 — correct for asc (the
    // within-bucket orderBy puts them first), but under desc they must
    // route to a TERMINAL bucket past every boundary or the cumulative
    // positions silently corrupt (r12 ADVICE)
    val bCol =
      if (bs.isEmpty) lit(0)
      else {
        val arr = typedLit(bs.toSeq)
        if (descending)
          when(col(bucketCol).isNull, lit(bs.length + 1))
            .otherwise(size(filter(arr, b => b > col(bucketCol).cast("double"))))
        else
          size(filter(arr, b => b < col(bucketCol).cast("double")))
      }
    val ordered =
      (if (descending) col(bucketCol).desc else col(bucketCol).asc) +:
        tieBreak
    val withB = df.withColumn("__b", bCol)
    val w = Window.partitionBy(col("__b")).orderBy(ordered: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localCum = withB.withColumn("__cum_local",
      sum(col(value)).over(w).cast(outType))
    // per-bucket totals are bounded by `buckets`: exact driver prefix.
    // A bucket whose values are ALL NULL sums to NULL — coalesce to zero
    // so the driver-side BigDecimal accumulation never NPEs (r12 ADVICE);
    // sum() itself skips nulls, so this changes no non-degenerate total
    val perB = withB.groupBy(col("__b"))
      .agg(coalesce(sum(col(value)), lit(0)).cast(outType).as("__bt"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1))).sortBy(_._1)
    var acc = java.math.BigDecimal.ZERO
    val offsets = perB.map { case (b, t) =>
      val o = (b, acc); acc = acc.add(t); o
    }
    val s = df.sparkSession
    import s.implicits._
    val offDf = offsets.toSeq.toDF("__b", "__off")
      .select(col("__b"), col("__off").cast(outType).as("__off"))
    localCum.join(broadcast(offDf), "__b")
      .withColumn(out, (col("__cum_local") + col("__off")).cast(outType))
      .drop("__b", "__cum_local", "__off")
  }

  /** Exact global quartiles over the orders FACT (SF-scaling), via the
    * distributed rangeNtile above — no single-partition window anywhere.
    * The value-threshold twin (`ntileThreshold`, q_ntile_threshold) stays
    * the alternative when boundary-tie grouping is acceptable. */
  private def ntileBuckets(s: SparkSession, d: String): DataFrame =
    rangeNtile(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
      4, Seq(col("o_totalprice"), col("o_orderkey")), "quartile")
      .select(col("o_orderkey"), col("quartile"))

  /** The fact-table-scale quartile twin of ntileBuckets: no global window
    * over fact rows. Thresholds are computed from a value HISTOGRAM — the
    * shuffle and the (single-partition) cumulative pass run over the
    * compressed distinct-value domain, not the rows — and bucket assignment
    * is a broadcast-join scan. Integer-exact semantics (tK = min v with
    * cum(v) ≥ K·n/4, ties share a bucket): deterministic across engines,
    * unlike interpolated-percentile thresholds whose last-ulp differences
    * can flip a boundary row. */
  private def ntileThreshold(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice").cast("decimal(18,2)").as("v"))
    // r17 optimization: the value histogram feeds the cumulative pass AND
    // the total-count scalar — materialized once (distinct-value-sized)
    // so the fact is aggregated once, not twice; the assignment scan
    // below is the one remaining fact pass.
    val hist = materializeOnce(s, d, "ntile_thr_hist")(
      v.groupBy(col("v")).agg(count(lit(1)).as("c")))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val thr = cum.crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
      .agg(
        min(when(col("cum") * 4 >= col("n") * 1, col("v"))).as("t1"),
        min(when(col("cum") * 4 >= col("n") * 2, col("v"))).as("t2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("t3"))
    v.crossJoin(broadcast(thr))
      .select(col("l_orderkey"), col("l_linenumber"),
        (lit(1) + when(col("v") > col("t1"), 1).otherwise(0)
          + when(col("v") > col("t2"), 1).otherwise(0)
          + when(col("v") > col("t3"), 1).otherwise(0)).as("quartile"))
  }

  /** Stats via explicit moments from EXACT decimal sums, not the built-in
    * corr/stddev/covar aggregates: the built-ins are double accumulations
    * whose last ulps depend on partition order AND whose algorithms differ
    * between engines — `round(…, 4)` of those is the same coin-flip class
    * that broke q_pricing_summary. Here every Σx, Σx², Σxy is an exact
    * decimal (per-row products fixed-pointed deterministically), and the
    * closed-form combination below is the identical sequence of IEEE ops in
    * Spark and DuckDB → bitwise-equal doubles, no rounding needed.
    * Map-side partial aggregation still applies (plain sums). */
  private def statsAgg(s: SparkSession, d: String): DataFrame = {
    def m1(c: Column) = sum(c.cast("decimal(28,6)")).cast("double")
    // The fixed-point scale must sit WELL ABOVE the double's ulp at the
    // value's magnitude, or the per-row cast rounds below representation
    // precision — where Spark (shortest-repr) and DuckDB (binary-value)
    // disagree row by row. price² is ~1e10 (ulp ≈ 2e-6): scale 6 is below
    // ulp and diverged the spp sums; scale 4 is exactly price²'s true
    // decimal count and ~50× above ulp, so both engines recover the exact
    // value. The other products are small enough for scale 6.
    def m2(a: Column, b: Column, scale: Int = 6) =
      sum((a * b).cast(s"decimal(28,$scale)")).cast("double")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        m1(col("l_quantity")).as("sq"), m1(col("l_extendedprice")).as("sp"),
        m1(col("l_discount")).as("sd"), m1(col("l_tax")).as("st"),
        m2(col("l_quantity"), col("l_quantity")).as("sqq"),
        m2(col("l_extendedprice"), col("l_extendedprice"), scale = 4).as("spp"),
        m2(col("l_discount"), col("l_discount")).as("sdd"),
        m2(col("l_quantity"), col("l_extendedprice")).as("sqp"),
        m2(col("l_quantity"), col("l_tax")).as("sqt"))
      .select(
        col("l_returnflag"),
        ((col("n") * col("sqp") - col("sq") * col("sp")) /
          sqrt((col("n") * col("sqq") - col("sq") * col("sq")) *
            (col("n") * col("spp") - col("sp") * col("sp")))).as("qty_price_corr"),
        sqrt((col("n") * col("sdd") - col("sd") * col("sd")) /
          (col("n") * (col("n") - 1))).as("disc_sd"),
        ((col("n") * col("sqt") - col("sq") * col("st")) /
          (col("n") * (col("n") - 1))).as("qty_tax_cov"))
  }

  private def histogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  private def normalizeText(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", "").as("norm"),
        size(split(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " ")).as("n_norm_tokens"))

  /** GROUPING SETS through the engine's SQL surface (spark.sql over
    * registered views) — exercises the same entry point a SQL-first user
    * of the engine would take. */
  private def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        | CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
  }

  private def cubeAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(moneyAvg(col("l_discount")).as("avg_disc"), count(lit(1)).as("n"))

  /** Exact percentiles interpolated over integer CENTS: with 2-dp money as
    * doubles, `round(percentile(x), 2)` can land exactly on a .xx5
    * boundary (position fractions are quarters), where Spark's and
    * DuckDB's round differ. Over cents every interpolation term is
    * binary-exact (integers × quarter fractions), so both engines produce
    * bitwise-identical doubles and the final /100 is one identical op —
    * no rounding step at all. */
  private def percentiles(s: SparkSession, d: String): DataFrame = {
    val c = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        (percentile(c, lit(0.25)) / 100).as("p25"),
        (percentile(c, lit(0.5)) / 100).as("p50"),
        (percentile(c, lit(0.75)) / 100).as("p75"))
  }

  /** Approximate percentiles (t-digest-style sketch): the constant-memory
    * twin of `q_percentile`. Exact percentile shuffles every value to sort
    * within groups; approx_percentile merges fixed-size sketches — the only
    * viable shape when one group holds 10¹¹ rows at 100 TB. Sketch
    * internals are engine-specific, so raw estimates can't hash-match an
    * oracle; the query instead reports the exact quartiles (the
    * q_percentile cents-exact arithmetic, fully DuckDB-checkable) plus a
    * boolean asserting every sketch estimate landed within 1% of its exact
    * twin — accuracy=10000 bounds rank error at n/10000, far inside 1% on
    * any non-degenerate distribution, so a sketch regression fails the
    * GATE. The exact twin is the grader (q_ann_pq pattern); the 100 TB
    * library op is the approx column alone. */
  private def approxPercentiles(s: SparkSession, d: String): DataFrame = {
    val c = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    def ok(approx: Column, exact: Column): Column =
      abs(approx - exact) <= abs(exact) * 0.01
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        (percentile(c, lit(0.25)) / 100).as("p25"),
        (percentile(c, lit(0.5)) / 100).as("p50"),
        (percentile(c, lit(0.75)) / 100).as("p75"),
        approx_percentile(col("l_extendedprice"), lit(0.25), lit(10000)).as("a25"),
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000)).as("a50"),
        approx_percentile(col("l_extendedprice"), lit(0.75), lit(10000)).as("a75"))
      .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
        (ok(col("a25"), col("p25")) && ok(col("a50"), col("p50")) &&
          ok(col("a75"), col("p75"))).as("approx_ok"))
  }

  private def semiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))

  private def pivotAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(round(sum(col("o_totalprice").cast("decimal(18,4)")), 2).cast("double"))

  /** ULID assignment (reference src/constructs/functions.rs ULID()):
    * executor-side per-row generation. The ids themselves are
    * nondeterministic by design (80 random bits), so the raw column can
    * never hash-match an oracle; the query instead reports the contract
    * every ULID must satisfy per row (the q_embed_pca invariant pattern):
    * 26 chars, Crockford base32 (no I/L/O/U), and globally unique — the
    * uniqueness count is one window over the generated ids, so a collision
    * or a broken encoder fails the GATE, not just a spec. */
  private def ulidAssign(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(col("doc_id"), call_function("ulid").as("id"))
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("id"))))
      .select(col("doc_id"),
        length(col("id")).as("ulid_len"),
        col("id").rlike("^[0-9A-HJKMNP-TV-Z]{26}$").as("charset_ok"),
        (col("n_same") === 1).as("unique_ok"))
  }

  /** Last-write-wins upsert compaction: merge a base snapshot with an
    * update batch, keeping the highest-version row per key — the MERGE /
    * compaction step of any mutable-table-on-immutable-files layout
    * (Delta/Hudi/Iceberg-style), expressed as one keyed aggregation:
    * union → groupBy(key) → max(version) + max_by(col, version). Every
    * aggregate partial-combines map-side, so the single shuffle carries
    * one row per key per mapper — no window, no sort, no driver state.
    * The update batch here is synthesized from the base (every 3rd doc
    * re-ingested at version 2 with rewritten text) so the merge exercises
    * both updated and untouched keys; versions are distinct per key, so
    * max_by is tie-free and deterministic. */
  private def upsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), lit(1L).as("version"))
    val updates = Tables.documents(s, d)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit("patch").as("source"),
        upper(col("text")).as("text"), lit(2L).as("version"))
    base.unionByName(updates)
      .groupBy(col("doc_id"))
      .agg(
        max(col("version")).as("version"),
        max_by(col("source"), col("version")).as("source"),
        max_by(col("text"), col("version")).as("text"))
  }

  /** Right-to-be-forgotten cascade report (GDPR/CCPA erasure): given a
    * deletion list of customers, count what an erasure run would remove
    * from every table that transitively references them — customer rows
    * directly, orders by customer key, lineitems through their order.
    * Scale shape: the deletion list rides left-semi joins (AQE broadcasts
    * it — erasure batches are tiny against a 100 TB fact table), the
    * lineitem cascade goes through the already-filtered orders relation,
    * and the report is a fixed 3-row summary of partial-combined counts.
    * The deletion set is synthesized deterministically (every 97th
    * customer) so the cascade is non-vacuous at every SF. */
  private def gdprErase(s: SparkSession, d: String): DataFrame = {
    val del = Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("del_key"))
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    // r17 optimization: the erased customer set IS `del` (a filter of the
    // customer PK — the semi-join of customer against its own filtered
    // keys returns exactly those rows), and the deleted-order key set
    // feeds both its own count and the lineitem cascade — materialize it
    // once instead of running the orders semi-join twice.
    val custDel = del
    val ordDel = materializeOnce(s, d, "gdpr_orddel_keys")(
      ord.join(del, col("o_custkey") === col("del_key"), "left_semi")
        .select(col("o_orderkey").as("del_ord")))
    val liDel = li.join(ordDel,
      col("l_orderkey") === col("del_ord"), "left_semi")
    def report(name: String, total: DataFrame, deleted: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("rows_before"))
        .crossJoin(broadcast(deleted.agg(count(lit(1)).as("rows_deleted"))))
        .select(lit(name).as("table_name"), col("rows_before"),
          col("rows_deleted"),
          (col("rows_before") - col("rows_deleted")).as("rows_after"))
    report("customer", cust, custDel)
      .unionByName(report("orders", ord, ordDel))
      .unionByName(report("lineitem", li, liDel))
  }

  /** SCD Type-2 interval construction: turn a versioned record stream
    * into validity intervals — each version carries valid_from, valid_to
    * (= the next version's start, NULL while current) and an is_current
    * flag; the dimension-table layout every warehouse uses to answer
    * "what did this row look like when". One window pass keyed on the
    * record key ordered by version — per-key history is short (the lead
    * window never sees more than one key's versions), so the single
    * shuffle is by key and no global sort exists. Version history
    * synthesized deterministically (the q_version_topn doctrine). */
  private def scd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("version"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(1L), lit(1L) + col("doc_id") % 4)).as("version"))
      .select(col("doc_id"), col("version"),
        (col("n_chars") + col("version")).as("val"),
        (col("version") * 1000L).as("valid_from"),
        (lead(col("version"), 1).over(w) * 1000L).as("valid_to"),
        lead(col("version"), 1).over(w).isNull.as("is_current"))
  }

  /** Telemetry debounce: drop events arriving within one hour of the
    * previous event of the same (user, type) — the retry/double-fire
    * suppression every event pipeline runs at ingest (batch twin of the
    * streaming dropDuplicates-with-watermark, D6, but keyed on recency
    * rather than identity). One window shuffle keyed on (user, type);
    * lag-against-previous-event semantics (not previous-KEPT) keeps the
    * operator a single window pass — exact integer-ms comparison, no
    * float anywhere. */
  private def debounce(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ms"), col("event_id"))
    EventTime.withMs(Tables.events(s, d))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap").isNull || col("gap") > 3600000L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ms"))
  }

  /** Z-score outlier detection per event type: events whose value sits
    * more than 3 standard deviations from their type's mean — the
    * monitoring/fraud primitive. Two passes, both scan-shaped: a 5-row
    * moment aggregation (exact decimal Σx/Σx², the statsAgg doctrine —
    * built-in stddev is a partition-order coin-flip), broadcast back over
    * the event scan for the z computation. mean/sd/z are derived from
    * bitwise-identical doubles by identical op sequences in both engines,
    * so the |z| > 3 cut is engine-portable and z ships unrounded. */
  private def outliers(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.events(s, d)
      .groupBy(col("event_type").as("et"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sx"),
        sum((col("value") * col("value")).cast("decimal(28,6)")).cast("double").as("sxx"))
      .select(col("et"), (col("sx") / col("n")).as("mean"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))).as("sd"))
    Tables.events(s, d)
      .join(broadcast(stats), col("event_type") === col("et"))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - col("mean")) / col("sd")).as("z"))
      .filter(abs(col("z")) > 3.0)
  }

  /** Session-level event-type co-occurrence with lift — the market-basket
    * association primitive ("which behaviors happen in the same session
    * more often than independence predicts"). The event stream collapses
    * to distinct (user, session, type) FIRST — the self-join input is
    * bounded by sessions·types, and the (user, session)-keyed pair join
    * fans out at most #types per row, so candidates are sessions·types²,
    * corpus-length-independent. lift = n_ab·n_sessions / (n_a·n_b): exact
    * integer products, one IEEE division, bitwise cross-engine. */
  private def cooccurrence(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    // materialize-once (r17 optimization, the abc_rev pattern): this
    // relation feeds FIVE subplans — both sides of the pair self-join,
    // the per-type totals, and the session count — and each branch
    // otherwise re-runs the scan + two window passes + distinct per
    // execution (guide §5: reuse > recompute when the intermediate is
    // collapsed far below the fact).
    val sess = materializeOnce(s, d, "cooc_sess")(
      EventTime.withMs(Tables.events(s, d))
      .withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(wOrd) > 1800000L, 1)
          .otherwise(when(lag(col("ms"), 1).over(wOrd).isNull, 1).otherwise(0)))
      .withColumn("session_seq", sum(col("new_sess")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct())
    val totals = sess.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val nSess = sess.select(col("user_id"), col("session_seq")).distinct()
      .agg(count(lit(1)).as("n_sess"))
    sess.as("a")
      .join(sess.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_seq") === col("b.session_seq") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(totals.select(col("event_type").as("type_a"), col("n_t").as("n_a"))), "type_a")
      .join(broadcast(totals.select(col("event_type").as("type_b"), col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(nSess))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        ((col("n_ab") * col("n_sess")) * lit(1.0) / (col("n_a") * col("n_b"))).as("lift"))
  }

  /** Keep-latest-N retention compaction: the generalization of upsert
    * (N=1) every versioned lake table eventually needs — retain the 3
    * newest versions per key, drop the rest. Same bounded-heap `top_k`
    * aggregate as q_topk_per_group: per-task heaps partial-combine, so the
    * single keyed shuffle carries ≤ N rows per key per mapper — never a
    * window sort over the full version history (a hot key with 10⁶
    * versions costs O(10⁶·log N), not a sort). The version history is
    * synthesized deterministically (doc_id % 4 + 1 versions per doc, the
    * q_upsert doctrine) so every retention case 1..4 versions and the
    * drop path are exercised at every SF; versions are distinct per key,
    * so the heap ordering is tie-free. */
  private def versionTopN(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(1L), lit(1L) + col("doc_id") % 4)).as("version"))
      .groupBy(col("doc_id"))
      .agg(call_function("top_k",
        struct(col("version"), (col("n_chars") + col("version")).as("val")),
        lit(3)).as("top"))
      .select(col("doc_id"), explode(col("top")).as("t"))
      .select(col("doc_id"), col("t.version").cast("int").as("version"),
        col("t.val").as("val"))

  /** Month-over-month revenue trend: monthly totals + percent change vs
    * the previous month. The window runs over the AGGREGATED month series
    * (≤ a few hundred rows at any corpus size — a BOUNDED domain, on the
    * plan-audit allowlist), never the fact rows; the fact scan is one
    * partial-combined groupBy. Float discipline: monthly revenue is the
    * exact-decimal moneySum double, and (cur − prev)·100/prev is the same
    * three-op IEEE sequence in both engines on bitwise-equal inputs, so
    * pct_change ships unrounded. */
  private def momTrend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.orders(s, d)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(moneySum(col("o_totalprice")).as("revenue"))
    val w = Window.orderBy(col("month"))
    val prev = lag(col("revenue"), 1).over(w)
    monthly.select(col("month"), col("revenue"),
      prev.as("prev_revenue"),
      ((col("revenue") - prev) * lit(100.0) / prev).as("pct_change"))
  }

  /** Correlated-subquery decorrelation: customers spending > 1.5× their
    * nation's average customer spend ("WHERE total > 1.5 * (SELECT avg …
    * WHERE same nation)"). The scale shape is two aggregations + one
    * broadcast: per-customer totals (one keyed fact shuffle), a 25-row
    * per-nation average over those totals, broadcast back over the
    * per-customer relation — never a per-row subquery re-evaluation.
    * Determinism: totals are moneySum doubles, the nation average is the
    * exact-decimal moneyAvg (sum of 2-dp-exact decimals / count), and the
    * `> avg·1.5` comparison runs on bitwise-identical doubles in both
    * engines. */
  private def aboveAvgSpenders(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(moneySum(col("o_totalprice")).as("total_spend"))
    // r17 optimization: perCust feeds the nation-average aggregate AND
    // the final filter join — materialized once (customer-cardinality)
    // so the orders fact is aggregated once, not twice.
    val perCust = materializeOnce(s, d, "above_avg_percust")(
      spend.join(
      Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
      col("o_custkey") === col("c_custkey")))
    val nationAvg = perCust.groupBy(col("c_nationkey"))
      .agg(moneyAvg(col("total_spend")).as("nation_avg"))
    perCust.join(broadcast(nationAvg), "c_nationkey")
      .filter(col("total_spend") > col("nation_avg") * 1.5)
      .select(col("o_custkey").as("custkey"), col("c_nationkey").as("nationkey"),
        col("total_spend"), col("nation_avg"))
  }

  /** Key-skew profiler over the event stream's shuffle key: per-key count
    * distribution stats — key cardinality, max/median key weight, the top
    * key's share, and the p99/p50 hot-key ratio. This is the operational
    * pre-flight for every keyed shuffle at 100 TB: it answers "does
    * user_id need salting / AQE skew-join" with one dimension-sized
    * aggregation instead of an OOM in production. Scale shape: one
    * partial-combined count per key (shuffle is key-cardinality-sized),
    * then a single-row exact-percentile aggregate over the per-key
    * counts. Share is one IEEE division of exact int64s, shipped
    * unrounded (bitwise cross-engine). */
  private def keySkew(s: SparkSession, d: String): DataFrame = {
    val perKey = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("total"),
      max(col("n")).as("max_n"),
      percentile(col("n"), lit(0.5)).as("p50_n"),
      percentile(col("n"), lit(0.99)).as("p99_n"),
      (max(col("n")) * lit(1.0) / sum(col("n"))).as("max_share"))
  }

  /** Trailing 7-day per-user rolling spend: for every event, the count and
    * sum of that user's event values in the preceding 7×24 h window —
    * the RANGE-frame window aggregate (running_sum B6 is the ROWS-frame
    * twin; a trailing range is the standard velocity/abuse feature).
    * Scale shape: one hash shuffle on user_id, per-partition sort by ms,
    * then a two-pointer frame scan — no self-join, no explode; output is
    * one row per input row. The frame sum is exact decimal (moneySum
    * discipline) so frame-evaluation order can't move a bit. */
  private def rolling7d(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-604800000L, 0L)
    EventTime.withMs(Tables.events(s, d))
      .select(col("event_id"), col("user_id"), col("ms"), col("value"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d",
        round(sum(col("value").cast("decimal(18,4)")).over(w), 2).cast("double"))
      .select(col("event_id"), col("user_id"), col("ms"), col("n_7d"), col("sum_7d"))
  }

  /** Event-type transition matrix (first-order Markov behavior card):
    * counts and row-normalized probabilities of consecutive event-type
    * pairs per user — the standard session-flow diagnostic (a spike in
    * purchase→purchase means retry storms; view→signup measures flow
    * direction). Scale shape: one user_id-keyed window pass produces the
    * (from, to) pairs, then a partial-combined count into a |types|²-row
    * matrix; the row totals join is dimension-sized and broadcast. p is
    * one IEEE division of exact int64s, shipped unrounded. Total order
    * within a user: (ms, event_id) — the unique id breaks ms ties so the
    * lag is deterministic cross-engine. */
  private def transitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    // r18: the |types|²-row matrix feeds BOTH the row-totals aggregate and
    // the final join — unmaterialized, the fact window pass ran twice per
    // execution (the r17 q_cooccurrence pattern, missed by the ≥3-scan
    // audit cut). Collapsed-relation-sized, evictAll-registered.
    val pairs = materializeOnce(s, d, "transitions_pairs")(
      EventTime.withMs(Tables.events(s, d))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n")))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("row_total"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n") * lit(1.0) / col("row_total")).as("p"))
  }

  /** Top event paths: the 20 most common 3-step behavioral sequences
    * (the path-analysis report next to B42's single-step transition
    * matrix — "what do users actually DO": funnels you didn't think to
    * define show up here first). Per-user total order (ms, event_id — the
    * unique id breaks ms ties), two leads build the consecutive triple,
    * then a partial-combined count and a TakeOrdered top-20 (no global
    * sort). Cross-engine: path strings concatenate deterministically and
    * the (n DESC, path) order key is total. */
  private def eventPaths(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    EventTime.withMs(Tables.events(s, d))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t1"), col("t2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Interval-concurrency sweep: line items pending shipment per day —
    * how many [o_orderdate, l_shipdate] intervals cover each calendar day
    * with a boundary change. The classic overlap count (concurrent
    * sessions, open connections, WIP inventory) that a per-day
    * interval-containment join would turn into a range-join blowup;
    * the sweep is two boundary rows per interval instead.
    * Scale shape: one keyed fact-fact join attaches the order date, then
    * ±1 boundary deltas aggregate partial-combined to ONE row per
    * distinct date (dimension-sized — a few thousand whatever the
    * corpus), and only that tiny relation pays the ordered running-sum
    * window; the corpus-sized data is never globally sorted. Exact
    * integer counts throughout. */
  private def inTransit(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
    val deltas = iv.select(to_date(col("o_orderdate")).as("day"), lit(1L).as("delta"))
      .unionAll(iv.select(date_add(to_date(col("l_shipdate")), 1).as("day"),
        lit(-1L).as("delta")))
      .groupBy(col("day")).agg(sum(col("delta")).as("net"))
    import org.apache.spark.sql.expressions.Window
    deltas
      .withColumn("pending",
        sum(col("net")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("net"), col("pending"))
  }

  /** Trailing 7-day active users (WAU) per day — the canonical engagement
    * metric, and the textbook case where the naive shape (a per-day
    * self-join against a 7-day range) explodes at scale. Scalable shape:
    * the corpus collapses to DISTINCT (user, active-day) first
    * (users·days-sized, corpus-size-independent), each row then fans out
    * to exactly the 7 window-end days it contributes to (a bounded
    * explode — output is 7× a dimension-sized relation, not a range
    * join), and a distinct-count per window day finishes partial-combined.
    * Exact integers end to end. */
  private def wau(s: SparkSession, d: String): DataFrame = {
    val ud = EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .distinct()
    ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(6))).as("wday"))
      .distinct()
      .groupBy(col("wday")).agg(count(lit(1)).as("wau"))
  }

  /** TPC-H Q10 flavor: top-20 customers by revenue lost to returned items
    * — the standard "who should support call first" report. One keyed
    * fact-fact join (returned lines ↔ orders; the returnflag filter
    * prunes ~75% of lineitem AT THE SCAN via parquet pushdown), customer
    * and nation dims ride broadcast, per-customer revenue partial-combines
    * before the 20-row TakeOrdered. Revenue through moneySum (exact
    * decimal) so the ranking is deterministic cross-engine. */
  private def returnedRevenue(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("vol"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(moneySum(col("vol")).as("revenue"))
    rev
      .join(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Gaps-and-islands: longest consecutive-day activity streak (and
    * streak count) per user — the retention/engagement workhorse, and the
    * canonical pattern where day − row_number() is constant within an
    * island so streaks fall out of two partial-combined aggregations.
    * Scale shape: the corpus collapses to DISTINCT (user, day) first
    * (corpus-size-independent), the window ranks inside that
    * dimension-sized relation, everything after is keyed aggregation —
    * exact integers end to end. */
  private def streaks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    ud.withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
  }

  /** Marketing attribution (first-touch / last-touch): for every
    * converting user (≥1 purchase), the event type that opened their
    * history and the one immediately preceding their first purchase —
    * the channel-credit query behind every growth dashboard. Scale shape:
    * both argmin/argmax windows rank WITHIN a user partition (never
    * global), the purchase relation collapses to one row per user before
    * any join, and a user whose first event is the purchase itself keeps
    * the row via left join + 'direct' fill. Ties break on event_id —
    * exact integers, deterministic in any engine. */
  private def attribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r17 optimization: this projection feeds the purchase aggregate, the
    // first-touch window, and the last-touch join — materialized once so
    // the events fact is scanned once, not three times.
    val ev = materializeOnce(s, d, "attribution_ev")(
      EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), col("event_type"), col("ms"), col("event_id")))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(col("ms")).as("p_ms"), count(lit(1)).as("n_purchases"))
    val wFirst = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val first = ev.withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_touch"))
    val wLast = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").desc, col("event_id").desc)
    val last = ev.join(fp.select(col("user_id"), col("p_ms")), "user_id")
      .filter(col("ms") < col("p_ms"))
      .withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_touch"))
    fp.select(col("user_id"), col("n_purchases"))
      .join(first, "user_id")
      .join(last, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("first_touch"),
        coalesce(col("last_touch"), lit("direct")).as("last_touch"),
        col("n_purchases"))
  }

  /** Funnel time-to-convert: for users completing the q_funnel chain
    * (signup → view ≤24h → purchase ≤24h), the wall-clock from first
    * signup to the completing purchase, reported as exact interpolated
    * quartiles + p90 (the q_percentile cross-engine discipline — integer
    * millisecond inputs, `percentile` ≡ `quantile_cont`). The per-user
    * chain is three keyed min-aggregations exactly as q_funnel builds
    * them; the final percentile runs over ≤ one row per user. */
  private def funnelTtc(s: SparkSession, d: String): DataFrame = {
    val stepMs = 86400000L
    val ev = EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), col("event_type"), col("ms"))
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ms")).as("t1"))
    val t2 = ev.filter(col("event_type") === "view")
      .join(t1, "user_id")
      .filter(col("ms") > col("t1") && col("ms") <= col("t1") + stepMs)
      .groupBy(col("user_id")).agg(min(col("ms")).as("t2"), min(col("t1")).as("t1m"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ms") > col("t2") && col("ms") <= col("t2") + stepMs)
      .groupBy(col("user_id")).agg(min(col("ms")).as("t3"), min(col("t1m")).as("t1f"))
    t3.select((col("t3") - col("t1f")).as("ttc"))
      .agg(count(lit(1)).as("n_converted"),
        percentile(col("ttc"), lit(0.25)).as("p25_ms"),
        percentile(col("ttc"), lit(0.5)).as("p50_ms"),
        percentile(col("ttc"), lit(0.75)).as("p75_ms"),
        percentile(col("ttc"), lit(0.9)).as("p90_ms"))
  }

  /** Join-key explosion audit: per-key fanout profiles of both sides of
    * a join (orders ⋈ lineitem here) plus the EXACT output cardinality
    * Σ cl·cr — the pre-flight check before any large join at 100 TB
    * (a max fanout in the millions on both sides is the skew/cross-blowup
    * the AQE skew-join and salting exist for; orphan counts are the
    * referential-integrity signal). Scale shape: each side collapses to
    * (key, count) with partial aggregation before the full-outer key
    * join, so the audit never materializes the join it predicts — its
    * cost is two scans + one dimension-keyed shuffle. Exact integers
    * throughout. */
  private def joinExplosion(s: SparkSession, d: String): DataFrame = {
    val l = Tables.orders(s, d)
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cl"))
    val r = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cr"))
    l.join(r, Seq("k"), "full_outer")
      .select(coalesce(col("cl"), lit(0L)).as("cl"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("cl") > 0 && col("cr") > 0, 1L).otherwise(0L)).as("n_keys_both"),
        max(col("cl")).as("max_fanout_left"),
        max(col("cr")).as("max_fanout_right"),
        sum(col("cl") * col("cr")).as("est_join_rows"),
        sum(when(col("cr") === 0, 1L).otherwise(0L)).as("n_orphan_left"),
        sum(when(col("cl") === 0, 1L).otherwise(0L)).as("n_orphan_right"))
  }

  /** Daily-volume trend per event type: the least-squares slope of daily
    * counts over epoch-days — the grow/shrink detector behind volume
    * alerting. The normal equations run on INTEGER sums only (days and
    * counts are exact longs, so n·Σxy − ΣxΣy and n·Σxx − (Σx)² are exact
    * — no decimal routing needed, unlike the ln-based q_zipf), with ONE
    * double division at the end: bitwise cross-engine by construction.
    * Scale shape: the corpus collapses to (type, day) counts first
    * (dimension-sized forever), then one tiny keyed aggregate. */
  private def volumeTrend(s: SparkSession, d: String): DataFrame = {
    val daily = EventTime.withMs(Tables.events(s, d))
      .select(col("event_type"), expr("ms div 86400000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("day")).as("sx"), sum(col("n")).as("sy"),
        sum(col("day") * col("n")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .select(col("event_type"), col("n_days"), col("sy").as("total"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_per_day"))
  }

  /** Hourly seasonality profile per event type: peak hour and a
    * chi-square uniformity statistic over the 24-hour histogram. The
    * χ² = Σ(o−e)²/e with e = T/24 collapses to the exact integer
    * identity (24·Σo² − T²)/T — empty hours contribute zero to Σo² and
    * the identity already counts all 24 buckets, so no zero-fill join is
    * needed and the statistic is exact up to one final division. Peak
    * ties break on the earlier hour. High χ² = bursty/bot-like traffic;
    * near-zero = uniform. */
  private def hourlyProfile(s: SparkSession, d: String): DataFrame = {
    // r18: the ≤|types|×24-row histogram feeds the moments aggregate AND
    // the peak join (which ALSO re-reads the aggregate) — unmaterialized,
    // the events scan ran 3× per execution. Collapsed-relation-sized,
    // evictAll-registered; `agg` is ≤|types| rows and derives from the
    // cached histogram, so it needs no cache of its own.
    val hours = materializeOnce(s, d, "hourly_profile_hist")(
      EventTime.withMs(Tables.events(s, d))
        .select(col("event_type"), expr("(ms div 3600000) % 24").as("hour"))
        .groupBy(col("event_type"), col("hour")).agg(count(lit(1)).as("n")))
    val agg = hours.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"),
        sum(col("n") * col("n")).as("sum_sq"),
        max(col("n")).as("peak_n"))
    val peak = hours.join(agg.select(col("event_type"), col("peak_n")),
        Seq("event_type"))
      .filter(col("n") === col("peak_n"))
      .groupBy(col("event_type")).agg(min(col("hour")).as("peak_hour"))
    agg.join(peak, "event_type")
      .select(col("event_type"), col("total"), col("peak_hour"), col("peak_n"),
        ((lit(24L) * col("sum_sq") - col("total") * col("total")).cast("double")
          / col("total")).as("chi2"))
  }

  /** Incremental rollup merge: the lambda-architecture maintenance step —
    * a daily (type, day) rollup kept from history is REFRESHED with a
    * late delta by merging partial aggregates (full-outer on the rollup
    * key, null-filled sums added, counts added) instead of rescanning
    * history. The oracle recomputes the rollup from scratch, so the
    * hash-match IS the proof that merge ≡ recompute — the algebraic
    * property (sum/count/min/max are commutative monoids) every
    * incremental pipeline silently relies on. Split = last 7 epoch-days
    * of the stream play the "late delta". Scale shape: history never
    * rescans; both sides partial-combine to dimension-sized rollups
    * before a keyed merge join. */
  private def rollupMerge(s: SparkSession, d: String): DataFrame = {
    val ev = EventTime.withMs(Tables.events(s, d))
      .select(col("event_type"), expr("ms div 86400000").as("day"),
        col("event_id"), col("value").cast("decimal(18,4)").as("v"))
    def roll(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          max(col("v")).as("mv"))
    // even event_ids play the settled history, odd ones the late delta —
    // almost every (type, day) lands on both sides, so the merge is a
    // real partial-aggregate addition, not a disjoint union
    val base = roll(ev.filter(col("event_id") % 2 === 0))
    val delta = roll(ev.filter(col("event_id") % 2 === 1))
    base.as("b").join(delta.as("dl"),
        col("b.event_type") === col("dl.event_type")
          && col("b.day") === col("dl.day"), "full_outer")
      .select(
        coalesce(col("b.event_type"), col("dl.event_type")).as("event_type"),
        coalesce(col("b.day"), col("dl.day")).as("day"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("dl.n"), lit(0L))).as("n"),
        round(coalesce(col("b.sv"), lit(0).cast("decimal(28,4)"))
          + coalesce(col("dl.sv"), lit(0).cast("decimal(28,4)")), 2)
          .cast("double").as("sum_value"),
        round(greatest(col("b.mv"), col("dl.mv")), 2).cast("double")
          .as("max_value"))
  }

  /** Min-cost supplier per part (TPC-H Q2 flavor, re-derived without a
    * partsupp table — this schema's part×supplier cost relation lives in
    * lineitem): a supplier's unit cost on a part is the cheapest observed
    * l_extendedprice/l_quantity, fixed-pointed per row to DECIMAL(18,6)
    * (the division is ONE IEEE op — bitwise identical cross-engine — and
    * the cast a deterministic rounding), so the per-(part,supplier) MIN
    * and the per-part argmin are exact selections with (cost, suppkey)
    * tie-break. Scale shape: the fact collapses to part×supplier partial
    * aggregates before any window; the rank window partitions by part
    * (never global); supplier/nation dims broadcast, while the SF-scaling
    * part dim defers to size-stats/AQE (a forced hint on a dim that is
    * 1.5B rows at 100 TB would OOM where AQE correctly picks SMJ). */
  private def minCostSupplier(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = Tables.part(s, d).filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_name"))
    val unit = Tables.lineitem(s, d)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).cast("decimal(18,6)").as("u"))
      .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
      .agg(min(col("u")).as("cost"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("cost"), col("l_suppkey"))
    unit.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("cost").cast("double").as("cost"))
  }

  /** Important-stock screen (TPC-H Q11 flavor): parts whose lineitem
    * revenue exceeds 1.5× the mean per-part revenue — the threshold is
    * expressed as the EXACT decimal cross-multiplication
    * value·n_parts·2 > total·3, so no division ever happens and the
    * predicate cannot flip on a float boundary. Scale shape: one partial
    * -combined per-part aggregate; the (total, count) scalar broadcasts
    * back over the part-sized relation, never over the fact. */
  private def importantParts(s: SparkSession, d: String): DataFrame = {
    val value = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("value"))
    // (total, np) as a broadcast scalar over the SAME aggregate subtree:
    // the per-part relation scales with SF (20M parts at sf100), so an
    // unordered global window over it is a single-partition bottleneck.
    // The scalar re-aggregation shares the identical partial-agg exchange
    // with `value`, which Spark plans as ReusedExchange — still one fact
    // scan (plan-asserted in QueryPlanSpec).
    val tot = value.agg(sum(col("value")).as("total"), count(lit(1)).as("np"))
    value.crossJoin(broadcast(tot))
      .filter(col("value") * col("np") * 2 > col("total") * 3)
      .select(col("l_partkey").as("p_partkey"),
        round(col("value"), 2).cast("double").as("value"))
  }

  /** Top supplier by quarter revenue (TPC-H Q15 flavor): supplier(s)
    * whose 1997Q1 shipped revenue equals the global max — revenue sums
    * are exact DECIMAL(18,4) (price·(1−disc) is a 4-dp value, so the
    * per-row fixed-pointing is exact, pricingSummary's discipline), and
    * the max-equality join is exact decimal equality: the classic
    * "ties included" Q15 semantics with no float hazard. Scale shape:
    * shipdate range prunes the scan; the fact collapses to one row per
    * supplier; the max is a broadcast scalar. */
  private def topSupplier(s: SparkSession, d: String): DataFrame = {
    // the explicit (no-op) suppkey null filter makes BOTH consumers of
    // `rev` canonicalize identically: without it the supplier equi-join
    // pushes an inferred isnotnull only into the row branch's scan, which
    // defeats AQE's shuffle-stage reuse and doubles the fact scan
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1997-04-01")
        && col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("total_revenue"))
    // the max as a broadcast scalar: re-aggregating `rev` shares the same
    // partial-agg exchange (ReusedExchange — one fact scan, plan-asserted),
    // where an unordered global window over the per-supplier relation would
    // single-partition an SF-scaling input (1M suppliers at sf100)
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_revenue"), 2).cast("double").as("total_revenue"))
  }

  /** Supplier variety per part class (TPC-H Q16 flavor): distinct
    * suppliers serving each small-size (brand, type, size) class — the
    * assortment/competition report. Scale shape: the size filter prunes
    * the broadcast part dim to ~10%, the fact is joined then collapses
    * to DISTINCT (class, supplier) via the count-distinct partial
    * Expand; grouping keys are low-cardinality so the shuffle carries
    * partial states only. */
  private def partSupplierCounts(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d).filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(s, d)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** Small-quantity revenue screen (TPC-H Q17 flavor): revenue sitting
    * in lineitem rows below 20% of their part's average quantity — the
    * slow-mover/fragmentation loss estimate. The per-part average uses
    * the moneyAvg identity (exact decimal sum, one cast, one division —
    * bitwise cross-engine) and 0.2·avg is a single IEEE product, so the
    * row predicate is deterministic. Scale shape: the per-part average
    * is a part-dimension-sized relation joined back onto the fact
    * (size-stats/AQE pick broadcast while it fits); everything
    * else is one partial-combined global aggregate. */
  private def smallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val avgQ = li.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
        / count(col("l_quantity"))).as("avg_qty"))
    li.join(avgQ, "l_partkey")
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(count(lit(1)).as("n_small_lines"),
        moneySum(col("l_extendedprice")).as("total_price"),
        (moneySum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  /** Large-volume orders (TPC-H Q18 flavor): orders whose summed line
    * quantity tops 250 units, with their customer — the big-buyer
    * watchlist. Quantity sums are exact DECIMAL(18,4) so the threshold
    * cannot flip; o_totalprice passes through untouched (same parquet
    * value in both engines). Scale shape: the fact partial-combines to
    * one row per order BEFORE the threshold cuts ~98.5% of keys, so the
    * orders join only sees survivors; customer dim broadcasts. */
  private def largeOrders(s: SparkSession, d: String): DataFrame = {
    val oq = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    oq.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty").cast("double").as("sum_qty"))
  }

  /** Dormant high-balance customers (TPC-H Q22 flavor): customers whose
    * balance beats the positive-balance average but who placed no order
    * since 2000-01-01, grouped by nation — the win-back segment. The
    * average is the moneyAvg identity (bitwise cross-engine); the
    * "no recent order" test is an anti join against the date-pruned
    * orders scan. Scale shape: scalar broadcast over the customer dim,
    * anti join shuffles only the pruned order keys, final agg is
    * nation-cardinality. */
  private def idleCustomers(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,4)")).cast("double")
        / count(lit(1))).as("ab"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        moneySum(col("c_acctbal")).as("totacctbal"))
  }

  /** RFM segmentation: every customer scored into recency / frequency /
    * monetary quartiles (ntile(4)) and a composite "r-f-m" segment — the
    * standard CRM partitioning. All three rank keys are exact (integer
    * epoch-days, counts, decimal sums) with custkey tie-break, so ntile
    * assignment is deterministic in any ANSI engine. Scale shape: the
    * orders fact collapses to one row per customer FIRST; per-customer
    * cardinality still scales with SF (15M rows at sf10), so the three
    * quartile assignments go through the distributed rangeNtile — range
    * shuffles and offset maps, never a single-partition window. The
    * reference day is a broadcast scalar, not a global unordered window. */
  private def rfm(s: SparkSession, d: String): DataFrame = {
    // r17 optimization: the per-customer collapse feeds the reference-day
    // scalar AND the scored base (and the three nested rangeNtile passes
    // re-scan their input) — materialize once so the orders fact is
    // aggregated a single time.
    val per = materializeOnce(s, d, "rfm_per_cust")(Tables.orders(s, d)
      .select(col("o_custkey"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000").as("day"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
      .groupBy(col("o_custkey"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("frequency"),
        sum(col("price")).as("monetary")))
    val ref = per.agg(max(col("last_day")).as("ref_day"))
    val base = per.crossJoin(broadcast(ref))
      .withColumn("recency_days", col("ref_day") - col("last_day"))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"))
    val scored = rangeNtile(
      rangeNtile(
        rangeNtile(base, 4,
          Seq(col("recency_days"), col("o_custkey")), "r_qi"), 4,
        Seq(col("frequency").desc, col("o_custkey")), "f_qi"), 4,
      Seq(col("monetary").desc, col("o_custkey")), "m_qi")
    scored.withColumn("r_q", col("r_qi").cast("bigint"))
      .withColumn("f_q", col("f_qi").cast("bigint"))
      .withColumn("m_q", col("m_qi").cast("bigint"))
      .select(col("o_custkey").as("c_custkey"), col("recency_days"),
        col("frequency"), round(col("monetary"), 2).cast("double").as("monetary"),
        col("r_q"), col("f_q"), col("m_q"),
        concat(col("r_q").cast("string"), lit("-"), col("f_q").cast("string"),
          lit("-"), col("m_q").cast("string")).as("segment"))
  }

  /** ABC / Pareto revenue classification: parts bucketed A/B/C by
    * cumulative revenue share (≤70% / ≤90% / rest) — the inventory-
    * concentration report ("20% of parts carry 80% of revenue").
    * Cumulative sums are exact decimals ordered by (rev desc, partkey),
    * and the share thresholds are exact cross-multiplications
    * (cum·10 ≤ total·7) — no division, no float boundary. Scale shape:
    * the fact partial-combines to one row per part; the cumulative sum
    * runs through the distributed rangeCumSum (bucket-partitioned
    * codegen windows + exact broadcast offsets — never a global or
    * single-partition sort); output is 3 rows. */
  private def abcAnalysis(s: SparkSession, d: String): DataFrame = {
    // the 60M-row (at sf0.1×100) fact collapses to one row per part ONCE:
    // everything downstream — the grand total, rangeCumSum's sketch and
    // bucket passes, and the final classification — reads the 2M-row
    // cached relation instead of re-running the fact aggregation per pass
    val rev = materializeOnce(s, d, "abc_rev")(Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("rev")))
    // per-part aggregates scale WITH the corpus (×100 receipt: 13.6× for
    // the old unpartitioned cumulative window) — the prefix sum runs
    // distributed via rangeCumSum, and the grand total is a broadcast
    // one-row aggregate instead of a global window frame
    val total = rev.agg(sum(col("rev")).as("total"))
    rangeCumSum(rev, "rev", descending = true, Seq(col("l_partkey")),
        "rev", "cum")
      .crossJoin(broadcast(total))
      .withColumn("cls",
        when(col("cum") * 10 <= col("total") * 7, lit("A"))
          .when(col("cum") * 10 <= col("total") * 9, lit("B"))
          .otherwise(lit("C")))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("rev")), 2).cast("double").as("class_revenue"))
  }

  /** Inter-event cadence: per event type, the median and p90 gap between
    * a user's consecutive events of that type — the engagement-rhythm /
    * polling-detection signal. Gaps are exact integer milliseconds from
    * a lag window inside (user, type) partitions (never global), with
    * event_id tie-break; the final exact interpolated percentiles run
    * per type over integer inputs (the q_percentile ≡ quantile_cont
    * discipline). */
  private def eventGaps(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), col("event_type"), col("ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ms"), col("event_id"))
    ev.withColumn("prev", lag(col("ms"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("ms") - col("prev")).as("gap"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        percentile(col("gap"), lit(0.5)).as("p50_ms"),
        percentile(col("gap"), lit(0.9)).as("p90_ms"))
  }

  /** Forecast-revenue change (TPC-H Q6): revenue that would be recovered
    * by dropping small mid-discount line items in one shipping year —
    * THE pushdown showcase: all three predicates (shipdate range,
    * discount band, quantity cap) reach the parquet scan as
    * PushedFilters, the projection prunes to two columns, and the single
    * global aggregate partial-combines. price·disc is 2dp×2dp = 4dp
    * exact, so the DECIMAL(18,4) fixed-pointing is lossless. */
  private def forecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1998-01-01")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")), 2).cast("double").as("forecast_revenue"))

  /** Bilateral trade flows (TPC-H Q7 flavor): shipped revenue between
    * supplier-nation and customer-nation pairs per year, for a bounded
    * nation subset — the cross-border volume report. Scale shape: the
    * lineitem↔orders join is the only fact-fact shuffle; supplier /
    * customer / nation dims broadcast (nationkey filters prune them
    * BEFORE broadcast, which prunes the fact via the join); revenue is
    * the exact 4-dp decimal sum, year an integer extraction. */
  private def tradeFlows(s: SparkSession, d: String): DataFrame = {
    val supp = Tables.supplier(s, d).filter(col("s_nationkey") < 13)
      .select(col("s_suppkey"), col("s_nationkey"))
    val cust = Tables.customer(s, d).filter(col("c_nationkey") < 13)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01")
        && col("l_shipdate") < lit("1998-01-01"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sk"))
      .join(broadcast(nat.select(col("n_nationkey").as("ck"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("ck"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** Promotion revenue share (TPC-H Q14 flavor): the fraction of one
    * month's revenue carried by PROMO-type parts. Both sums are exact
    * 4-dp decimals over the date-pruned scan; the share is one IEEE
    * division of two exact values — bitwise cross-engine. The part dim
    * defers to size-stats/AQE (broadcast at proportional SFs, SMJ when
    * it outgrows the threshold); single-row output. */
  private def promoShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-03-01")
        && col("l_shipdate") < lit("1997-04-01"))
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO",
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)"))), 2)
          .cast("double").as("promo_revenue"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("total_revenue"),
        (sum(when(col("p_type") === "PROMO",
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)")))
          .cast("double") * 100
          / sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double")).as("promo_pct"))

  /** Ship-latency SLA report: exact interpolated p50/p90/p99 of
    * order-to-ship days per order priority — the fulfilment dashboard.
    * Latencies are exact integer epoch-day differences (UTC-pinned, the
    * EventTime discipline applied to both date columns); the keyed
    * fact-fact join is the only shuffle; percentiles group by the
    * 5-value priority dimension. */
  private def shipLatency(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")
          .as("ship_day"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("order_day")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), (col("ship_day") - col("order_day")).as("lat"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        percentile(col("lat"), lit(0.5)).as("p50_days"),
        percentile(col("lat"), lit(0.9)).as("p90_days"),
        percentile(col("lat"), lit(0.99)).as("p99_days"))

  /** Centered 7-day moving average of daily event volume per type — the
    * smoothed-trend line every ops dashboard draws (centered, so the
    * smoothing doesn't lag the signal like a trailing window). The RANGE
    * frame (±3 DAYS by value, not by row) handles missing days exactly;
    * numerator is an exact integer window sum, denominator the count of
    * PRESENT days in the span, one IEEE division. Scale shape: the
    * corpus collapses to (type, day) with map-side partial agg first;
    * the window partitions by type over day-sized relations. */
  private def centeredMa(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = EventTime.withMs(Tables.events(s, d))
      .select(col("event_type"), expr("ms div 86400000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-3, 3)
    daily.select(col("event_type"), col("day"), col("n"),
      (sum(col("n")).over(w).cast("double") / count(lit(1)).over(w))
        .as("ma7"))
  }

  /** Gini coefficient of revenue concentration across parts — the
    * one-number inequality audit next to B61's ABC buckets (0 = uniform,
    * →1 = one part carries everything). Computed by the exact rank
    * identity G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted
    * exact decimal revenues with partkey ties: every sum is exact
    * decimal/integer arithmetic, the division is the single final IEEE
    * op. Scale shape: fact collapses to one row per part, the rank
    * window is the documented dimension-sized global sort, output is
    * one row. */
  private def gini(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("rev"))
    val w = Window.orderBy(col("rev"), col("l_partkey"))
    rev.withColumn("i", row_number().over(w))
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
        sum(col("rev") * col("i")).as("s1"))
      .select(col("n").as("n_parts"),
        round(col("s"), 2).cast("double").as("total_revenue"),
        ((lit(2) * col("s1") - (col("n") + 1) * col("s")).cast("double")
          / (col("n") * col("s")).cast("double")).as("gini"))
  }

  /** Epoch-day column for a timestamp — UTC-pinned integer arithmetic so
    * date differences are exact and tz-independent (the q_ship_latency
    * discipline). */
  private def epochDay(c: Column): Column =
    expr(s"unix_millis(cast(${c.toString} as timestamp)) div 86400000")

  /** Late-order priority count (TPC-H Q4 flavor, re-derived: this schema
    * has no commitdate/receiptdate, so "late" = a line shipped more than
    * 30 days after the order date). Orders in a half-year window that had
    * at least one late line, counted per priority — the fulfilment-SLA
    * breach report. The EXISTS is a left-semi join whose extra lateness
    * conjunct rides the join condition (no post-join filter relation).
    * Scale shape: the date range prunes the orders scan BEFORE the
    * fact-fact semi join (the only shuffle); output is the 5-row
    * priority dimension. */
  private def latePriority(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-07-01"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          (epochDay(col("l_shipdate")) - epochDay(col("o_orderdate")) > 30),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Customer order-count distribution (TPC-H Q13 flavor): how many
    * customers placed k orders, INCLUDING the zero-order tail (the left
    * join Q13 exists to exercise). Scale shape: the orders fact collapses
    * to one row per customer FIRST (partial-combined count), the left
    * join then runs dimension×dimension; output is the ~20-row count
    * histogram. */
  private def custOrderDist(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(per, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Disjunctive-predicate revenue (TPC-H Q19 flavor): revenue from three
    * OR'd (brand-set, size, quantity-window) branches — the classic
    * pushdown stress: Catalyst must keep the disjunction usable. The
    * part-side conjuncts (brand IN …, size ≤ …) are OR-factored against
    * the broadcast part dim; the mixed part×lineitem disjunction runs as
    * the join's residual condition. Scale shape: part dim broadcasts
    * (pruned by the OR'd brand/size envelope pushed to its scan), the
    * fact is scanned once, single-row output. */
  private def disjunctiveRevenue(s: SparkSession, d: String): DataFrame = {
    val branch1 = col("p_brand").isin("Brand#11", "Brand#12") &&
      col("p_size") <= 15 && col("l_quantity") <= 15
    val branch2 = col("p_brand").isin("Brand#22", "Brand#23") &&
      col("p_size") <= 25 && col("l_quantity").between(10, 25)
    val branch3 = col("p_brand").isin("Brand#33", "Brand#34") &&
      col("p_size") <= 35 && col("l_quantity") >= 25
    Tables.lineitem(s, d)
      .join(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
  }

  /** Sole-blame late suppliers (TPC-H Q21 flavor): in multi-supplier
    * orders, suppliers who were the ONLY one to ship late (>60 days after
    * the order date) — the vendor-accountability ranking. Q21's
    * EXISTS/NOT-EXISTS pair is re-expressed as aggregation: the late
    * relation's per-order count must be exactly 1, which is the
    * NOT-EXISTS (no OTHER late supplier) in closed form — no second
    * self-join. Scale shape: one fact-fact shuffle builds the late set,
    * everything after runs on (order,supplier) pairs that were actually
    * late plus a per-order distinct-supplier count; supplier dim
    * broadcasts; deterministic top-20 via TakeOrdered with name ties. */
  private def waitingSuppliers(s: SparkSession, d: String): DataFrame = {
    // ONE pass over the fact (r10, was two): the joined scan collapses to
    // distinct (order, supplier) pairs carrying a late flag — partial-
    // combined, no Expand — and a second pair-cardinality aggregation
    // derives per-order supplier count, late-supplier count, and (since
    // the filter demands exactly one) THE late supplier in the same
    // grouped pass. At 100 TB the fact scan is the dominant cost; the
    // previous shape paid it twice (once for the late set, once for the
    // multi-supplier countDistinct), and a naive fused
    // countDistinct×2 would pay a 3× Expand in the shuffle instead.
    val pair = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (epochDay(col("l_shipdate")) - epochDay(col("o_orderdate")) > 60)
          .as("late"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("late"), 1).otherwise(0)).as("late_flag"))
    pair.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("late_flag")).as("n_late_supp"),
        max(when(col("late_flag") === 1, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_late_supp") === 1 && col("n_supp") >= 2)
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Exponentially-weighted daily event volume (EWMA anomaly baseline):
    * per (event_type, day), the half-life-1-day weighted mean of the
    * trailing 7 days' counts — the smoothed baseline a volume-spike
    * alert divides today's count by. λ = 0.5 is chosen because 0.5^k is
    * an exact dyadic double and count·0.5^k stays exact (counts ≪ 2^46),
    * so every term is a deterministic IEEE value; terms and weights are
    * DECIMAL(28,12)-routed exact sums, ewma is one final division.
    * Scale shape: the fact collapses to (type, day) counts FIRST
    * (partial-combined); the 7-day banded self-join runs over that
    * types×days dimension relation, never the fact. */
  private def ewmaVolume(s: SparkSession, d: String): DataFrame = {
    val daily = EventTime.withMs(Tables.events(s, d))
      .select(col("event_type"), expr("ms div 86400000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val a = daily.select(col("event_type"), col("day"), col("n"))
    val b = daily.select(col("event_type").as("b_type"),
      col("day").as("b_day"), col("n").as("b_n"))
    val wt = pow(lit(0.5), col("day") - col("b_day"))
    a.join(b, col("event_type") === col("b_type") &&
        col("b_day").between(col("day") - 6, col("day")))
      .select(col("event_type"), col("day"), col("n"),
        (col("b_n") * wt).cast("decimal(28,12)").as("term"),
        wt.cast("decimal(28,12)").as("w"))
      .groupBy(col("event_type"), col("day"), col("n"))
      .agg((sum(col("term")).cast("double") / sum(col("w")).cast("double"))
        .as("ewma"))
  }

  /** Per-user behavioral entropy: Shannon entropy of each user's
    * event-type mix — the bot/monoculture detector (a scraper hammering
    * one endpoint scores 0; organic users sit near the type-mix
    * entropy). Same float discipline as C75's token entropy: c·ln c
    * terms are DECIMAL(28,12)-routed so summation order cannot move the
    * last ulp, the identity H = ln N − Σc·ln c / N keeps ln calls to
    * one per distinct type. Scale shape: fact collapses to
    * (user, type) counts map-side; both aggs partial-combine on
    * user_id — no window, no skew. */
  private def userEntropy(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      .select(col("user_id"), col("c"),
        (col("c") * log(col("c"))).cast("decimal(28,12)").as("clc"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        round(log(sum(col("c"))) - sum(col("clc")).cast("double") / sum(col("c")), 4)
          .as("entropy"))

  /** Nation trade balance: per nation, revenue exported (as the line's
    * supplier nation) vs imported (as the order's customer nation) and
    * the net balance — the two-sided rollup B64's bilateral matrix
    * collapses into. Scale shape: the export side joins the fact to the
    * broadcast supplier dim only (no orders); the import side pays the
    * one fact-fact shuffle (lineitem↔orders) then broadcasts customer;
    * both collapse to nation cardinality before the final broadcast
    * join. Exact 2-dp decimals; balance is one IEEE subtract of the
    * rounded pair. */
  private def tradeBalance(s: SparkSession, d: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val exports = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nk_e"))
      .agg(moneySum(rev).as("export_rev"))
    val imports = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk_i"))
      .agg(moneySum(rev).as("import_rev"))
    // the collapsed sides are nation-cardinality: broadcast them
    // explicitly (they are post-aggregation relations, so the static
    // planner has no stats to pick broadcast on its own)
    Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      .join(broadcast(exports), col("n_nationkey") === col("nk_e"), "left_outer")
      .join(broadcast(imports), col("n_nationkey") === col("nk_i"), "left_outer")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("export_rev"), lit(0.0)).as("export_rev"),
        coalesce(col("import_rev"), lit(0.0)).as("import_rev"),
        (coalesce(col("export_rev"), lit(0.0))
          - coalesce(col("import_rev"), lit(0.0))).as("balance"))
  }

  /** Session-shape percentiles: exact interpolated p50/p90/p99 of session
    * duration and event count over the gap-sessionized stream (B14's 30-min
    * cutoff) — the engagement-shape card next to the raw session table
    * (medians resist the bot tail that wrecks means). Scale shape: the
    * session collapse partial-combines per (user, session); the global
    * percentile is a single-group aggregate over the SESSION relation
    * (orders of magnitude smaller than events), exact integer inputs. */
  private def sessionDurations(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val sess = EventTime.withMs(Tables.events(s, d))
      .withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(wOrd) > 1800000L, 1)
          .otherwise(when(lag(col("ms"), 1).over(wOrd).isNull, 1).otherwise(0)))
      .withColumn("session_seq", sum(col("new_sess")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ms")) - min(col("ms"))).as("duration_ms"))
    sess.agg(count(lit(1)).as("n_sessions"),
      percentile(col("duration_ms"), lit(0.5)).as("p50_duration_ms"),
      percentile(col("duration_ms"), lit(0.9)).as("p90_duration_ms"),
      percentile(col("duration_ms"), lit(0.99)).as("p99_duration_ms"),
      percentile(col("n_events"), lit(0.5)).as("p50_events"),
      percentile(col("n_events"), lit(0.9)).as("p90_events"))
  }

  /** Supplier-concentration HHI per part type: Herfindahl–Hirschman index
    * of supplier revenue shares within each p_type market — the
    * procurement-risk number (HHI → 1 means one supplier owns the
    * market; antitrust reads ≥ 0.25 as concentrated). Exact identity
    * HHI = Σrᵢ² / (Σrᵢ)²: per-(type, supplier) revenues are exact
    * DECIMAL(18,4) sums, the squares and totals stay exact decimals, one
    * final double division — no per-share float round-trip. Scale shape:
    * fact collapses to (type, supplier) partial-combined, both outer
    * aggs run over that collapsed relation; the part dim defers to
    * size-stats/AQE. */
  private def supplierHhi(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("r"))
    rev.groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r") * col("r")).as("ss"),
        sum(col("r")).as("tot"))
      .select(col("p_type"), col("n_suppliers"),
        round(col("tot"), 2).cast("double").as("total_revenue"),
        round(col("ss").cast("double")
            / (col("tot").cast("double") * col("tot").cast("double")), 9)
          .as("hhi"))
  }

  /** Skew-salted join end-to-end (C15 upgraded from test-only to an
    * oracle-checked key): supplier revenue through Skew.saltedJoin — the
    * deterministic-salt fan-out join — aggregated per supplier. The
    * oracle is the PLAIN join in DuckDB: salting must be semantically
    * invisible (every (key, salt) pair finds exactly its match), which
    * is the whole correctness claim of the operator. Scale shape: hot
    * suppkeys spread across 8 salt buckets at the cost of an 8× dim
    * replication — the explicit, bounded version of what AQE's
    * skew-split does implicitly. */
  private def skewJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.lineitem(s, d).select(col("l_suppkey").as("suppkey"),
      col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val dim = Tables.supplier(s, d)
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    Skew.saltedJoin(fact, dim, "suppkey", "l_orderkey", 8)
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
  }

  /** Schema-evolution read end-to-end (D11 upgraded from test-only to an
    * oracle-checked key): generation 1 writes documents WITHOUT the lang
    * column (doc_id < 250 — "yesterday's files predate today's added
    * column"), generation 2 appends the full schema; the mergeSchema read
    * unions the file generations, old rows surfacing lang as NULL, and
    * the per-lang aggregate over the union is checked against the oracle
    * recomputing the same generation split in SQL. Footer-merge cost is
    * per file; no 100 TB backfill rewrite. */
  private def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val base = s"/tmp/graft_evolve_${graft.SessionMemo.pathTag(d)}"
    val docs = Tables.documents(s, d)
    docs.filter(col("doc_id") < 250)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(base)
    docs.filter(col("doc_id") >= 250)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      .write.mode("append").parquet(base)
    graft.sources.Io.readEvolved(s, base)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }

  /** Schema-drift report end-to-end (D20 upgraded from test-only to an
    * oracle-checked key): two deliberately drifted generations of the
    * documents footprint — gen2 drops `source`, adds `quality`, and
    * widens `n_chars` to DOUBLE — diffed footer-only through
    * `Io.schemaDiff`; the oracle is the KNOWN drift as constants. No data
    * scan at any table size (the report reads two footers). */
  private def schemaDrift(s: SparkSession, d: String): DataFrame = {
    val base = s"/tmp/graft_drift_${graft.SessionMemo.pathTag(d)}"
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$base/gen1")
    docs.select(col("doc_id"), col("n_chars").cast("double").as("n_chars"),
        (col("n_chars") > 300).as("quality"))
      .write.mode("overwrite").parquet(s"$base/gen2")
    graft.sources.Io.schemaDiff(s, s"$base/gen1", s"$base/gen2")
  }

  /** Raw text-lines ingestion end-to-end (D17 upgraded from test-only to
    * an oracle-checked key): the corpus is written as one document per
    * line and read back through `Io.readTextLines` (content-hash ids —
    * line numbers are not stable under distributed splits); identical
    * lines collapse to one id by construction, so the distinct-content
    * count and total footprint must match the oracle's view of the
    * original table. The md5 projection (not the xxhash64 id itself) is
    * what DuckDB can recompute. */
  private def textIngest(s: SparkSession, d: String): DataFrame = {
    val base = s"/tmp/graft_lines_${graft.SessionMemo.pathTag(d)}"
    Tables.documents(s, d).select(col("text"))
      .write.mode("overwrite").text(base)
    graft.sources.Io.readTextLines(s, base)
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("doc_id")).as("n_distinct_ids"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        sum(col("n_chars")).as("total_chars"))
  }

  /** Small-file compaction end-to-end (D12 upgraded from test-only to an
    * oracle-checked key): the documents table is first written as 32
    * deliberately tiny files (the incremental-ingest pathology — per-file
    * open/footer cost dominating scans), compacted through `Io.compact`'s
    * size-targeted rewrite + rename swap, and the COMPACTED table is then
    * aggregated per language with a distinct-content count; the oracle
    * computes the same aggregate from the original parquet, so compaction
    * must preserve every row and byte. File-count mechanics stay
    * spec-asserted in StorageOpsSpec. */
  private def compaction(s: SparkSession, d: String): DataFrame = {
    val base = s"/tmp/graft_compact_${graft.SessionMemo.pathTag(d)}"
    Tables.documents(s, d).repartition(32).write.mode("overwrite").parquet(base)
    graft.sources.Io.compact(s, base)
    s.read.parquet(base)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"))
  }

  /** Bucketed co-located join end-to-end (B25 upgraded from test-only to
    * an oracle-checked key): orders and lineitem are written ONCE as
    * same-bucket-count, key-sorted managed tables, and the revenue join
    * then plans as a zipped per-bucket SortMergeJoin with NO shuffle
    * exchange on either side (spec-asserted in ScaleSpec; this key proves
    * the RESULT is identical to the plain-parquet join the oracle runs).
    * At 100 TB this is the repeated fact-fact join doctrine: pay the
    * key-shuffle once at write time, amortize it over every subsequent
    * join/aggregation on that key — the Spark analog of the reference's
    * key-ordered btree storage (reference: src/storage/index.rs). */
  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = graft.SessionMemo.pathTag(d)
    val (ot, lt) = (s"b_orders_$tag", s"b_lineitem_$tag")
    // write-once per (session, sf): the bucketed layout is the persisted
    // artifact under test; rewriting it per query would price the build
    // into every read (SessionMemo is evicted by the stress harness, so
    // scale receipts still price the build)
    graft.SessionMemo.of(s, d, "bucketed_join_tables") {
      // a managed table's LOCATION can outlive the catalog entry (a fresh
      // JVM starts with an empty in-memory catalog but the warehouse dir
      // persists) — clear both, or saveAsTable fails LOCATION_ALREADY_EXISTS
      val wh = s.conf.get("spark.sql.warehouse.dir")
      Seq(ot, lt).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val p = new org.apache.hadoop.fs.Path(wh, t)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", 8)
      graft.sources.Bucketing.writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount")),
        lt, "l_orderkey", 8)
      java.lang.Boolean.TRUE
    }
    s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
  }

  /** Order-priority mix shift: each month's share of orders per priority
    * and the month-over-month share delta — COMPOSITION drift, the
    * leading indicator volume trends hide (total volume can hold steady
    * while urgent orders quietly displace low-priority ones). Shares are
    * cross-engine safe as single int/int divisions; the delta is one
    * IEEE subtract of those; the lag window runs over the months×5
    * dimension grid, never the fact. Scale shape: fact collapses to
    * (month, priority) counts partial-combined, month totals broadcast
    * back onto the grid. */
  private def priorityMixShift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderpriority"))
      .groupBy(col("month"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val tot = per.groupBy(col("month")).agg(sum(col("n")).as("mtot"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
    per.join(broadcast(tot), "month")
      .withColumn("share", col("n").cast("double") / col("mtot"))
      .withColumn("share_delta", col("share") - lag(col("share"), 1).over(w))
      .select(col("month"), col("o_orderpriority"), col("n"), col("share"),
        col("share_delta"))
  }

  /** Z-order layout end-to-end (B26 upgraded from test-only to an
    * oracle-checked key): the fact is written Morton-clustered on
    * (l_partkey, l_suppkey) — one range-shuffle + sort, paid once — and
    * a 2-D box predicate is answered off that layout; the oracle runs
    * the same box on the PLAIN table, proving the clustered layout is
    * semantically invisible while parquet row-group stats skip most of
    * the file in BOTH dimensions (the pruning itself is spec-asserted in
    * ScaleSpec). At 100 TB this composes with date partitioning; the
    * write amortizes over every subsequent box query. */
  private def zorderScan(s: SparkSession, d: String): DataFrame = {
    val path = s"/tmp/graft_zorder_${graft.SessionMemo.pathTag(d)}"
    // the Morton key is ONLY a layout key: range-reduce wide ids into
    // zorder2's 31-bit domain (mod keeps locality for in-range keys and
    // wraps larger ones — correctness is untouched, the box filter runs
    // on the real columns). Write-once per (session, corpus): the layout
    // is the persisted artifact under test — the bucketedJoin doctrine
    // (r17 optimization; the stress harness evicts the memo, so scale
    // receipts still price the build).
    graft.SessionMemo.of(s, d, "zorder_layout") {
      graft.sources.Clustering.writeZOrdered(
        Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice")),
        path, pmod(col("l_partkey"), lit(1073741824L)),
        pmod(col("l_suppkey"), lit(1073741824L)))
      java.lang.Boolean.TRUE
    }
    s.read.parquet(path)
      .filter(col("l_partkey").between(50, 150) &&
        col("l_suppkey").between(2, 8))
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice")).as("box_revenue"))
  }

  /** Interchange-format roundtrip (D2/D15 upgraded from test-only to one
    * oracle-checked key): the documents table is written to CSV, JSON,
    * and ORC, read back through the typed-schema readers, and
    * aggregated per format; the oracle computes the same aggregate from
    * the PARQUET source — every row, character, and language must
    * survive each format's quoting/encoding (CSV quote-escape, JSON
    * string escape, ORC encoding) bit-for-bit. The write is one pass
    * per format; at 100 TB this is the ingest/egress conformance check,
    * not a data path. */
  private def ioRoundtrip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = s"/tmp/graft_io_${graft.SessionMemo.pathTag(d)}"
    docs.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    docs.write.mode("overwrite").json(s"$base/json")
    graft.sources.Io.writeOrc(docs, s"$base/orc")
    val reread = Seq(
      "csv" -> graft.sources.Io.readCsv(s, s"$base/csv", docs.schema),
      "json" -> graft.sources.Io.readJson(s, s"$base/json", docs.schema),
      "orc" -> graft.sources.Io.readOrc(s, s"$base/orc"))
    reread.map { case (f, df) =>
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          sum(length(col("text")).cast("bigint")).as("text_chars"))
        .select(lit(f).as("format"), col("n_rows"), col("total_chars"),
          col("n_langs"), col("text_chars"))
    }.reduce(_ unionByName _)
  }

  /** Day-of-week seasonal index per event type: each (type, dow)'s share
    * of the type's events, scaled by 7 — 1.0 = flat, >1 = that weekday
    * over-indexes (the hourly-profile B-row's weekly twin; capacity
    * planning and anomaly baselines both start here). dow is an exact
    * integer off the UTC epoch-day ((day+4) mod 7: 1970-01-01 was a
    * Thursday; 0=Sunday ISO-agnostic and engine-agnostic), the index is
    * count·7/total — one multiply and one divide over exact integers.
    * Scale shape: fact collapses to the types×7 grid, totals broadcast. */
  private def seasonalIndex(s: SparkSession, d: String): DataFrame = {
    val per = EventTime.withMs(Tables.events(s, d))
      .select(col("event_type"),
        expr("((ms div 86400000) + 4) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
    val tot = per.groupBy(col("event_type")).agg(sum(col("n")).as("t"))
    per.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        (col("n").cast("double") * 7 / col("t")).as("seasonal_index"))
  }

  /** Quantity-weighted median unit price per brand: the "typical traded
    * price" where each line votes with its quantity — resistant to both
    * outlier prices and outlier order sizes (a plain median over-weights
    * small lines). Exact throughout: unit price is ONE raw IEEE division
    * per row (bitwise identical across engines — a decimal fix-point
    * here would hit .xxxxx5 HALF_UP boundaries), weights are exact
    * decimal quantities, and the median pick is the first row where
    * 2·cumweight ≥ total — a cross-multiplied integer-style comparison,
    * no interpolation, no float accumulation. Scale shape: fact
    * collapses to (brand, price) with weight sums FIRST; the cumsum
    * window runs inside brand partitions over collapsed rows. */
  private def weightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        col("l_quantity").cast("decimal(18,4)").as("w"))
      // ONE full-data exchange for the whole query (guide §2.4: two
      // operations keyed the same way share one exchange): hash-partition
      // by brand BEFORE the (brand, price) collapse — a partitioning on a
      // subset of the grouping keys satisfies the aggregation's required
      // distribution, and it IS the cumulative window's distribution, so
      // neither adds an Exchange. Before r18 the aggregation exchanged by
      // (brand, price) — ~1 row per fact row, prices being nearly unique —
      // and the window re-exchanged the same rows by brand: two full-data
      // shuffles where one suffices. Sums are exact decimals (placement-
      // and order-independent), so every value is bit-identical.
      .repartition(col("p_brand"))
      .groupBy(col("p_brand"), col("unit_price"))
      .agg(sum(col("w")).as("w"))
    val wc = Window.partitionBy(col("p_brand")).orderBy(col("unit_price"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-brand total via an unbounded frame on the SAME (partition, order)
    // spec as the cumulative window — before r17 this was a second groupBy
    // branch of the same base relation (a second fact pass); r17 made it a
    // second WindowExec on the shared exchange; r18 puts it on the SAME
    // partition+order spec so Catalyst fuses both frames into ONE Window
    // operator — one partition buffering pass instead of two stacked
    // WindowExecs. total_w is the identical exact-decimal per-brand sum
    // (the full frame sums every row of the partition regardless of
    // ordering), so the filter boundary and the reported total cannot move.
    val wt = Window.partitionBy(col("p_brand")).orderBy(col("unit_price"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows.withColumn("cum", sum(col("w")).over(wc))
      .withColumn("total_w", sum(col("w")).over(wt))
      .filter(col("cum") * 2 >= col("total_w"))
      .groupBy(col("p_brand"))
      .agg(min(col("unit_price")).as("weighted_median_price"),
        max(col("total_w")).cast("double").as("total_qty"))
  }

  /** Discount-lift analysis: mean quantity per discount percentage band
    * vs the zero-discount baseline — does discounting actually move
    * volume, per band (the pricing-effectiveness read behind every promo
    * decision). The band is an exact integer (discounts are 2-dp values,
    * ×100 + 0.5 floor is boundary-safe), both means are the moneyAvg
    * bitwise identity, lift is one IEEE division of those. Scale shape:
    * one fact scan partial-combines into the ≤11-row band grid, baseline
    * broadcast. */
  private def discountLift(s: SparkSession, d: String): DataFrame = {
    val banded = Tables.lineitem(s, d)
      .select(floor(col("l_discount") * 100 + 0.5).cast("int").as("discount_pct"),
        col("l_quantity"))
      .groupBy(col("discount_pct"))
      .agg(count(lit(1)).as("n_lines"), moneyAvg(col("l_quantity")).as("avg_qty"))
    val base = banded.filter(col("discount_pct") === 0)
      .select(col("avg_qty").as("base_qty"))
    banded.crossJoin(broadcast(base))
      .select(col("discount_pct"), col("n_lines"), col("avg_qty"),
        (col("avg_qty") / col("base_qty")).as("qty_lift"))
  }

  /** Product-type profit by nation and year (TPC-H Q9 flavor, adapted:
    * the corpus has no partsupp, so unit cost is proxied at 60% of
    * p_retailprice — the ratio is fixed, the join/aggregation shape is
    * Q9's). Profit = Σ l_extendedprice·(1−l_discount) −
    * p_retailprice·l_quantity·0.6 over 'red' parts. Scale shape: the
    * p_name LIKE filter prunes part BEFORE its broadcast, lineitem⋈orders
    * is the one fact-fact shuffle, supplier/nation ride broadcast, and
    * the (nation, year) rollup partial-combines map-side. Money through
    * moneySum (per-row IEEE term is identically parenthesized in the
    * oracle, then fixed-pointed — order-independent exact sum). */
  private def productProfit(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).filter(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    Tables.lineitem(s, d)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("bigint").as("yr"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))
        - col("p_retailprice") * col("l_quantity") * lit(0.6)).as("profit"))
  }

  /** Excess-share suppliers (TPC-H Q20 flavor, adapted: no partsupp
    * availqty, so "excess" is relative — suppliers whose shipped quantity
    * of 'red…' parts exceeds an eighth of their total shipped quantity —
    * the threshold sits just under the corpus's p90 red share, the same
    * "screen the outlying suppliers" economics as Q20). One
    * lineitem pass with the part flag broadcast: the red/total split is
    * conditional aggregation (no second scan, no subquery), sums are
    * exact decimals so the ×2 threshold comparison can never flip on
    * float noise, supplier/nation dims broadcast onto the surviving
    * supplier keys. */
  private def excessShare(s: SparkSession, d: String): DataFrame = {
    val flags = Tables.part(s, d).select(col("p_partkey"),
      col("p_name").like("red%").as("is_red"))
    val per = Tables.lineitem(s, d)
      .join(flags, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        sum(when(col("is_red"), col("l_quantity")).otherwise(lit(0.0))
          .cast("decimal(18,4)")).as("red_q"),
        sum(col("l_quantity").cast("decimal(18,4)")).as("tot_q"))
      .filter(col("red_q") * 8 > col("tot_q"))
    per.join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"),
        col("red_q").cast("double").as("red_qty"),
        col("tot_q").cast("double").as("total_qty"))
  }

  /** Cumulative distinct users per day — the audience-growth curve. A
    * running COUNT(DISTINCT) has no window form in any engine; the
    * standard exact rewrite is the FIRST-SEEN trick: a user contributes
    * to the cumulative count exactly once, on their first active day, so
    * per-user min(day) → per-day new-user counts → one running sum over
    * a (type × calendar)-cardinality relation (a few thousand rows
    * however large the fact table — the window is bounded by the
    * calendar, not the data). Tracked PER EVENT TYPE (first click, first
    * purchase, …), so the window partitions by type and the curve reads
    * as activation-by-milestone. Exact integers end to end. */
  private def runningDistinct(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDay = EventTime.withMs(Tables.events(s, d))
      .select(col("event_type"), col("user_id"),
        expr("ms div 86400000").as("day"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("first_day"))
      .groupBy(col("event_type"), col("first_day"))
      .agg(count(lit(1)).as("new_users"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("first_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay.select(col("event_type"), col("first_day").as("day"),
      col("new_users"), sum(col("new_users")).over(w).as("cum_users"))
  }

  /** DAU/MAU stickiness per day — the engagement ratio product teams
    * track daily (what fraction of the monthly audience shows up today).
    * Same mechanics as B44's WAU: the trailing 28-day active set is the
    * (user, day)-DISTINCT relation exploded over the 28 windows each
    * active day contributes to, partial-combined per window day — never
    * a distinct-over-range-frame (no engine has one) and never 28
    * self-joins. The ratio is one int/int division, rounded. Days whose
    * trailing window precedes the corpus simply report the partial
    * window, exactly as the oracle does. */
  private def stickiness(s: SparkSession, d: String): DataFrame = {
    val ud = EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val mau = ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(27))).as("mday"))
      .distinct()
      .groupBy(col("mday")).agg(count(lit(1)).as("mau"))
    dau.join(mau, col("day") === col("mday"))
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
  }

  /** 2-D skyline (Pareto frontier): customers not dominated in
    * (order count, total spend) — the "best under any monotone
    * preference" screen (Börzsönyi et al. 2001) that no single ranking
    * can answer. The naive form is the O(n²) NOT-EXISTS dominance test
    * (exactly the oracle's replay); the distributed form is the
    * sort-based rewrite: with rows ordered by n_orders, a row is
    * dominated iff some strictly-higher-n row has spend ≥ mine or an
    * equal-n row has spend > mine. The dominance summary collapses to
    * the DISTINCT-n relation first: one partial-combined max per
    * n_orders value (shuffle on n), then the suffix max runs over that
    * value-cardinality relation (hundreds of rows however many
    * customers — the B16h fact-scale discipline; the r9 ×10 sweep
    * caught the naive per-row global window at 72×, which is exactly
    * the sweep's job) and broadcasts back onto the rows. Spend compared
    * as exact decimals so frontier membership can never flip on float
    * noise; rounded to 2-dp double only at output. */
  private def skyline(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("spend_d"))
    val perN = per.groupBy(col("n_orders"))
      .agg(max(col("spend_d")).as("max_s_same"))
    val higher = Window.orderBy(col("n_orders"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val summary = perN.withColumn("max_s_higher",
      max(col("max_s_same")).over(higher))
    per.join(broadcast(summary), "n_orders")
      .filter(
        (col("max_s_higher").isNull || col("max_s_higher") < col("spend_d")) &&
          col("max_s_same") <= col("spend_d"))
      .select(col("o_custkey"), col("n_orders"),
        round(col("spend_d"), 2).cast("double").as("spend"))
  }

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data screen (organic multiplicative amounts follow
    * log10(1+1/d); uniform-ish synthetic ones do not, and THIS corpus's
    * totals are expected to fail — the audit's job is to report the
    * divergence, read observed vs expected side by side). Digit
    * extraction is exact integer/string work; expected mass is log10 of
    * nine small rationals (single IEEE ops in identical order
    * cross-engine); observed shares are one exact-int division each.
    * One scan, 9-row output. */
  private def benford(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .select(substring(floor(col("o_totalprice")).cast("bigint")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("total"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), col("total"),
        round(col("n").cast("double") / col("total"), 6).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford"))
  }

  /** Weekly churn: users active in week w with NO activity in week w+1,
    * per week — the complement of B28's cohort retention, and the number
    * a growth team actually alarms on. The (user, week)-distinct relation
    * anti-joins its own (user, week−1) shift (a churned user-week is one
    * with no successor row), both sides partial-combined; the trailing
    * week is excluded (its churn is unknowable yet — exactly as the
    * oracle states it). Exact integers, one rounded ratio. */
  private def churn(s: SparkSession, d: String): DataFrame = {
    // r18: the (user, week)-distinct relation feeds the active counts,
    // BOTH anti-join sides, and the max-week scalar — unmaterialized,
    // the events scan + distinct ran 4× per execution. Bounded by
    // users × weeks; evictAll-registered.
    val uw = materializeOnce(s, d, "churn_user_weeks")(
      EventTime.withMs(Tables.events(s, d))
        .select(col("user_id"), expr("ms div 604800000").as("week"))
        .distinct())
    val active = uw.groupBy(col("week")).agg(count(lit(1)).as("n_active"))
    val prevOfNext = uw.select(col("user_id"), (col("week") - 1).as("week"))
    val churned = uw.join(prevOfNext, Seq("user_id", "week"), "left_anti")
      .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
    val last = uw.agg(max(col("week")).as("max_week"))
    active.join(churned, Seq("week"), "left_outer")
      .crossJoin(broadcast(last))
      .filter(col("week") < col("max_week"))
      .select(col("week"), col("n_active"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        round(coalesce(col("n_churned"), lit(0L)).cast("double")
          / col("n_active"), 6).as("churn_rate"))
  }

  /** Active-days histogram: how many users were active exactly k days —
    * the engagement-depth distribution read next to DAU/WAU/stickiness
    * (a spike at 1 is drive-by traffic; mass at 20+ is a habit). Two
    * partial-combined aggregations over the (user, day)-distinct
    * relation; exact integers. */
  private def activeDays(s: SparkSession, d: String): DataFrame =
    EventTime.withMs(Tables.events(s, d))
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("active_days"))
      .groupBy(col("active_days")).agg(count(lit(1)).as("n_users"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_active_days" -> activeDays _,
    "q_churn" -> churn _,
    "q_benford" -> benford _,
    "q_skyline" -> skyline _,
    "q_stickiness" -> stickiness _,
    "q_product_profit" -> productProfit _,
    "q_excess_share" -> excessShare _,
    "q_running_distinct" -> runningDistinct _,
    "q_discount_lift" -> discountLift _,
    "q_seasonal_index" -> seasonalIndex _,
    "q_weighted_median" -> weightedMedian _,
    "q_io_roundtrip" -> ioRoundtrip _,
    "q_zorder_scan" -> zorderScan _,
    "q_priority_mix_shift" -> priorityMixShift _,
    "q_skew_join" -> skewJoin _,
    "q_bucketed_join" -> bucketedJoin _,
    "q_compaction" -> compaction _,
    "q_schema_evolution" -> schemaEvolution _,
    "q_schema_drift" -> schemaDrift _,
    "q_text_ingest" -> textIngest _,
    "q_session_durations" -> sessionDurations _,
    "q_supplier_hhi" -> supplierHhi _,
    "q_trade_balance" -> tradeBalance _,
    "q_ewma" -> ewmaVolume _,
    "q_user_entropy" -> userEntropy _,
    "q_late_priority" -> latePriority _,
    "q_cust_order_dist" -> custOrderDist _,
    "q_disjunctive_revenue" -> disjunctiveRevenue _,
    "q_waiting_suppliers" -> waitingSuppliers _,
    "q_gini" -> gini _,
    "q_centered_ma" -> centeredMa _,
    "q_forecast_revenue" -> forecastRevenue _,
    "q_trade_flows" -> tradeFlows _,
    "q_promo_share" -> promoShare _,
    "q_ship_latency" -> shipLatency _,
    "q_min_cost_supplier" -> minCostSupplier _,
    "q_important_parts" -> importantParts _,
    "q_top_supplier" -> topSupplier _,
    "q_part_supplier_counts" -> partSupplierCounts _,
    "q_small_qty_revenue" -> smallQtyRevenue _,
    "q_large_orders" -> largeOrders _,
    "q_idle_customers" -> idleCustomers _,
    "q_rfm" -> rfm _,
    "q_abc_analysis" -> abcAnalysis _,
    "q_event_gaps" -> eventGaps _,
    "q_rollup_merge" -> rollupMerge _,
    "q_volume_trend" -> volumeTrend _,
    "q_hourly_profile" -> hourlyProfile _,
    "q_join_explosion" -> joinExplosion _,
    "q_attribution" -> attribution _,
    "q_funnel_ttc" -> funnelTtc _,
    "q_streaks" -> streaks _,
    "q_returned_revenue" -> returnedRevenue _,
    "q_wau" -> wau _,
    "q_transitions" -> transitions _,
    "q_event_paths" -> eventPaths _,
    "q_in_transit" -> inTransit _,
    "q_key_skew" -> keySkew _,
    "q_rolling_7d" -> rolling7d _,
    "q_upsert" -> upsert _,
    "q_version_topn" -> versionTopN _,
    "q_mom_trend" -> momTrend _,
    "q_above_avg_spenders" -> aboveAvgSpenders _,
    "q_outliers" -> outliers _,
    "q_cooccurrence" -> cooccurrence _,
    "q_debounce" -> debounce _,
    "q_gdpr_erase" -> gdprErase _,
    "q_scd2" -> scd2 _,
    "q_ulid" -> ulidAssign _,
    "q_topk_per_group" -> topkPerGroup _,
    "q_outer_join" -> outerJoin _,
    "q_window_lag" -> windowLag _,
    "q_stats" -> statsAgg _,
    "q_grouping_sets" -> groupingSets _,
    "q_ntile" -> ntileBuckets _,
    "q_ntile_threshold" -> ntileThreshold _,
    "q_histogram" -> histogram _,
    "q_normalize" -> normalizeText _,
    "q_cube" -> cubeAgg _,
    "q_percentile" -> percentiles _,
    "q_approx_percentile" -> approxPercentiles _,
    "q_semi_join" -> semiJoin _,
    "q_pivot" -> pivotAgg _,
    "q_point_lookup" -> pointLookup _,
    "q_select_eq" -> selectEq _,
    "q_pricing_summary" -> pricingSummary _,
    "q_shipping_priority" -> shippingPriority _,
    "q_local_supplier" -> localSupplier _,
    "q_anti_join" -> antiJoin _,
    "q_window_topk" -> windowTopk _,
    "q_running_sum" -> runningSum _,
    "q_distinct_agg" -> distinctAgg _,
    "q_rollup" -> rollupAgg _,
    "q_topk_global" -> topkGlobal _,
    "q_case_agg" -> caseAgg _,
    "q_funnel" -> funnel _,
    "q_cohort" -> cohortRetention _,
    "q_range_join" -> rangeJoin _,
    "q_profile" -> profile _,
    "q_integrity" -> integrity _,
    "q_hopping" -> hopping _,
    "q_market_share" -> marketShare _,
    "q_date_bucket" -> dateBucket _,
    "q_string_funcs" -> stringFuncs _,
    "q_union" -> unionNames _,
    "q_set_ops" -> exceptIntersect _,
    "q_sessionize" -> sessionize _,
    "q_tumbling" -> tumbling _,
    "q_json_extract" -> jsonExtract _
  )
}
