package graft.sql

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.SchemaMapper

/** Driver-gate query keys exercising the SQL front-end end-to-end: the
  * same results a DataFrame user gets, but entered as SQL strings. */
object SqlQueries {
  import graft.sources.Tables
  import graft.operators.Similarity

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the system catalog as a queryable relation (reference: src/storage/
    // system.rs — `system.columns` is a table, not a statement): the full
    // introspection dump for a session with two parquet registrations and
    // one DDL-declared table; the oracle is the KNOWN schema as constants,
    // so a drift in type mapping, nullability, ordinal order, or key-role
    // metadata fails the hash
    "q_sql_system_columns" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.register("region", Tables.region(s, d))
      es.sql("""CREATE TABLE photos (
               |  id UUID PRIMARY KEY,
               |  added TIMESTAMP,
               |  caption NULLABLE(STRING(80)),
               |  phash UINT64 METRIC KEY);""".stripMargin)
      es.sql("""SELECT table_name, column_name, ordinal, data_type,
               | is_nullable, primary_key, metric_key
               |FROM system.columns;""".stripMargin)
    }),
    // ...and it composes with the full SELECT machinery: join the two
    // system relations, filter, aggregate
    "q_sql_system_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.register("region", Tables.region(s, d))
      es.sql("""SELECT t.table_name, t.n_columns, COUNT(*) AS n_strings
               |FROM system.tables t JOIN system.columns c
               |  ON t.table_name = c.table_name
               |WHERE c.data_type = 'STRING'
               |GROUP BY t.table_name, t.n_columns
               |ORDER BY table_name;""".stripMargin)
    }),
    "q_sql_select" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en';")
    }),
    // ANSI set-op precedence: INTERSECT binds tighter than UNION/EXCEPT —
    // this unparenthesized text must group as (en ∪ de) − (big ∩ src0);
    // the oracle is the IDENTICAL text, so a uniform-precedence lowering
    // (the r9 simplification) hash-fails
    "q_sql_set_precedence" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id FROM documents WHERE lang = 'en'
               |UNION SELECT doc_id FROM documents WHERE lang = 'de'
               |EXCEPT SELECT doc_id FROM documents WHERE n_chars > 150
               |INTERSECT SELECT doc_id FROM documents WHERE source = 'src0';""".stripMargin)
    }),
    "q_sql_distance" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("fps", Tables.documents(s, d)
        .select(col("doc_id"), call_function("content_fp", col("text")).as("fp")))
      es.sql("SELECT doc_id, fp @ 123456789 AS dist FROM fps WHERE dist < 10;")
    }),
    // the aggregate/ORDER BY/LIMIT extension end-to-end: sum/avg stay
    // cross-engine exact because n_chars is integral (exact in double)
    "q_sql_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars,
               | AVG(n_chars) AS avg_chars
               |FROM documents WHERE lang = 'en'
               |GROUP BY source ORDER BY total_chars DESC, source LIMIT 5;""".stripMargin)
    }),
    "q_sql_having" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, COUNT(*) AS n, MIN(n_chars) AS min_chars
               |FROM documents GROUP BY lang HAVING n >= 20 ORDER BY lang;""".stripMargin)
    }),
    // GROUP BY ROLLUP end-to-end: hierarchical subtotals in one Expand
    // pass, NULL-marked rollup rows (ANSI), composed with HAVING-free agg
    "q_sql_rollup" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, source, COUNT(*) AS n, SUM(n_chars) AS total_chars
               |FROM documents GROUP BY ROLLUP(lang, source);""".stripMargin)
    }),
    // explicit GROUPING SETS with mixed arities + GROUPING() markers:
    // the rollup/cube generalization in one Expand pass; GROUPING()
    // disambiguates subtotal NULLs from real NULL keys (ANSI)
    "q_sql_grouping_sets" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, source, COUNT(*) AS n,
               | SUM(n_chars) AS total_chars,
               | GROUPING(lang) AS g_lang, GROUPING(source) AS g_source
               |FROM documents
               |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ());""".stripMargin)
    }),
    // DML end-to-end through the gate (r10): each key MUTATES a
    // registered table through the dialect statement, then SELECTs the
    // result — the oracle recomputes the post-mutation state in pure SQL,
    // so the statement semantics themselves are hash-checked, not just
    // suite-asserted. UPDATE: every SET expression reads the OLD row.
    "q_sql_update" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("docs", Tables.documents(s, d))
      es.sql("UPDATE docs SET n_chars = n_chars * 2 + 1 WHERE lang = 'en';")
      es.sql("""SELECT lang, COUNT(*) AS n, SUM(n_chars) AS total_chars
               |FROM docs GROUP BY lang;""".stripMargin)
    }),
    // DELETE with ANSI three-valued semantics (NULL predicate KEEPS)
    "q_sql_delete" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("docs", Tables.documents(s, d))
      es.sql("DELETE FROM docs WHERE n_chars < 100 AND lang <> 'en';")
      es.sql("""SELECT lang, COUNT(*) AS n, SUM(n_chars) AS total_chars
               |FROM docs GROUP BY lang;""".stripMargin)
    }),
    // CREATE TABLE AS SELECT: the derived table is a first-class relation
    "q_sql_ctas" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("docs", Tables.documents(s, d))
      es.sql("""CREATE TABLE en_docs AS SELECT doc_id, source, n_chars
               |FROM docs WHERE lang = 'en';""".stripMargin)
      es.sql("""SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars
               |FROM en_docs GROUP BY source;""".stripMargin)
    }),
    // INSERT INTO … SELECT: the bulk-load statement through declared cols
    "q_sql_insert_select" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("docs", Tables.documents(s, d))
      es.sql("""CREATE TABLE big AS SELECT doc_id, n_chars FROM docs
               |WHERE n_chars >= 300;""".stripMargin)
      es.sql("""INSERT INTO big (doc_id, n_chars)
               |SELECT doc_id + 1000000 AS shifted_id, n_chars FROM docs
               |WHERE lang = 'zh';""".stripMargin)
      es.sql("SELECT COUNT(*) AS n, SUM(n_chars) AS total_chars FROM big;")
    }),
    // MERGE upsert: matched rows update from the source, unmatched
    // insert; the oracle rebuilds the merged state with joins + CASE
    "q_sql_merge" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("docs", Tables.documents(s, d))
      es.sql("""CREATE TABLE tgt AS SELECT doc_id, n_chars FROM docs
               |WHERE doc_id % 3 = 0;""".stripMargin)
      es.sql("""CREATE TABLE src AS SELECT doc_id, n_chars FROM docs
               |WHERE doc_id % 2 = 0;""".stripMargin)
      es.sql("""MERGE INTO tgt AS a USING src AS b ON a.doc_id = b.doc_id
               |WHEN MATCHED THEN UPDATE SET n_chars = b.n_chars + 1
               |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars)
               |  VALUES (b.doc_id, b.n_chars);""".stripMargin)
      es.sql("SELECT COUNT(*) AS n, SUM(n_chars) AS total_chars FROM tgt;")
    }),
    // the reference's literal INSERT path: CREATE → INSERT VALUES →
    // SELECT, constants oracle
    "q_sql_insert_values" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.sql("""CREATE TABLE kv (
               |  k UINT32 PRIMARY KEY,
               |  v NULLABLE(UINT16),
               |  tag NULLABLE(STRING(16)));""".stripMargin)
      es.sql("""INSERT INTO kv (k, v, tag) VALUES
               |(1, 10, 'alpha'), (2, 20, 'beta'), (3, NULL, 'gamma');""".stripMargin)
      es.sql("INSERT INTO kv (k, v) VALUES (4, 65535);")
      es.sql("""SELECT k, v, tag FROM kv;""")
    }),
    // named WINDOW clause: one spec, three consumers — rank + two
    // aggregates share the identical partition/order (ANSI WINDOW)
    "q_sql_window_named" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, source, n_chars,
               | ROW_NUMBER() OVER w AS rn,
               | SUM(n_chars) OVER w AS run_chars,
               | MIN(n_chars) OVER w AS min_so_far
               |FROM documents
               |WINDOW w AS (PARTITION BY source ORDER BY doc_id)
               |ORDER BY source, doc_id;""".stripMargin)
    }),
    // scalar subquery inside HAVING arithmetic: groups kept only when
    // their count beats a corpus-derived threshold — the uncorrelated
    // subquery is one native scalar subquery
    "q_sql_having_sub" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, COUNT(*) AS n FROM documents
               |GROUP BY source
               |HAVING n * 25 > (SELECT COUNT(*) FROM documents)
               |ORDER BY source;""".stripMargin)
    }),
    // GROUP BY CUBE end-to-end: all 2^k grouping sets from one Expand
    "q_sql_cube" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, source, COUNT(*) AS n
               |FROM documents WHERE n_chars >= 100
               |GROUP BY CUBE(lang, source);""".stripMargin)
    }),
    // simple CASE (subject form) desugared at parse to the searched form
    "q_sql_case_simple" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT CASE lang WHEN 'en' THEN 'latin' WHEN 'fr' THEN 'latin'
               |  WHEN 'zh' THEN 'cjk' ELSE 'other' END AS script,
               | COUNT(*) AS n, SUM(n_chars) AS total_chars
               |FROM documents GROUP BY script;""".stripMargin)
    }),
    // searched CASE as a computed GROUP BY bucket (the classic bucketing
    // idiom), lowered to Catalyst CaseWhen + the usual partial agg
    "q_sql_case" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT CASE WHEN n_chars < 200 THEN 'short'
               |            WHEN n_chars < 400 THEN 'medium'
               |            ELSE 'long' END AS bucket,
               | COUNT(*) AS n, SUM(n_chars) AS total_chars
               |FROM documents GROUP BY bucket ORDER BY bucket;""".stripMargin)
    }),
    // UNION vs UNION ALL bag semantics over two source slices
    "q_sql_union" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang FROM documents WHERE source = 'src1'
               |UNION SELECT lang FROM documents WHERE source = 'src2'
               |UNION ALL SELECT lang FROM documents WHERE doc_id < 0;""".stripMargin)
    }),
    // the JOIN extension end-to-end: two equi-joins + aggregate, lowered
    // to AQE-decided DataFrame joins
    "q_sql_join" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.register("nation", Tables.nation(s, d))
      es.sql("""SELECT n_name, COUNT(*) AS n_orders
               |FROM orders
               |JOIN customer ON o_custkey = c_custkey
               |JOIN nation ON c_nationkey = n_nationkey
               |WHERE o_orderstatus = 'F'
               |GROUP BY n_name ORDER BY n_orders DESC, n_name LIMIT 10;""".stripMargin)
    }),
    // [NOT] IN (SELECT …) end-to-end: a semi-filter and an anti-filter in
    // one WHERE tree (Catalyst plans the NOT IN as a null-aware anti join)
    "q_sql_in_subquery" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               |WHERE o_custkey IN
               |   (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
               | AND o_custkey NOT IN
               |   (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
               | AND o_totalprice > 250000
               |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50;""".stripMargin)
    }),
    // pagination end-to-end: the serving layer's natural access pattern
    // (page 3 of an ordered listing); deterministic because the sort key
    // ends in the unique doc_id
    "q_sql_page" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, source, n_chars FROM documents
               |ORDER BY n_chars DESC, doc_id LIMIT 20 OFFSET 40;""".stripMargin)
    }),
    // ranking window end-to-end: top-3 longest docs per source via the
    // WHERE-as-QUALIFY idiom; the (n_chars DESC, doc_id) key is a total
    // order so ranks replay exactly cross-engine
    "q_sql_window" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | ROW_NUMBER() OVER (PARTITION BY source
               |   ORDER BY n_chars DESC, doc_id) AS rn
               |FROM documents
               |WHERE rn <= 3
               |ORDER BY source, rn;""".stripMargin)
    }),
    // MEDIAN end-to-end: exact interpolated percentile over an integral
    // column (the q_percentile cross-engine discipline), mixed with the
    // other aggregates and an aggregate-arithmetic spread
    "q_sql_median" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, COUNT(*) AS n, MEDIAN(n_chars) AS med_chars,
               | MAX(n_chars) - MIN(n_chars) AS spread
               |FROM documents GROUP BY lang ORDER BY lang;""".stripMargin)
    }),
    // window aggregate end-to-end: per-source running totals (the ANSI
    // default RANGE frame, identical in both engines); doc_id is unique
    // per source so the frame boundary is a total order and integer sums
    // replay exactly
    "q_sql_running" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS run_chars,
               | COUNT(*) OVER (PARTITION BY source ORDER BY doc_id) AS run_n
               |FROM documents ORDER BY source, doc_id;""".stripMargin)
    }),
    // aggregate arithmetic end-to-end: per-group ratio (mean via
    // SUM/COUNT) and a share-of-corpus percentage via a scalar subquery,
    // with the ratio alias reused in HAVING. Exact-integer sums make the
    // divisions bitwise cross-engine.
    "q_sql_agg_expr" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars,
               | SUM(n_chars) / COUNT(*) AS mean_chars,
               | SUM(n_chars) * 100 / (SELECT SUM(n_chars) FROM documents) AS pct
               |FROM documents GROUP BY source
               |HAVING mean_chars > 290 ORDER BY source;""".stripMargin)
    }),
    // arithmetic end-to-end: the TPC-H revenue formula as a computed
    // select item, referenced again in WHERE and ORDER BY. Per-row
    // double arithmetic is the same two IEEE ops in both engines, so
    // membership and values replay bit-identically unrounded.
    "q_sql_arith" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""SELECT l_orderkey, l_linenumber,
               | l_extendedprice * (1 - l_discount) AS net,
               | l_extendedprice * (1 - l_discount) * (1 + l_tax) AS gross
               |FROM lineitem
               |WHERE net > 90000 AND l_discount > 0
               |ORDER BY net DESC, l_orderkey, l_linenumber LIMIT 100;""".stripMargin)
    }),
    // CTE end-to-end: a two-step WITH where the second cte reads the
    // first (forward scoping) and the body joins a cte against a base
    // table — per-source char totals bucketed by the corpus-wide median's
    // integer floor. Every step is exact-integer, so it replays anywhere.
    "q_sql_cte" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""WITH per_source AS (
               |  SELECT source AS src, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
               |  FROM documents GROUP BY source),
               |big AS (
               |  SELECT src, n_docs, total_chars FROM per_source
               |  WHERE total_chars > (SELECT AVG(total_chars) FROM per_source))
               |SELECT src, n_docs, total_chars, AVG(n_chars) AS avg_chars
               |FROM documents
               |JOIN big ON source = src
               |GROUP BY src, n_docs, total_chars
               |ORDER BY total_chars DESC, src;""".stripMargin)
    }),
    // uncorrelated scalar subquery end-to-end: AVG over an integral column
    // is an exact long-sum/count division, so the threshold replays
    // bit-identically cross-engine and row membership is stable
    "q_sql_scalar_sub" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, COUNT(*) AS n_above, MAX(n_chars) AS max_chars
               |FROM documents
               |WHERE n_chars > (SELECT AVG(n_chars) FROM documents)
               |GROUP BY source ORDER BY source;""".stripMargin)
    }),
    // the serving layer e2e: the reference's front door is an HTTP server
    // (src/server/mod.rs:99-131 POST / → parse → execute → JSON). Round-trip
    // an aggregate through a live GraftServer on an ephemeral port and parse
    // the JSON response back — the oracle then checks the WHOLE path:
    // HTTP framing, SQL lowering, distributed to_json rendering, and the
    // response contract, not just the in-process plan.
    "q_http_query" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      val server = new graft.server.GraftServer(es)
      server.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        val req = java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"http://127.0.0.1:${server.boundPort}/"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
              |FROM documents GROUP BY source ORDER BY source;""".stripMargin))
          .build()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200,
          s"server returned ${resp.statusCode()}: ${resp.body().take(200)}")
        import s.implicits._
        // explicit schema: inference has nothing to infer on a zero-row corpus
        s.read.schema("source STRING, n_docs BIGINT, total_chars BIGINT")
          .json(s.createDataset(Seq(resp.body())))
      } finally server.stop()
    }),
    // correlated [NOT] EXISTS end-to-end: big-spender customers with no
    // failed order — Catalyst decorrelates both into semi/anti joins
    "q_sql_exists" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT c_custkey, c_name, c_acctbal FROM customer
               |WHERE EXISTS (SELECT 1 FROM orders
               |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
               | AND NOT EXISTS (SELECT 1 FROM orders
               |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
               |ORDER BY c_custkey;""".stripMargin)
    }),
    // joined EXISTS subquery (r8 verdict #4: the single-filtered-table
    // restriction lifted) — customers with a finished order carrying a
    // max-quantity line; the inner orders⋈lineitem chain lowers through
    // the same relation machinery as a top-level SELECT
    "q_sql_exists_join" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""SELECT c_custkey, c_name FROM customer
               |WHERE EXISTS (SELECT 1 FROM orders
               |              JOIN lineitem ON o_orderkey = l_orderkey
               |              WHERE o_custkey = c_custkey
               |                AND l_quantity >= 49 AND o_orderstatus = 'F')
               |ORDER BY c_custkey;""".stripMargin)
    }),
    // grouped EXISTS with HAVING — customers having SOME order-priority
    // class with ≥ 3 orders; groups form per (correlation key × GROUP BY
    // key), HAVING prunes them, existence = any surviving group
    "q_sql_exists_group" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT c_custkey, c_acctbal FROM customer
               |WHERE EXISTS (SELECT COUNT(*) AS n FROM orders
               |              WHERE o_custkey = c_custkey
               |              GROUP BY o_orderpriority HAVING n >= 3)
               |ORDER BY c_custkey;""".stripMargin)
    }),
    // correlated scalar subqueries NESTED INSIDE arithmetic (r8 ADVICE:
    // previously only direct comparison sides decorrelated) — integer
    // arithmetic only, and the first/third atoms are identical
    "q_sql_corr_arith" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT c_custkey, c_name FROM customer
               |WHERE (SELECT COUNT(*) FROM orders
               |       WHERE o_custkey = c_custkey) * 10 >= 120
               |  AND (SELECT COUNT(*) FROM orders
               |       WHERE o_custkey = c_custkey AND o_orderstatus = 'O') + 5
               |      <= (SELECT COUNT(*) FROM orders
               |          WHERE o_custkey = c_custkey)
               |ORDER BY c_custkey;""".stripMargin)
    }),
    // COUNT(DISTINCT …) end-to-end, mixed with plain aggregates and an
    // aggregate-arithmetic ratio over the distinct count
    "q_sql_count_distinct" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, COUNT(DISTINCT lang) AS n_langs, COUNT(*) AS n,
               | COUNT(*) / COUNT(DISTINCT lang) AS docs_per_lang
               |FROM documents GROUP BY source ORDER BY source;""".stripMargin)
    }),
    // explicit ROWS frames end-to-end: a 3-row moving average and a
    // running sum per source (the moving-window idiom the ANSI default
    // RANGE frame cannot express)
    "q_sql_window_frame" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | AVG(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3,
               | SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sum
               |FROM documents ORDER BY source, doc_id;""".stripMargin)
    }),
    // r12 scalar widening: GREATEST/LEAST n-ary comparison + DATEDIFF
    // calendar arithmetic (order-to-ship latency in whole days), grouped
    // to exact integer extremes/sums
    "q_sql_datediff" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""SELECT o_orderpriority,
               | CAST(MIN(lat) AS BIGINT) AS min_days,
               | CAST(MAX(lat) AS BIGINT) AS max_days,
               | CAST(SUM(lat) AS BIGINT) AS total_days,
               | COUNT(*) AS n
               |FROM (SELECT o_orderpriority,
               |   GREATEST(DATEDIFF('day', o_orderdate, l_shipdate), 0) AS lat
               |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey) t
               |GROUP BY o_orderpriority
               |ORDER BY o_orderpriority;""".stripMargin)
    }),
    // r13 dialect widening: the everyday-calendar / row-value tier the
    // r12 verdict named next — EXTRACT, INTERVAL arithmetic, row-value
    // (tuple) IN, LIKE … ESCAPE. Every key runs the same text in DuckDB.
    "q_sql_extract" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
               | EXTRACT(QUARTER FROM o_orderdate) AS qtr,
               | EXTRACT(MONTH FROM o_orderdate) AS mo,
               | COUNT(*) AS n_orders
               |FROM orders
               |GROUP BY EXTRACT(YEAR FROM o_orderdate),
               | EXTRACT(QUARTER FROM o_orderdate),
               | EXTRACT(MONTH FROM o_orderdate)
               |ORDER BY yr, qtr, mo;""".stripMargin)
    }),
    "q_sql_interval" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey,
               | CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due30,
               | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS due_q,
               | CAST(o_orderdate + INTERVAL 1 YEAR AS DATE) AS due_y,
               | CAST(o_orderdate + INTERVAL 6 HOUR AS VARCHAR) AS plus6h
               |FROM orders WHERE o_orderkey < 500
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    "q_sql_in_tuple" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, o_orderstatus, o_orderpriority
               |FROM orders
               |WHERE (o_orderstatus, o_orderpriority)
               |  IN (('F', '1-URGENT'), ('O', '5-LOW'), ('P', '3-MEDIUM'))
               |  AND o_orderkey < 2000
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    "q_sql_like_escape" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      // tags carry literal % and _ so the escape char is load-bearing:
      // 'pct!_5!%!_t' matches exactly the doc_id%10=5 tag, and the NOT
      // LIKE arm (never true — every tag contains a literal %) proves
      // the escape composes with negation
      es.sql("""SELECT doc_id, tag FROM (
               | SELECT doc_id,
               |  CONCAT('pct_', CAST(doc_id % 10 AS VARCHAR), '%_t') AS tag
               | FROM documents) t
               |WHERE tag LIKE 'pct!_5!%!_t' ESCAPE '!'
               |   OR tag NOT LIKE '%!%%' ESCAPE '!'
               |ORDER BY doc_id;""".stripMargin)
    }),
    // r13 second tier: math scalars, regex/string tier 3, aggregate
    // FILTER clause, IGNORE NULLS navigation, EXTRACT(EPOCH)
    "q_sql_math" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey,
               | ROUND(SQRT(o_totalprice), 6) AS sq,
               | ROUND(LN(o_totalprice), 6) AS lg,
               | ROUND(ABS(EXP(LN(o_totalprice)) - o_totalprice), 3) AS rt,
               | ROUND(ABS(POWER(o_totalprice, 0.5) - SQRT(o_totalprice)), 6) AS zz,
               | CAST(SIGN(o_totalprice - 100000) AS INTEGER) AS s
               |FROM orders WHERE o_orderkey < 300
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    "q_sql_regex" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id,
               | REGEXP_REPLACE(source, '[0-9]+', '#') AS src_n,
               | REGEXP_MATCHES(source, '1[0-9]') AS is_teens,
               | REVERSE(source) AS rsrc,
               | REPEAT(source, 2) AS s2,
               | MD5(source) AS h,
               | ASCII(source) AS a,
               | CHR(CAST(65 + doc_id % 26 AS INTEGER)) AS letter
               |FROM documents WHERE doc_id < 200
               |ORDER BY doc_id;""".stripMargin)
    }),
    "q_sql_filter_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""SELECT l_returnflag,
               | COUNT(*) AS n_all,
               | COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
               | SUM(l_quantity) FILTER (WHERE l_discount >= 0.05) AS qty_disc,
               | MAX(l_extendedprice) FILTER (WHERE l_tax > 0.03) AS max_taxed,
               | COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity = 1) AS n_supp_q1
               |FROM lineitem GROUP BY l_returnflag
               |ORDER BY l_returnflag;""".stripMargin)
    }),
    "q_sql_ignore_nulls" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      // LOCF gap-fill: every third doc carries a reading, the rest
      // inherit the latest non-null one in their source partition
      es.sql("""SELECT doc_id, v,
               | LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY source
               |   ORDER BY doc_id
               |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
               |FROM (SELECT doc_id, source,
               |   CASE WHEN n_chars % 3 = 0 THEN n_chars ELSE NULL END AS v
               |  FROM documents) t
               |ORDER BY doc_id;""".stripMargin)
    }),
    "q_sql_epoch" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey,
               | CAST(EXTRACT(EPOCH FROM o_orderdate) AS BIGINT) AS secs
               |FROM orders WHERE o_orderkey < 300
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    "q_sql_string_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("nation", Tables.nation(s, d))
      es.register("region", Tables.region(s, d))
      es.sql("""SELECT r_name, STRING_AGG(n_name, ',') AS nations,
               | COUNT(*) AS n
               |FROM nation JOIN region ON n_regionkey = r_regionkey
               |GROUP BY r_name ORDER BY r_name;""".stripMargin)
    }),
    // r14: JSON tier at the SQL front door (verdict item 2). The engine
    // could extract JSON since B16; this makes the dialect reach it:
    // JSON_EXTRACT_STRING for text values, CAST(JSON_EXTRACT(..)) for
    // numerics (the cross-engine-identical compositions -- see the
    // lowering note), a missing path as NULL, and a constructed-JSON
    // round-trip proving the extraction runs per row, not per literal.
    "q_sql_json" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("events", Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("props")))
      es.sql("""SELECT event_id, event_type,
               | CAST(JSON_EXTRACT(props, '$.k') AS INTEGER) AS k_num,
               | JSON_EXTRACT_STRING(props, '$.k') AS k_text,
               | JSON_EXTRACT_STRING(props, '$.missing') AS miss,
               | JSON_EXTRACT_STRING(CONCAT('{"t":"', event_type, '"}'),
               |   '$.t') AS t_rt
               |FROM events
               |WHERE CAST(JSON_EXTRACT(props, '$.k') AS INTEGER) % 10 = 0
               |ORDER BY event_id;""".stripMargin)
    }),
    // r14: array/UNNEST tier (verdict item 3). STRING_SPLIT -> array,
    // UNNEST as the SELECT fan-out (lowered to explode; composes with a
    // second projected column and with GROUP BY through a CTE), LEN as
    // the array length -- the dialect route into the engine's whole
    // explode-built text family.
    "q_sql_unnest" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""WITH tok AS (
               | SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
               | FROM documents),
               |cnt AS (
               | SELECT doc_id, COUNT(*) AS n_terms FROM tok GROUP BY doc_id)
               |SELECT c.doc_id, c.n_terms,
               | LEN(STRING_SPLIT(d.text, ' ')) AS n_len
               |FROM cnt c JOIN documents d ON c.doc_id = d.doc_id
               |ORDER BY 1;""".stripMargin)
    }),
    // r14: the dialect's error-vs-NULL posture, pinned (verdict item 5).
    // The session runs Spark's ANSI mode: plain CAST of a malformed
    // value and a division whose divisor IS zero are loud runtime
    // errors, never silent NULLs. The sanctioned NULL escape hatches are
    // TRY_CAST (EvalMode.TRY cast: NULL on conversion failure) and
    // NULLIF-guarded division -- both spelled identically in DuckDB,
    // which is what makes the posture oracle-checkable.
    "q_sql_try_cast" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id,
               | TRY_CAST(source AS INTEGER) AS src_num,
               | TRY_CAST(lang AS DOUBLE) AS lang_num,
               | TRY_CAST(CAST(n_chars AS VARCHAR) AS INTEGER) AS rt,
               | CAST(n_chars AS DOUBLE) / NULLIF(doc_id % 3, 0) AS gdiv
               |FROM documents WHERE doc_id < 300
               |ORDER BY doc_id;""".stripMargin)
    }),
    // r14 tier 2: ILIKE (case-insensitive LIKE, Catalyst ILike)
    "q_sql_ilike" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, source FROM documents
               |WHERE source ILIKE 'SRC1%' AND doc_id < 400
               | AND source NOT ILIKE '%9'
               |ORDER BY doc_id;""".stripMargin)
    }),
    // r14 tier 2: SELECT * EXCLUDE (cols) — the wide-table projection
    // idiom; unknown names fail loudly
    "q_sql_exclude" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT * EXCLUDE (text) FROM documents
               |WHERE doc_id < 250 ORDER BY doc_id;""".stripMargin)
    }),
    // r14 tier 2: array functions — membership, 1-based extraction with
    // NULL out-of-range (try_element_at; plain element_at would raise
    // under ANSI), join-to-text
    "q_sql_array2" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id,
               | LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the') AS has_the,
               | LIST_EXTRACT(STRING_SPLIT(text, ' '), 3) AS w3,
               | LIST_EXTRACT(STRING_SPLIT(text, ' '), 100000) AS w_oob,
               | ARRAY_TO_STRING(STRING_SPLIT(text, ' '), '|') AS joined
               |FROM documents WHERE doc_id < 200 ORDER BY doc_id;""".stripMargin)
    }),
    // r14 tier 2: (VALUES …) inline literal table as a FROM item,
    // composing with JOIN and GROUP BY — the ad-hoc dimension idiom
    "q_sql_values" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT s, w, COUNT(*) AS n
               |FROM (VALUES ('en', 1), ('de', 2), ('fr', 3)) v(s, w)
               |JOIN documents ON s = lang
               |GROUP BY s, w ORDER BY s;""".stripMargin)
    }),
    // r14 tier 3: GROUP BY ALL + ORDER BY ALL (keys inferred from the
    // select list; ordered over every output column left-to-right)
    "q_sql_group_all" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, source, COUNT(*) AS n,
               | CAST(SUM(n_chars) AS BIGINT) AS chars
               |FROM documents WHERE doc_id < 2000
               |GROUP BY ALL ORDER BY ALL;""".stripMargin)
    }),
    // r14 tier 3: DISTINCT ON — keep-one-per-key; determinism enforced
    // by the ORDER BY leading with the ON columns + a tiebreak
    "q_sql_distinct_on" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT DISTINCT ON (lang) lang, doc_id, n_chars
               |FROM documents ORDER BY lang, doc_id;""".stripMargin)
    }),
    // r14 tier 3: ARG_MAX / ARG_MIN / ANY_VALUE — the value of one
    // column at another's extreme (unique `by` = deterministic);
    // ANY_VALUE over per-group-constant input
    "q_sql_arg_max" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, ARG_MAX(source, doc_id) AS last_src,
               | ARG_MIN(source, doc_id) AS first_src,
               | ANY_VALUE(lang) AS l2, COUNT(*) AS n
               |FROM documents GROUP BY lang ORDER BY lang;""".stripMargin)
    }),
    // r14 tier 4: * EXCLUDE + REPLACE composed — recompute a column in
    // place (same name/position) while dropping another
    "q_sql_replace_star" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT * EXCLUDE (text) REPLACE (n_chars * 2 AS n_chars)
               |FROM documents WHERE doc_id < 150 ORDER BY doc_id;""".stripMargin)
    }),
    // r14 tier 4: NTH_VALUE navigation — NULL while the running frame
    // holds fewer than n rows (ANSI, both engines)
    "q_sql_nth_value" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, lang,
               | NTH_VALUE(n_chars, 3) OVER (PARTITION BY lang
               |   ORDER BY doc_id
               |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               |   AS third_chars
               |FROM documents WHERE doc_id < 300 ORDER BY doc_id;""".stripMargin)
    }),
    // r14: profile(tbl) table function — the SUMMARIZE analog at the
    // SQL front door (B30's engine over any registered table)
    "q_sql_profile" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("SELECT * FROM profile(documents) ORDER BY column_name;")
    }),
    // r14: STRFTIME — C-style directives translated to Spark patterns
    // at parse time (portable subset only; %j is the 3-digit DOY both
    // engines zero-pad)
    "q_sql_strftime" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m') AS ym,
               | STRFTIME(o_orderdate, '%Y/%m/%d') AS ymd,
               | STRFTIME(o_orderdate, '%j') AS doy
               |FROM orders WHERE o_orderkey < 400
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r14: ASOF JOIN at the SQL front door — the B21 temporal operator
    // (one shuffle, union-window, no range-join blowup) reachable from
    // the dialect/HTTP surface with the DuckDB spelling. Purchases are
    // pre-deduped to one row per (user, ms) so at-tie matches are a
    // deterministic single row in every engine.
    "q_sql_asof" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      val ev = graft.operators.EventTime.withMs(Tables.events(s, d))
      es.register("clicks", ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ms").as("click_ms")))
      es.register("purchases", ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ms").as("purchase_ms"))
        .agg(max(col("value")).as("purchase_value")))
      es.sql("""SELECT c.user_id AS user_id, c.click_id AS click_id,
               | c.click_ms AS click_ms, p.purchase_ms AS purchase_ms,
               | p.purchase_value AS purchase_value
               |FROM clicks c ASOF LEFT JOIN purchases p
               |  ON c.user_id = p.user_id AND c.click_ms >= p.purchase_ms
               |ORDER BY click_id;""".stripMargin)
    }),
    // r14: generate_series spine + gap-filling LEFT JOIN — the
    // calendar-completion idiom (months with zero orders still appear)
    "q_sql_series" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""WITH monthly AS (
               | SELECT MONTH(o_orderdate) AS mth, COUNT(*) AS n_orders
               | FROM orders WHERE YEAR(o_orderdate) = 1995
               |   AND o_orderpriority = '1-URGENT'
               |   AND o_totalprice > 350000
               | GROUP BY 1)
               |SELECT g.generate_series AS month,
               | COALESCE(m.n_orders, 0) AS n_orders
               |FROM generate_series(1, 12) g
               |LEFT JOIN monthly m ON g.generate_series = m.mth
               |ORDER BY 1;""".stripMargin)
    }),
    // r14: PIVOT statement — static IN list, one grouped aggregation
    // with a filtered leg per value (sum of integer-valued quantities:
    // exact in doubles, no accumulation-order drift)
    "q_sql_pivot" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""PIVOT lineitem ON l_returnflag IN ('R', 'A', 'N')
               |USING SUM(l_quantity) GROUP BY l_linestatus;""".stripMargin)
    }),
    // r14: UNPIVOT statement — wide per-priority counts back to long
    // form; the CTAS feeds it entirely through the SQL surface
    "q_sql_unpivot" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""CREATE TABLE pstats AS
               |SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
               | COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
               | COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high
               |FROM orders GROUP BY 1;""".stripMargin)
      es.sql("UNPIVOT pstats ON urgent, high INTO NAME priority VALUE n;")
    }),
    // r14: ARRAY_AGG with its mandatory inner ORDER BY — deterministic
    // list aggregation on any partitioning. The gate projection
    // stringifies the list through ARRAY_TO_STRING (r14 verdict #1: the
    // driver's pandas compare cannot sort/hash a raw array column —
    // no gate key returns an array/struct at the projection boundary);
    // ARRAY_AGG itself stays load-bearing inside the derived table.
    "q_sql_array_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus, ARRAY_TO_STRING(ks, ',') AS ks
               |FROM (SELECT o_orderstatus,
               |  ARRAY_AGG(o_orderkey ORDER BY o_orderkey) AS ks
               | FROM orders WHERE o_orderkey < 100
               | GROUP BY o_orderstatus) t
               |ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r14: CROSS JOIN — the explicit Cartesian product (spines, small
    // dims); composes with WHERE like any relation
    "q_sql_cross" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("region", Tables.region(s, d))
      es.register("nation", Tables.nation(s, d))
      es.sql("""SELECT r.r_name AS rn, n.n_name AS nn
               |FROM region r CROSS JOIN nation n
               |WHERE n.n_nationkey < 5
               |ORDER BY rn, nn;""".stripMargin)
    }),
    // r14: USING-clause join (one output key column) + LTRIM/RTRIM
    "q_sql_using" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.register("embeds", Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"), col("label")))
      es.sql("""SELECT doc_id, LTRIM(CONCAT('  ', lang)) AS lang,
               | RTRIM(CONCAT(source, ' ')) AS source, label
               |FROM documents JOIN embeds USING (doc_id)
               |WHERE doc_id < 200 ORDER BY doc_id;""".stripMargin)
    }),
    // r15: frame-free aggregate windows — SUM(n) OVER () / OVER
    // (PARTITION BY k) with no ORDER BY, the share-of-total idiom
    // (deterministic by construction: whole-partition frame, no sort at
    // all in the plan). Counts are exact ints, so each share is ONE IEEE
    // division + round-6 — bitwise cross-engine.
    "q_sql_share" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT st, pr, n,
               | ROUND(n * 1.0 / st_tot, 6) AS share_in_status,
               | ROUND(n * 1.0 / tot, 6) AS share_total
               |FROM (SELECT st, pr, n,
               |  SUM(n) OVER (PARTITION BY st) AS st_tot,
               |  SUM(n) OVER () AS tot
               | FROM (SELECT o_orderstatus AS st, o_orderpriority AS pr,
               |   COUNT(*) AS n
               |  FROM orders GROUP BY o_orderstatus, o_orderpriority) g) t
               |ORDER BY st, pr;""".stripMargin)
    }),
    // r15: UPDATE … FROM — the joined correlated-maintenance UPDATE; SET
    // reads the joined qualified row, >1 source match per target raises
    // (MERGE cardinality doctrine), unmatched rows pass through
    "q_sql_update_from" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("nat", Tables.nation(s, d))
      es.register("region", Tables.region(s, d))
      es.sql("""UPDATE nat SET n_name = CONCAT(r.r_name, ':', nat.n_name)
               |FROM region r
               |WHERE nat.n_regionkey = r.r_regionkey AND r.r_regionkey < 3;"""
        .stripMargin)
      es.sql("SELECT n_nationkey, n_name, n_regionkey FROM nat ORDER BY n_nationkey;")
    }),
    // r15: DELETE … USING — joined DELETE (≥1 match deletes), one anti
    // join, never a per-row subquery
    "q_sql_delete_using" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("ords", Tables.orders(s, d))
      es.register("cust", Tables.customer(s, d))
      es.sql("""DELETE FROM ords USING cust c
               |WHERE ords.o_custkey = c.c_custkey
               |  AND c.c_mktsegment = 'BUILDING';""".stripMargin)
      es.sql("""SELECT o_orderstatus, COUNT(*) AS n,
               | SUM(o_orderkey) AS key_sum
               |FROM ords GROUP BY o_orderstatus ORDER BY o_orderstatus;"""
        .stripMargin)
    }),
    // r15: ALTER TABLE schema evolution — ADD (NULL-filled, declared
    // NULLABLE), then the new column takes UPDATEs like any CREATE-time
    // one, RENAME, DROP; the final aggregate reads the evolved schema
    "q_sql_alter" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("docs", Tables.documents(s, d))
      es.sql("ALTER TABLE docs ADD COLUMN flag NULLABLE(UINT32);")
      es.sql("UPDATE docs SET flag = n_chars % 2 WHERE lang = 'en';")
      es.sql("ALTER TABLE docs RENAME COLUMN n_chars TO chars;")
      es.sql("ALTER TABLE docs DROP COLUMN text;")
      es.sql("""SELECT lang, COUNT(*) AS n, SUM(chars) AS total_chars,
               | SUM(flag) AS n_flag
               |FROM docs GROUP BY lang ORDER BY lang;""".stripMargin)
    }),
    // r15: NATURAL JOIN — equi-join on every shared column name
    "q_sql_natural" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("nat", Tables.nation(s, d).select(col("n_nationkey"),
        col("n_name"), col("n_regionkey").as("r_regionkey")))
      es.register("region", Tables.region(s, d))
      es.sql("""SELECT n_nationkey, n_name, r_name
               |FROM nat NATURAL JOIN region
               |ORDER BY n_nationkey;""".stripMargin)
    }),
    // r15: calendar tier 3 — STRPTIME (parse, the STRFTIME inverse,
    // same C-style directive translation), MAKE_DATE, LAST_DAY
    "q_sql_calendar3" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey,
               | STRPTIME(STRFTIME(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS ts,
               | LAST_DAY(o_orderdate) AS eom,
               | MAKE_DATE(YEAR(o_orderdate), 12, 31) AS eoy
               |FROM orders WHERE o_orderkey < 200
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r15: EXPLAIN ANALYZE — runtime row metrics (rows surviving WHERE,
    // result rows) read from the EXECUTED plan's accumulators; both are
    // semantic counts, so the oracle replays them as plain COUNTs — the
    // pushdown/filter contract observable at run time
    "q_sql_explain_analyze" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""EXPLAIN ANALYZE SELECT o_orderstatus, COUNT(*) AS n
               |FROM orders WHERE o_orderkey < 1000
               |GROUP BY o_orderstatus;""".stripMargin)
    }),
    // r15: aggregates over EXPRESSIONS — SUM(CASE …)/SUM(arith), the
    // conditional-aggregation idiom, plus HAVING over the same atom; the
    // per-row expression evaluates pre-aggregation (one scan, map-side
    // combine), shared atoms compute once
    "q_sql_agg_case" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus,
               | SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n_urgent,
               | SUM(o_orderkey % 10) AS key_digit_sum,
               | MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN o_orderkey ELSE 0 END) AS max_high_key,
               | SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) * 100 / COUNT(*) AS urgent_pct
               |FROM orders GROUP BY o_orderstatus
               |HAVING SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) > 0
               |ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r15: USING SAMPLE — the dialect's DETERMINISTIC sampling clause
    // (C19 multiplicative-hash membership on the named key), desugared
    // in the parser to a WHERE conjunct so it reaches the scan's pushed
    // filters; the oracle replays the hash textually
    "q_sql_sample" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus, COUNT(*) AS n, SUM(o_orderkey) AS key_sum
               |FROM orders USING SAMPLE 10% ON o_orderkey
               |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r16: COPY TO / COPY FROM — distributed egress to csv/json/parquet,
    // then typed read-back APPEND into empty twins of the source table;
    // the final SELECT aggregates each twin, so every row/char/lang must
    // survive each format's write→read round trip (the q_io_roundtrip
    // contract, driven entirely through the SQL front door)
    "q_sql_copy" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      val docs = Tables.documents(s, d)
      es.register("documents", docs)
      val base = s"/tmp/graft_sqlcopy_${graft.SessionMemo.pathTag(d)}"
      // OVERWRITE (r17): re-runs land on the previous run's directories —
      // the explicit opt-in is load-bearing here (a bare COPY TO now
      // refuses a non-empty target, the r16 ADVICE guard)
      es.sql(s"COPY documents TO '$base/csv' (FORMAT CSV, HEADER, OVERWRITE);")
      es.sql(s"COPY documents TO '$base/json' (FORMAT JSON, OVERWRITE);")
      es.sql(s"COPY documents TO '$base/parquet' (FORMAT PARQUET, OVERWRITE);")
      Seq("csv" -> ", HEADER", "json" -> "", "parquet" -> "").foreach {
        case (f, opt) =>
          es.register(s"docs_$f", docs.limit(0))
          es.sql(s"COPY docs_$f FROM '$base/$f' (FORMAT ${f.toUpperCase}$opt);")
      }
      // COPY (SELECT …) TO — the query-export form: a filtered
      // projection round-trips through parquet into a two-column twin
      es.sql(s"""COPY (SELECT doc_id, lang, n_chars FROM documents
                |      WHERE n_chars >= 300)
                |TO '$base/q' (FORMAT PARQUET, OVERWRITE);""".stripMargin)
      es.register("docs_q",
        docs.select(col("doc_id"), col("lang"), col("n_chars")).limit(0))
      es.sql(s"COPY docs_q FROM '$base/q' (FORMAT PARQUET);")
      es.sql("""SELECT 'csv' AS format, COUNT(*) AS n_rows,
               | SUM(n_chars) AS total_chars, COUNT(DISTINCT lang) AS n_langs
               |FROM docs_csv GROUP BY format
               |UNION ALL
               |SELECT 'json' AS format, COUNT(*) AS n_rows,
               | SUM(n_chars) AS total_chars, COUNT(DISTINCT lang) AS n_langs
               |FROM docs_json GROUP BY format
               |UNION ALL
               |SELECT 'parquet' AS format, COUNT(*) AS n_rows,
               | SUM(n_chars) AS total_chars, COUNT(DISTINCT lang) AS n_langs
               |FROM docs_parquet GROUP BY format
               |UNION ALL
               |SELECT 'query' AS format, COUNT(*) AS n_rows,
               | SUM(n_chars) AS total_chars, COUNT(DISTINCT lang) AS n_langs
               |FROM docs_q GROUP BY format
               |ORDER BY format;""".stripMargin)
    }),
    // r16: typed DATE/TIMESTAMP literals, load-bearing in a pushed WHERE
    // (both literal forms bound the same scan; QueryPlanSpec asserts
    // they reach PushedFilters)
    "q_sql_date_literal" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus, COUNT(*) AS n,
               | MIN(o_orderkey) AS first_key
               |FROM orders
               |WHERE o_orderdate >= DATE '1996-01-01'
               |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
               |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r16: SUM/AVG/MIN/MAX(DISTINCT) — Catalyst's native distinct-
    // aggregate Expand plan, composed with GROUP BY + HAVING over the
    // same distinct atom
    "q_sql_sum_distinct" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus,
               | SUM(DISTINCT o_custkey) AS sum_dc,
               | AVG(DISTINCT o_custkey) AS avg_dc,
               | MIN(DISTINCT o_custkey) AS min_dc,
               | MAX(DISTINCT o_custkey) AS max_dc,
               | COUNT(DISTINCT o_custkey) AS n_dc
               |FROM orders GROUP BY o_orderstatus
               |HAVING SUM(DISTINCT o_custkey) > 0
               |ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r16: ann_search nprobe — the IVF recall dial; nprobe=2 probes the
    // two nearest centroids' cells (directory pruning over 2 of 8
    // partitions), and the oracle replays cell routing + in-cell ranking
    // verbatim
    "q_sql_ann_nprobe" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("embeddings", Tables.embeddings(s, d))
      es.sql("""SELECT vec_id, sim
               |FROM ann_search(embeddings, vec_id, embedding, 0, 10, 2)
               |ORDER BY sim DESC, vec_id;""".stripMargin)
    }),
    // r16: math tier 5 (logs/trig, per-row with round(…,6) — float SUMs
    // would be partial-order-dependent) + prefix/suffix predicates, one
    // of them load-bearing in the WHERE
    "q_sql_math2" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey,
               | ROUND(SIN(o_orderkey % 7), 6) AS v_sin,
               | ROUND(COS(o_orderkey % 7), 6) AS v_cos,
               | ROUND(TAN(o_orderkey % 3), 6) AS v_tan,
               | ROUND(ATAN2(o_orderkey % 5, 3), 6) AS v_atan2,
               | ROUND(LOG10(o_orderkey + 1), 6) AS v_log10,
               | ROUND(LOG2(o_orderkey + 1), 6) AS v_log2,
               | ROUND(CBRT(o_orderkey), 6) AS v_cbrt,
               | ROUND(RADIANS(o_orderkey % 360), 6) AS v_rad,
               | ROUND(DEGREES(o_orderkey % 7), 6) AS v_deg,
               | STARTS_WITH(o_orderpriority, '1') AS is_urgent,
               | ENDS_WITH(o_orderpriority, 'LOW') AS is_low
               |FROM orders
               |WHERE o_orderkey <= 200 AND ENDS_WITH(o_orderstatus, 'O') = TRUE
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r16: multi-column COUNT(DISTINCT a, b) — pair cardinality per
    // group, composed with single-column distinct and a FILTER leg over
    // the same encoding
    "q_sql_count_distinct_multi" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus,
               | COUNT(DISTINCT o_custkey, o_orderpriority) AS n_pairs,
               | COUNT(DISTINCT o_custkey) AS n_cust,
               | COUNT(DISTINCT o_custkey, o_orderpriority)
               |   FILTER (WHERE o_orderkey % 2 = 0) AS n_pairs_even
               |FROM orders GROUP BY o_orderstatus
               |ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r17: the lexical tier — every feature load-bearing: both comment
    // forms frame the query, `||` builds the GROUPED key, scientific
    // notation bounds the WHERE, a double-quoted identifier names (and
    // re-references) the group alias, and unary minus drives both a
    // WHERE predicate and the MAX-via-MIN aggregate rewrite. DuckDB
    // runs the identical text.
    "q_sql_lexical" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""-- r17 lexical tier: first-contact dialect surface
               |SELECT l_returnflag || '/' || l_linestatus AS "flag status",
               | COUNT(*) AS n, /* concatenated grouping key */
               | CAST(SUM(l_quantity) AS BIGINT) AS qty,
               | ROUND(-MIN(-l_quantity), 0) AS max_qty
               |FROM lineitem
               |WHERE l_quantity >= 1e1 AND -l_extendedprice <= -2.5e3
               |GROUP BY "flag status"
               |ORDER BY "flag status";""".stripMargin)
    }),
    // r17: LAG … IGNORE NULLS — the LOCF/gap-fill spelling on lag (the
    // FIRST/LAST_VALUE flag extended to navigation offsets); nulls are
    // synthesized deterministically so both engines fill the same gaps
    "q_sql_lag_ignore" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, v,
               | LAG(v, 1 IGNORE NULLS) OVER (
               |   PARTITION BY o_orderstatus ORDER BY o_orderkey) AS prev_seen,
               | LEAD(v, 2 IGNORE NULLS) OVER (
               |   PARTITION BY o_orderstatus ORDER BY o_orderkey) AS next2_seen
               |FROM (SELECT o_orderkey, o_orderstatus,
               |       CASE WHEN o_orderkey % 3 = 0 THEN NULL
               |            ELSE o_custkey END AS v
               |      FROM orders) t
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r17: the COUNT(DISTINCT a, b) null-semantics contract, gated on an
    // actually-NULLABLE column (r16 verdict #2): Spark skips any-null
    // rows; DuckDB's row-value distinct would count them, so the oracle
    // replays the skip explicitly (CASE-composed) and the FILTER leg
    // shows the workaround a user writes to pin the semantics in text
    "q_sql_count_distinct_null" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus,
               | COUNT(DISTINCT o_custkey, pr) AS n_pairs_nn,
               | COUNT(DISTINCT o_custkey, pr)
               |   FILTER (WHERE pr IS NOT NULL) AS n_pairs_filtered,
               | COUNT(*) AS n_rows
               |FROM (SELECT o_orderstatus, o_custkey,
               |       NULLIF(o_orderpriority, '1-URGENT') AS pr
               |      FROM orders) t
               |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r17: the IVF COST dial — a 16-cell layout probed at nprobe=2 reads
    // 2/16 of the corpus (vs 2/8 on the default layout): the scan
    // fraction is nprobe/cells, and the layout is directory-pruned
    // (PartitionFilters; QueryPlanSpec asserts 2 of 16)
    "q_sql_ann_cells" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("embeddings", Tables.embeddings(s, d))
      es.sql("""SELECT vec_id, sim
               |FROM ann_search(embeddings, vec_id, embedding, 0, 10, 2, 16)
               |ORDER BY sim DESC, vec_id;""".stripMargin)
    }),
    // r17: the `::` cast operator (the Postgres/DuckDB spelling users
    // write first) — load-bearing in the projection, inside a `||`
    // chain, under unary minus (binds tighter: -x::T = -(x::T)), and in
    // the WHERE; unary plus as the no-op sign. Casts stay int-anchored
    // (double→int ROUNDING diverges across engines; the CAST tier
    // documents that — this key is about the operator, not the edges).
    "q_sql_cast_op" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey,
               | o_orderkey::VARCHAR AS key_str,
               | o_custkey::DOUBLE AS cust_d,
               | (o_orderkey % 7)::VARCHAR || '-' || o_orderstatus AS tag,
               | -o_custkey::BIGINT AS neg_cust,
               | +o_custkey AS pos_cust
               |FROM orders WHERE o_orderkey::BIGINT <= 100
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r17: ANSI string spellings — SUBSTRING FROM/FOR (plus the comma
    // alias and the 2-arg to-end form), POSITION(a IN b) load-bearing in
    // the WHERE, TRIM(BOTH|LEADING|TRAILING 'chars' FROM x). DuckDB runs
    // the identical text.
    "q_sql_ansi_str" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, o_orderpriority,
               | SUBSTRING(o_orderpriority FROM 3 FOR 6) AS tag,
               | SUBSTRING(o_orderpriority, 2, 3) AS tag2,
               | SUBSTRING(o_orderpriority FROM 3) AS tail_txt,
               | CAST(POSITION('-' IN o_orderpriority) AS BIGINT) AS dash_at,
               | TRIM(BOTH '15LOWURGENT-' FROM o_orderpriority) AS trim_both,
               | TRIM(LEADING '0123456789-' FROM o_orderpriority) AS trim_lead,
               | TRIM(TRAILING 'DEIFCPSLOW ' FROM o_orderpriority) AS trim_trail
               |FROM orders
               |WHERE o_orderkey <= 300 AND POSITION('E' IN o_orderpriority) > 0
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r17: IS [NOT] DISTINCT FROM (null-safe, two-valued — the NULL pr
    // rows are KEPT by IS DISTINCT FROM where != would drop them) + the
    // ANSI pagination spelling OFFSET … ROWS FETCH FIRST … ROWS ONLY
    "q_sql_is_distinct" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, o_orderstatus, pr
               |FROM (SELECT o_orderkey, o_orderstatus,
               |       NULLIF(o_orderpriority, '1-URGENT') AS pr FROM orders) t
               |WHERE pr IS DISTINCT FROM '5-LOW'
               |  AND o_orderstatus IS NOT DISTINCT FROM 'O'
               |ORDER BY o_orderkey
               |OFFSET 10 ROWS FETCH FIRST 25 ROWS ONLY;""".stripMargin)
    }),
    // r17: ANSI bivariate regression aggregates — slope/intercept/r2/
    // count/means per group, round(…,6) per the §5 float discipline
    "q_sql_regr" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""SELECT l_returnflag,
               | ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope,
               | ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 6) AS icept,
               | ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
               | CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
               | ROUND(REGR_AVGX(l_extendedprice, l_quantity), 6) AS avg_x,
               | ROUND(REGR_AVGY(l_extendedprice, l_quantity), 6) AS avg_y
               |FROM lineitem
               |GROUP BY l_returnflag ORDER BY l_returnflag;""".stripMargin)
    }),
    // r17: bitwise aggregates — exact integer folds, plus a FILTER leg
    "q_sql_bit_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderpriority,
               | BIT_AND(o_custkey) AS band,
               | BIT_OR(o_custkey) AS bor,
               | BIT_XOR(o_custkey) AS bxor,
               | BIT_XOR(o_custkey) FILTER (WHERE o_orderstatus = 'F') AS bxor_f
               |FROM orders GROUP BY o_orderpriority
               |ORDER BY o_orderpriority;""".stripMargin)
    }),
    // r17: windowed FILTER — per-aggregate row qualification INSIDE a
    // window frame (COUNT exact, SUM over bigint exact, MAX over double
    // order-independent — no float-accumulation nondeterminism)
    "q_sql_window_filter" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, o_orderstatus,
               | COUNT(*) FILTER (WHERE o_orderstatus = 'F')
               |   OVER (PARTITION BY o_custkey) AS n_f,
               | SUM(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0)
               |   OVER (PARTITION BY o_custkey) AS even_sum,
               | MAX(o_totalprice) FILTER (WHERE o_orderstatus != 'P')
               |   OVER (PARTITION BY o_custkey) AS max_np
               |FROM orders WHERE o_orderkey <= 2000
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r17: deterministic MODE — most frequent value per group, ties
    // broken by the smallest value (the dialect's defined contract)
    "q_sql_mode" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus, MODE(o_orderpriority) AS mode_pr,
               | COUNT(*) AS n
               |FROM orders GROUP BY o_orderstatus
               |ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r17: dispersion/correlation tier — CORR/COVAR both denominators,
    // VAR both denominators, population stddev; round(…,6) per §5
    "q_sql_dispersion" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("lineitem", Tables.lineitem(s, d))
      es.sql("""SELECT l_returnflag,
               | ROUND(CORR(l_extendedprice, l_quantity), 6) AS r_corr,
               | ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 6) AS cov_s,
               | ROUND(COVAR_POP(l_extendedprice, l_quantity), 6) AS cov_p,
               | ROUND(VAR_SAMP(l_quantity), 6) AS var_s,
               | ROUND(VAR_POP(l_quantity), 6) AS var_p,
               | ROUND(STDDEV_POP(l_quantity), 6) AS sd_p
               |FROM lineitem GROUP BY l_returnflag
               |ORDER BY l_returnflag;""".stripMargin)
    }),
    // r17: sample-corrected SKEWNESS/KURTOSIS (DuckDB's definitions,
    // composed from Spark's population moments) — identical text
    "q_sql_skew_kurt" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus,
               | ROUND(SKEWNESS(o_totalprice), 6) AS skew,
               | ROUND(KURTOSIS(o_totalprice), 6) AS kurt,
               | COUNT(*) AS n
               |FROM orders GROUP BY o_orderstatus
               |ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r17: LISTAGG — the ANSI spelling of STRING_AGG (same ascending-by-
    // value contract; the DuckDB replay spells the order explicitly)
    "q_sql_listagg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus, LISTAGG(o_orderpriority, ',') AS lg,
               | COUNT(*) AS n
               |FROM orders WHERE o_orderkey <= 30
               |GROUP BY o_orderstatus ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r17: ANSI ordered-set percentiles — PERCENTILE_CONT WITHIN GROUP
    // at two fractions, cross-checked against MEDIAN (the same kernel)
    "q_sql_within_group" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderstatus,
               | PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               | PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               | MEDIAN(o_totalprice) AS med
               |FROM orders GROUP BY o_orderstatus
               |ORDER BY o_orderstatus;""".stripMargin)
    }),
    // r17: PREPARE/EXECUTE — the prepared-statement front door; the
    // oracle runs the substituted text (substitution is the contract)
    "q_sql_prepare" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""PREPARE top_orders AS
               |SELECT o_orderkey, o_totalprice, o_orderstatus
               |FROM orders WHERE o_totalprice > ? AND o_orderstatus = ?
               |ORDER BY o_orderkey LIMIT 20;""".stripMargin)
      es.sql("EXECUTE top_orders(400000, 'O');")
    }),
    // r15: winnow TVF — C115's fingerprint selection at the SQL front door
    "q_sql_winnow" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, n_grams, n_selected, fp_sum, fp_min
               |FROM winnow(documents, doc_id, text) ORDER BY doc_id;"""
        .stripMargin)
    }),
    // r15: minhash_neardup TVF — C3's MinHash+LSH pair kernel at the SQL
    // front door (bucketed candidates, exact-Jaccard verify ≥ 0.5)
    "q_sql_minhash" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT id_a, id_b, jaccard
               |FROM minhash_neardup(documents, doc_id, text)
               |ORDER BY id_a, id_b;""".stripMargin)
    }),
    // r15: es_stratified TVF — C118's per-stratum exact-k quality draw
    "q_sql_es_stratified" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, rank, doc_id, es_key
               |FROM es_stratified(documents, doc_id, lang, text, 10)
               |ORDER BY lang, rank;""".stripMargin)
    }),
    // r15: semdedup TVF — C72's cluster-local semantic dedup at the SQL
    // front door, gate-checked via the PLANTED-DUPLICATE CONTRACT (the
    // q_semdedup pattern: the kept-set depends on the KMeans partition,
    // but the algebraic guarantees below hold for ANY clustering and the
    // oracle replays them from the parquet). The augmented corpus —
    // every 37th vector cloned under a shifted id — registers as a table;
    // the CONTRACT aggregation runs in SQL over the TVF's per-vector
    // (vec_id, cluster_id, centroid_sim, kept) relation.
    "q_sql_semdedup" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      es.register("corpus", e)
      es.register("embeds", e.unionByName(
        e.filter(col("vec_id") % 37 === 0)
          .select((col("vec_id") + 1000000007L).as("vec_id"),
            col("embedding"))))
      es.sql("""WITH r AS (SELECT vec_id, cluster_id, kept
               |  FROM semdedup(embeds, vec_id, embedding, 0.4)),
               | o AS (SELECT vec_id AS ovec, cluster_id AS o_cl FROM r
               |  WHERE vec_id < 1000000007 AND vec_id % 37 = 0),
               | c AS (SELECT vec_id - 1000000007 AS cvec,
               |   cluster_id AS c_cl, kept AS c_kept FROM r
               |  WHERE vec_id >= 1000000007),
               | tot AS (SELECT COUNT(*) AS nc FROM corpus)
               |SELECT MAX(nc) AS n_corpus, COUNT(*) AS n_planted,
               | COUNT(*) FILTER (WHERE o_cl = c_cl) AS same_cluster,
               | COUNT(*) FILTER (WHERE c_kept = FALSE) AS pruned
               |FROM o JOIN c ON ovec = cvec CROSS JOIN tot;""".stripMargin)
    }),
    // r14: LATERAL — the ANSI per-key top-n spelling; Catalyst
    // decorrelates it to a rank per key, never a per-row subquery
    "q_sql_lateral" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT c.c_custkey AS ck, l.price AS price
               |FROM customer c, LATERAL (
               |  SELECT o_totalprice AS price FROM orders
               |  WHERE o_custkey = c.c_custkey
               |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
               |WHERE c.c_custkey < 100
               |ORDER BY ck, price DESC;""".stripMargin)
    }),
    // r14: CREATE VIEW — stored as the parsed chain, re-lowered per
    // reference (true view semantics); the oracle is the CTE twin
    "q_sql_view" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""CREATE VIEW big_orders AS
               |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               |WHERE o_totalprice > 400000;""".stripMargin)
      es.sql("""SELECT o_custkey, COUNT(*) AS n_big,
               | MAX(o_totalprice) AS top
               |FROM big_orders GROUP BY o_custkey
               |HAVING COUNT(*) >= 2 ORDER BY o_custkey;""".stripMargin)
    }),
    // r14: EXCLUDE CURRENT ROW — leave-one-out peer statistics (each
    // doc vs its source's OTHER docs); exact-integer sums, one IEEE
    // division for the mean
    "q_sql_exclude_row" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               |   EXCLUDE CURRENT ROW) AS peer_chars,
               | COUNT(*) OVER (PARTITION BY source ORDER BY doc_id
               |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               |   EXCLUDE CURRENT ROW) AS peer_n,
               | AVG(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               |   EXCLUDE CURRENT ROW) AS peer_avg
               |FROM documents WHERE doc_id < 400
               |ORDER BY doc_id;""".stripMargin)
    }),
    // r14: fuzzy/regex/JSON scalar tier 4 — LEVENSHTEIN (fuzzy match at
    // the SQL front door), regex group extraction, TRANSLATE, JSON array
    // length (BIGINT-widened to the DuckDB result width)
    "q_sql_fuzzy" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id,
               | LEVENSHTEIN(lang, source) AS lv,
               | REGEXP_EXTRACT(text, '^(\w+) (\w+)', 2) AS w2,
               | TRANSLATE(lang, 'en', 'EN') AS lang_t,
               | JSON_ARRAY_LENGTH(CONCAT('["', REPLACE(lang, 'e', '","'),
               |   '"]')) AS jl
               |FROM documents WHERE doc_id < 150
               |ORDER BY doc_id;""".stripMargin)
    }),
    // r14: SEMI/ANTI join kinds — existence filtering without row
    // duplication; left columns only (Spark left_semi/left_anti)
    "q_sql_semi_anti" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT c.c_custkey AS k, 'has_orders' AS grp
               |FROM customer c SEMI JOIN orders o ON c.c_custkey = o.o_custkey
               |WHERE c.c_custkey < 50
               |UNION ALL
               |SELECT c.c_custkey AS k, 'no_orders' AS grp
               |FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey;""".stripMargin)
    }),
    // r14: INTERVAL window frames — the trailing-calendar-window idiom
    // (RANGE re-keyed onto exact day numbers; DATE order keys only)
    "q_sql_interval_frame" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, o_orderpriority,
               | COUNT(*) OVER (PARTITION BY o_orderpriority
               |   ORDER BY o_orderdate
               |   RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS n7
               |FROM orders WHERE o_orderkey < 500
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    // r14: COLUMNS('regex') — the wide-table projection selector
    "q_sql_columns" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT COLUMNS('_order') FROM orders
               |WHERE o_orderkey < 200 ORDER BY o_orderkey;""".stripMargin)
    }),
    // r14: quantified subquery comparisons — ALL reads one scalar
    // (min,max,count,nulls) stats struct, ANY the same struct's other
    // extreme; = ANY / != ALL desugar to the null-aware IN machinery
    "q_sql_any_all" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_orderkey, o_totalprice
               |FROM orders
               |WHERE o_totalprice >= ALL
               |   (SELECT o_totalprice FROM orders
               |    WHERE YEAR(o_orderdate) = 1995)
               |  OR o_totalprice < ANY
               |   (SELECT o_totalprice FROM orders
               |    WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 5000)
               |ORDER BY o_orderkey;""".stripMargin)
    }),
    "q_sql_greatest" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id,
               | GREATEST(n_chars, 300) AS floor300,
               | LEAST(n_chars, 300) AS cap300,
               | GREATEST(n_chars, doc_id, 100) AS g3
               |FROM documents WHERE doc_id < 150
               |ORDER BY doc_id;""".stripMargin)
    }),
    // ANSI NULLS FIRST/LAST (r12): null placement is ENGINE-DEFAULT
    // dependent (Spark asc→nulls first, DuckDB→nulls last), so the
    // explicit form is what makes nullable sort keys cross-engine
    // deterministic; a LIMIT under each ordering makes the placement
    // observable through the row SET (the gate sorts rows before
    // hashing, so order alone would not register)
    "q_sql_nulls_order" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT 'nulls_first' AS leg, doc_id, nl FROM (
               |  SELECT doc_id,
               |    CASE WHEN lang = 'en' THEN NULL ELSE lang END AS nl
               |  FROM documents WHERE doc_id < 200
               |  ORDER BY nl DESC NULLS FIRST, doc_id LIMIT 10) a
               |UNION ALL
               |SELECT 'nulls_last' AS leg, doc_id, nl FROM (
               |  SELECT doc_id,
               |    CASE WHEN lang = 'en' THEN NULL ELSE lang END AS nl
               |  FROM documents WHERE doc_id < 200
               |  ORDER BY nl DESC NULLS LAST, doc_id LIMIT 10) b;""".stripMargin)
    }),
    // boolean quantifier aggregates (r12): BOOL_AND/BOOL_OR over a
    // derived boolean column — ANSI EVERY/ANY in the DuckDB spelling
    "q_sql_bool_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang,
               | BOOL_AND(big) AS all_big,
               | BOOL_OR(big) AS any_big,
               | COUNT(*) AS n
               |FROM (SELECT lang,
               |   CASE WHEN n_chars > 300 THEN TRUE ELSE FALSE END AS big
               |  FROM documents) t
               |GROUP BY lang ORDER BY lang;""".stripMargin)
    }),
    // sample standard deviation (r12): float-accumulated, so the key
    // rounds to 6 dp per the §5 float discipline (the zipf precedent)
    "q_sql_stddev" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, COUNT(*) AS n,
               | ROUND(STDDEV(n_chars), 6) AS sd_chars
               |FROM documents GROUP BY lang ORDER BY lang;""".stripMargin)
    }),
    // EXCEPT ALL / INTERSECT ALL (r9): bag-semantics set ops — lang
    // multiset of long docs minus short docs (multiplicities subtract),
    // intersected multiset across two sources
    "q_sql_set_all" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang FROM documents WHERE n_chars >= 300
               |EXCEPT ALL SELECT lang FROM documents WHERE n_chars < 300;""".stripMargin)
    }),
    // QUALIFY (r9): top-k per group in one clause — the window filter
    // spelled the way humans write it (DuckDB runs the same text)
    "q_sql_qualify" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | ROW_NUMBER() OVER (PARTITION BY source
               |   ORDER BY n_chars DESC, doc_id) AS rn
               |FROM documents
               |QUALIFY rn <= 3
               |ORDER BY source, rn;""".stripMargin)
    }),
    // r9 scalar-tier widening: the everyday string functions in one
    // pass — CONCAT/LPAD/LEFT/RIGHT/STRPOS/SPLIT_PART with CONTAINS as
    // the WHERE predicate
    "q_sql_string_funcs2" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id,
               | CONCAT(source, '/', lang) AS src_lang,
               | LPAD(CAST(doc_id AS VARCHAR), 6, '0') AS id6,
               | LEFT(text, 10) AS head10, RIGHT(text, 5) AS tail5,
               | STRPOS(text, 'table') AS pos_table,
               | SPLIT_PART(text, ' ', 3) AS tok3
               |FROM documents WHERE CONTAINS(text, 'spark') = TRUE
               |ORDER BY doc_id LIMIT 100;""".stripMargin)
    }),
    // DATE_TRUNC + DOW (r9): the calendar report tier — month bucket ×
    // day-of-week counts, grouped BY THE EXPRESSIONS (the A12az twins)
    "q_sql_date_trunc" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT CAST(DATE_TRUNC('month', o_orderdate) AS VARCHAR) AS mo,
               | DOW(o_orderdate) AS dw, COUNT(*) AS n
               |FROM orders
               |GROUP BY CAST(DATE_TRUNC('month', o_orderdate) AS VARCHAR),
               |         DOW(o_orderdate)
               |ORDER BY mo, dw;""".stripMargin)
    }),
    // RANGE value frames (r9): rolling window BY VALUE — every peer at
    // the same ORDER key lands in the same frame, so the count is
    // tie-order independent by construction (the property ROWS frames
    // lack); integer order key, exact counts
    "q_sql_range_frame" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT o_custkey, o_orderkey,
               | CAST(ROUND(o_totalprice) AS BIGINT) AS price_i,
               | COUNT(*) OVER (PARTITION BY o_custkey ORDER BY price_i
               |   RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_near
               |FROM orders ORDER BY o_custkey, o_orderkey;""".stripMargin)
    }),
    // CUME_DIST (r9): the remaining ANSI distribution window — exact-int
    // ratio (peers-or-before / partition rows), bitwise cross-engine
    "q_sql_cume_dist" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | CUME_DIST() OVER (PARTITION BY source
               |   ORDER BY n_chars, doc_id) AS cd
               |FROM documents ORDER BY source, doc_id;""".stripMargin)
    }),
    // WITH RECURSIVE (r9): a 4-hop walk along each source's doc chain
    // (LEAD successor edges), counted by depth — set-fixpoint iteration
    // with per-round convergence; DuckDB runs the same ANSI text natively
    "q_sql_recursive" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""WITH RECURSIVE heads AS (
               |  SELECT source, MIN(doc_id) AS doc_id FROM documents
               |  GROUP BY source),
               |nxt AS (
               |  SELECT source, doc_id,
               |   LEAD(doc_id, 1) OVER (PARTITION BY source
               |     ORDER BY doc_id) AS nd
               |  FROM documents),
               |walk AS (
               |  SELECT doc_id, 1 AS depth FROM heads
               |  UNION
               |  SELECT n.nd AS doc_id, w.depth + 1 AS depth
               |  FROM walk AS w JOIN nxt AS n ON w.doc_id = n.doc_id
               |  WHERE w.depth < 4 AND n.nd IS NOT NULL)
               |SELECT depth, COUNT(*) AS n_docs FROM walk
               |GROUP BY depth ORDER BY depth;""".stripMargin)
    }),
    // HAVING with aggregate expressions (r9): the ANSI spelling
    // `HAVING COUNT(*) >= 20` — the atom resolves to its select-item
    // twin's output column, composing inside arithmetic
    "q_sql_having_agg" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT lang, COUNT(*) AS n, SUM(n_chars) AS chars
               |FROM documents GROUP BY lang
               |HAVING COUNT(*) >= 20 AND SUM(n_chars) / COUNT(*) > 250
               |ORDER BY lang;""".stripMargin)
    }),
    // GROUP BY expressions (r9): `GROUP BY YEAR(d)` with the select-item
    // twin resolving to its alias — the everyday ANSI report shape that
    // previously required grouping by the alias name
    "q_sql_group_expr" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT YEAR(o_orderdate) AS yr, COUNT(*) AS n_orders
               |FROM orders GROUP BY YEAR(o_orderdate) ORDER BY yr;""".stripMargin)
    }),
    // ORDER BY expressions (r9): the everyday ANSI shape — sort by a
    // computed scalar that is not a select item; hidden-column lowering
    // folds into TakeOrderedAndProject under the LIMIT
    "q_sql_order_expr" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, n_chars FROM documents
               |ORDER BY ABS(n_chars - 300), doc_id LIMIT 50;""".stripMargin)
    }),
    // string scalar functions in SELECT and WHERE
    "q_sql_string_funcs" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, UPPER(lang) AS lang_uc, LENGTH(text) AS n_len,
               | SUBSTR(text, 1, 20) AS head20
               |FROM documents WHERE LENGTH(text) > 300
               |ORDER BY doc_id LIMIT 100;""".stripMargin)
    }),
    // table functions: the pipeline surface through the SQL front door
    // (each also reachable over HTTP via GraftServer)
    "q_sql_dedup" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, source, n_chars
               |FROM dedup_exact(documents, doc_id, text);""".stripMargin)
    }),
    "q_sql_neardup" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("SELECT id_a, id_b, jaccard FROM neardup_jaccard(documents, doc_id, text, 0.5);")
    }),
    // index-backed metric search at the SQL layer (r8 verdict #5): the
    // reference's emtree story — `hash @ probe <= r` answered from the
    // PERSISTED prefix-partitioned layout, written on first use by the
    // session's index registry; WHERE/ORDER BY compose on top like any
    // relation. The oracle brute-forces the same radius over the
    // portable-simhash replay — proving the pruned scan lossless.
    "q_sql_metric_search" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("doc_hashes", Tables.documents(s, d).select(col("doc_id"),
        call_function("simhash64", split(col("text"), " ")).as("h")))
      es.sql("""SELECT doc_id, dist
               |FROM metric_search(doc_hashes, doc_id, h, 0, 2)
               |ORDER BY doc_id;""".stripMargin)
    }),
    // index-backed Hamming k-NN at the SQL layer: radius-doubling over
    // the same persisted layout as q_sql_metric_search. Output is
    // (h, dist) — ties at the k boundary share identical (h, dist)
    // bytes, so the selected multiset is engine-independent even when
    // doc ids at the boundary are not
    "q_sql_metric_knn" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("doc_hashes", Tables.documents(s, d).select(col("doc_id"),
        call_function("simhash64", split(col("text"), " ")).as("h")))
      es.sql("""SELECT h, dist
               |FROM metric_knn(doc_hashes, doc_id, h, 0, 10)
               |ORDER BY dist, h;""".stripMargin)
    }),
    // index-backed ANN search at the SQL layer: cosine top-10 for probe
    // vec_id=0 from the PERSISTED IVF layout (deterministic lowest-8-id
    // centroids — the q_ann_ivf scheme, so DuckDB replays assignment,
    // probe cell, and the in-cell ranking exactly)
    "q_sql_ann_search" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("embeddings", Tables.embeddings(s, d))
      es.sql("""SELECT vec_id, sim
               |FROM ann_search(embeddings, vec_id, embedding, 0, 10)
               |ORDER BY sim DESC, vec_id;""".stripMargin)
    }),
    "q_sql_knn" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("embeddings", Tables.embeddings(s, d))
      es.sql("SELECT vec_id, sim FROM knn_cosine(embeddings, vec_id, embedding, 0, 10);")
    }),
    "q_sql_quality_gate" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, ok_words, ok_mean_len, ok_repetition,
               | ok_stopwords, keep
               |FROM quality_gate(documents, doc_id, text);""".stripMargin)
    }),
    // LEFT OUTER JOIN + COALESCE end-to-end: every customer with their
    // order stats, zero-filled where no orders exist — the canonical
    // enrichment shape an inner join silently drops rows from. The CTE
    // pre-aggregates so the preserved side stays one-row-per-customer.
    "q_sql_left_join" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""WITH oc AS (
               |  SELECT o_custkey, COUNT(*) AS n_orders
               |  FROM orders GROUP BY o_custkey)
               |SELECT c_custkey, c_name,
               | COALESCE(n_orders, 0) AS n_ord,
               | CASE WHEN COALESCE(n_orders, 0) = 0 THEN 'never'
               |      ELSE 'buyer' END AS segment
               |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
               |ORDER BY c_custkey;""".stripMargin)
    }),
    // GROUP BY / ORDER BY ordinals — the analyst spelling
    "q_sql_ordinal" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, lang, COUNT(*) AS n
               |FROM documents GROUP BY 1, 2 ORDER BY 1, 2;""".stripMargin)
    }),
    // LAG/LEAD with an explicit offset
    "q_sql_lag" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | LAG(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS prev_chars,
               | LEAD(n_chars, 2) OVER (PARTITION BY source ORDER BY doc_id) AS next2_chars
               |FROM documents ORDER BY source, doc_id;""".stripMargin)
    }),
    // derived table end-to-end: filter + order over an aggregating
    // inline view (the CTE-free spelling)
    "q_sql_derived" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, n_docs, total_chars
               |FROM (SELECT source, COUNT(*) AS n_docs,
               |      SUM(n_chars) AS total_chars
               |      FROM documents GROUP BY source) t
               |WHERE n_docs > 10 ORDER BY source;""".stripMargin)
    }),
    "q_sql_langid" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("SELECT doc_id, pred_lang, en_ratio FROM language_id(documents, doc_id, text);")
    }),
    "q_sql_split" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("SELECT doc_id, split FROM sample_split(documents, doc_id);")
    }),
    // NTILE + PERCENT_RANK: distribution-position windows (quartile
    // bucketing and the exact (rank−1)/(rows−1) percentile position)
    "q_sql_ntile" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | NTILE(4) OVER (PARTITION BY source
               |   ORDER BY n_chars, doc_id) AS quart,
               | PERCENT_RANK() OVER (PARTITION BY source
               |   ORDER BY n_chars, doc_id) AS pr
               |FROM documents ORDER BY source, doc_id;""".stripMargin)
    }),
    // correlated scalar subqueries in the SELECT list — the per-row
    // lookup shape (counts with zero-fill, NULL for empty MAX groups,
    // a local predicate mixing with the correlation)
    // correlated scalar subqueries in WHERE — both sides of the AND carry
    // one (a count floor and a per-customer MIN comparison against outer
    // arithmetic), exercising decorrelation + composability
    "q_sql_corr_where" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT c_custkey, c_name, c_acctbal FROM customer
               |WHERE (SELECT COUNT(*) FROM orders
               |       WHERE o_custkey = c_custkey) >= 12
               |  AND c_acctbal * 10 > (SELECT MIN(o_totalprice) FROM orders
               |       WHERE o_custkey = c_custkey)
               |ORDER BY c_custkey;""".stripMargin)
    }),
    "q_sql_corr_scalar" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT c_custkey, c_name,
               | (SELECT COUNT(*) FROM orders
               |  WHERE o_custkey = c_custkey) AS n_orders,
               | (SELECT MAX(o_totalprice) FROM orders
               |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O') AS max_open
               |FROM customer ORDER BY c_custkey;""".stripMargin)
    }),
    // numeric/null scalar tier: ROUND/ABS/NULLIF/COALESCE composing with
    // arithmetic in SELECT and WHERE (n/3.0 can never sit exactly on a
    // .5 rounding boundary for integral n, so the 0-dp round is
    // cross-engine stable)
    "q_sql_scalar_funcs" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, ROUND(n_chars / 3.0) AS thirds,
               | ABS(n_chars - 500) AS dev500,
               | COALESCE(NULLIF(lang, 'en'), 'base') AS alt_lang
               |FROM documents WHERE ABS(n_chars - 500) < 400
               |ORDER BY doc_id;""".stripMargin)
    }),
    // [NOT] LIKE + SELECT DISTINCT end-to-end over the parquet corpus
    // (r11: A12a promoted from suite-only — `%` wildcards both anchored
    // and floating, NOT LIKE composing in the same conjunction, DISTINCT
    // deduping the projected pair)
    "q_sql_like" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT DISTINCT lang, source FROM documents
               |WHERE text LIKE '%table window%' AND source NOT LIKE '%1%'
               |ORDER BY lang, source;""".stripMargin)
    }),
    // boolean predicate tree end-to-end (r11: A12f promoted from
    // suite-only): AND binds tighter than OR, parens group, NOT at
    // factor level — the un-parenthesized tail leg must parse as
    // (zh AND long), not ((… OR zh) AND long)
    "q_sql_bool_logic" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, lang, n_chars FROM documents
               |WHERE (lang = 'en' OR lang = 'de')
               |  AND NOT (n_chars < 300 OR n_chars > 450)
               |  OR lang = 'zh' AND n_chars > 500
               |ORDER BY doc_id;""".stripMargin)
    }),
    // IN-list / NOT IN / BETWEEN / NOT BETWEEN (r11: A12g promoted from
    // suite-only): the IN list lowers to a pushable Catalyst In, BETWEEN
    // desugars to the inclusive range with its AND bound locally
    "q_sql_in_between" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id, lang, n_chars FROM documents
               |WHERE lang IN ('en', 'fr', 'es') AND lang NOT IN ('es')
               |  AND n_chars BETWEEN 200 AND 400
               |  AND doc_id NOT BETWEEN 100 AND 120
               |ORDER BY doc_id;""".stripMargin)
    }),
    // TRUE / FALSE / NULL literal values as expressions (r11: A12c
    // promoted from suite-only): typed literal lowering through CASE —
    // BOOL results and an explicit NULL branch whose column type must
    // still come out STRING
    "q_sql_literals" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id,
               | CASE WHEN n_chars > 300 THEN TRUE ELSE FALSE END AS long_doc,
               | CASE WHEN lang = 'en' THEN NULL ELSE lang END AS non_en
               |FROM documents WHERE doc_id < 100
               |ORDER BY doc_id;""".stripMargin)
    }),
    // CREATE TABLE + INSERT VALUES end-to-end through the gate (r11:
    // A1/A1b/A2 promoted from suite-only): the full declared-type tier —
    // UINT32→BIGINT, UINT16→INTEGER, UINT64→DECIMAL(20,0) (a value above
    // int64 range proves the decimal physical type is real), NULLABLE
    // STRING(n) with an explicit NULL, BOOL — read back typed. §5 cast-back
    // discipline (r12 fix, same as q_sql_cast): the DECIMAL(20,0) column is
    // rendered through VARCHAR on BOTH sides because DuckDB's int128 decimal
    // stringification and Spark's BigDecimal disagree at the hash layer; the
    // decimal stays under test via the WHERE comparison (a >int64 literal
    // compared against the stored decimal) and the typed read-back path.
    "q_sql_create_insert" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.sql("""CREATE TABLE inv (
               |  sku UINT32 PRIMARY KEY,
               |  qty UINT16,
               |  price UINT64,
               |  note NULLABLE(STRING(40)),
               |  active BOOL);""".stripMargin)
      es.sql("""INSERT INTO inv VALUES
               | (1, 5, 1999, 'first', TRUE),
               | (2, 0, 10000000000000000000, NULL, FALSE),
               | (3, 65535, 0, 'max u16', TRUE);""".stripMargin)
      es.sql("""SELECT sku, qty, CAST(price AS VARCHAR) AS price_str,
               | note, active
               |FROM inv WHERE price <= 10000000000000000000
               |ORDER BY sku;""".stripMargin)
    }),
    // UUID type round-trip (r11: A10 promoted from suite-only): canonical
    // UUID literals survive INSERT-time domain validation and read back
    // as the declared string form
    "q_sql_uuid" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.sql("CREATE TABLE ids (id UUID PRIMARY KEY, label STRING(20));")
      es.sql("""INSERT INTO ids VALUES
               | ('0198b5a2-3c4d-7e5f-8a9b-0c1d2e3f4a5b', 'alpha'),
               | ('ffffffff-ffff-ffff-ffff-ffffffffffff', 'omega');""".stripMargin)
      es.sql("SELECT id, label FROM ids ORDER BY label;")
    }),
    // NOW() engine-side fill (r11: A9 promoted from suite-only): the
    // DEFAULT NOW() column is nondeterministic, so the key projects a
    // sanity invariant of it (a correct engine clock makes YEAR(at) land
    // in [2020, 2100] forever) rather than the raw timestamp
    "q_sql_now" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.sql("""CREATE TABLE evt (
               |  k UINT32 PRIMARY KEY,
               |  at TIMESTAMP DEFAULT NOW());""".stripMargin)
      es.sql("INSERT INTO evt (k) VALUES (1), (2);")
      es.sql("""SELECT k,
               | CASE WHEN YEAR(at) >= 2020 AND YEAR(at) <= 2100
               |   THEN TRUE ELSE FALSE END AS clock_sane
               |FROM evt ORDER BY k;""".stripMargin)
    }),
    // EXPLAIN through the gate (r11: A12e promoted from suite-only): the
    // raw plan text is machine/plan-id-dependent, so the key projects the
    // INVARIANTS the front-end promises — the filter reaches the parquet
    // scan as a pushed filter and the unused text column is pruned from
    // the read — as booleans against a constants oracle
    "q_sql_explain" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("EXPLAIN SELECT doc_id FROM documents WHERE lang = 'en';")
        .agg(
          max(col("plan_line").contains("Scan parquet")).as("scans_parquet"),
          max(col("plan_line").contains("PushedFilters") &&
            col("plan_line").contains("lang")).as("filter_pushed"),
          max(col("plan_line").contains("text")).as("reads_text_col"))
    }),
    // the reference README story end-to-end through the gate (r11: A11
    // promoted from suite-only; reference README.md "Story"): CREATE a
    // metric-keyed photos table with DEFAULT NOW(), INSERT binary-literal
    // perceptual hashes, run the `@` threshold search — projected to the
    // deterministic columns (ULID/NOW stay covered by the suite)
    "q_sql_readme" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.sql("""CREATE TABLE IF NOT EXISTS photos_seen (
               |  hash UINT64 METRIC KEY USING emtree(hamming),
               |  url STRING(2048) PRIMARY KEY,
               |  width UINT32,
               |  height UINT32,
               |  seen_at TIMESTAMP DEFAULT NOW());""".stripMargin)
      es.sql("""INSERT INTO photos_seen (hash, url, width, height)
               |VALUES (0b11001111, 'https://example.com/a.png', 1280, 820),
               |       (0b01110000, 'https://example.com/b.png', 640, 480);""".stripMargin)
      es.sql("""SELECT url, width, height, hash @ 0b00001011 AS distance
               |FROM photos_seen WHERE distance < 4;""".stripMargin)
    }),
    // FULL OUTER JOIN + IS NULL: the reconciliation report — which
    // nations have customers, early suppliers, or both
    "q_sql_full_join" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("supplier", Tables.supplier(s, d))
      es.sql("""WITH c AS (
               |  SELECT c_nationkey AS nk, COUNT(*) AS n_cust
               |  FROM customer GROUP BY c_nationkey),
               |sp AS (
               |  SELECT s_nationkey AS snk, COUNT(*) AS n_supp
               |  FROM supplier WHERE s_suppkey < 30 GROUP BY s_nationkey)
               |SELECT COALESCE(nk, snk) AS nationkey,
               | COALESCE(n_cust, 0) AS n_cust,
               | COALESCE(n_supp, 0) AS n_supp,
               | CASE WHEN nk IS NULL THEN 'supplier_only'
               |      WHEN snk IS NULL THEN 'customer_only'
               |      ELSE 'both' END AS presence
               |FROM c FULL OUTER JOIN sp ON nk = snk
               |ORDER BY nationkey;""".stripMargin)
    }),
    // RIGHT OUTER JOIN: all customers kept, urgent orders counted
    // (COUNT(col) skips the NULLs of unmatched rows — ANSI)
    "q_sql_right_join" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""WITH o AS (
               |  SELECT o_custkey, o_orderkey FROM orders
               |  WHERE o_orderpriority = '1-URGENT')
               |SELECT c_custkey, COUNT(o_orderkey) AS n_urgent
               |FROM o RIGHT JOIN customer ON o_custkey = c_custkey
               |GROUP BY c_custkey ORDER BY c_custkey;""".stripMargin)
    }),
    // EXCEPT — ANSI distinct set difference
    "q_sql_except" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT doc_id FROM documents WHERE lang = 'en'
               |EXCEPT SELECT doc_id FROM documents WHERE n_chars < 500;""".stripMargin)
    }),
    // INTERSECT — ANSI distinct set intersection
    "q_sql_intersect" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source FROM documents WHERE lang = 'en'
               |INTERSECT SELECT source FROM documents WHERE n_chars < 400;""".stripMargin)
    }),
    // CAST tier: numeric/string/decimal targets, composing with
    // arithmetic and WHERE
    "q_sql_cast" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      // The DECIMAL(12,2) cast stays under test, but is rendered through
      // VARCHAR: it is the only key that would otherwise emit a raw decimal
      // output column, which the driver's hash canonicalization stringifies
      // differently from DuckDB (r8 verdict: engine verified right by judge
      // replay; fix the rendering, not the engine).
      es.sql("""SELECT doc_id,
               | CAST(n_chars AS DOUBLE) / 7 AS sevenths,
               | CAST(n_chars AS VARCHAR) AS n_str,
               | CAST(CAST(n_chars AS DECIMAL(12,2)) AS VARCHAR) AS n_dec
               |FROM documents WHERE CAST(n_chars AS BIGINT) >= 200
               |ORDER BY doc_id;""".stripMargin)
    }),
    // calendar functions + CAST composing under GROUP BY ordinals —
    // the monthly-revenue report straight from SQL
    "q_sql_dates" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("orders", Tables.orders(s, d))
      es.sql("""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
               | CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
               | COUNT(*) AS n_orders,
               | CAST(ROUND(MAX(o_totalprice) / 1000, 1) AS DOUBLE) AS top_k
               |FROM orders WHERE YEAR(o_orderdate) BETWEEN 1996 AND 1997
               |GROUP BY 1, 2 ORDER BY 1, 2;""".stripMargin)
    }),
    // centered ROWS frame: the symmetric moving average (PRECEDING and
    // FOLLOWING bounds)
    "q_sql_centered" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | AVG(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               |   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS ma5
               |FROM documents ORDER BY source, doc_id;""".stripMargin)
    }),
    // FIRST_VALUE / LAST_VALUE navigation: each doc vs its source's
    // shortest doc (default frame) and the full-frame longest
    "q_sql_first_value" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("documents", Tables.documents(s, d))
      es.sql("""SELECT source, doc_id, n_chars,
               | FIRST_VALUE(n_chars) OVER (PARTITION BY source
               |   ORDER BY n_chars, doc_id) AS min_chars,
               | LAST_VALUE(n_chars) OVER (PARTITION BY source
               |   ORDER BY n_chars, doc_id
               |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               |   AS running_max
               |FROM documents ORDER BY source, doc_id;""".stripMargin)
    }),
    // table aliases + qualified references: the self-join shape —
    // same-nation (customer, founder) pairs. The b-side literal cap is
    // load-bearing at scale: Catalyst pushes it BELOW the join, so the
    // pair relation grows linearly in |a| (an uncapped same-key self
    // join is quadratic BY SEMANTICS — measured 575x wall at x100 before
    // this bound; with it the b side is =100 rows at any corpus size)
    "q_sql_self_join" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.sql("""SELECT a.c_nationkey AS nationkey, COUNT(*) AS n_pairs
               |FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
               |WHERE b.c_custkey <= 100 AND a.c_custkey < b.c_custkey
               |GROUP BY 1 ORDER BY 1;""".stripMargin)
    }),
    // IS NULL as the anti-join spelling over LEFT JOIN's unmatched rows
    "q_sql_is_null" -> ((s: SparkSession, d: String) => {
      val es = new EmdriveSession(s)
      es.register("customer", Tables.customer(s, d))
      es.register("orders", Tables.orders(s, d))
      es.sql("""WITH o AS (
               |  SELECT o_custkey, COUNT(*) AS n FROM orders
               |  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey)
               |SELECT c_custkey, c_name
               |FROM customer LEFT JOIN o ON c_custkey = o_custkey
               |WHERE n IS NULL ORDER BY c_custkey;""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    // the catalog dump is checked against the KNOWN schemas as constants —
    // the session registers exactly these three tables, so the expected
    // rows are fully determined (type mapping per sources/SchemaMapper)
    "q_sql_system_columns" ->
      """SELECT * FROM (VALUES
        | ('documents','doc_id',0,'BIGINT',TRUE,FALSE,FALSE),
        | ('documents','text',1,'STRING',TRUE,FALSE,FALSE),
        | ('documents','lang',2,'STRING',TRUE,FALSE,FALSE),
        | ('documents','source',3,'STRING',TRUE,FALSE,FALSE),
        | ('documents','n_chars',4,'BIGINT',TRUE,FALSE,FALSE),
        | ('photos','id',0,'STRING',FALSE,TRUE,FALSE),
        | ('photos','added',1,'TIMESTAMP',FALSE,FALSE,FALSE),
        | ('photos','caption',2,'STRING',TRUE,FALSE,FALSE),
        | ('photos','phash',3,'DECIMAL(20,0)',FALSE,FALSE,TRUE),
        | ('region','r_regionkey',0,'INT',TRUE,FALSE,FALSE),
        | ('region','r_name',1,'STRING',TRUE,FALSE,FALSE)
        |) AS t(table_name, column_name, ordinal, data_type,
        |       is_nullable, primary_key, metric_key)""".stripMargin,
    "q_sql_system_agg" ->
      """SELECT * FROM (VALUES
        | ('documents', 5, CAST(3 AS BIGINT)),
        | ('region', 2, CAST(1 AS BIGINT))
        |) AS t(table_name, n_columns, n_strings)""".stripMargin,
    "q_sql_select" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'",
    "q_sql_grouping_sets" ->
      """SELECT lang, source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        | CAST(GROUPING(source) AS BIGINT) AS g_source
        |FROM documents
        |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())""".stripMargin,
    // DML oracles recompute the post-mutation state in pure SQL
    "q_sql_update" ->
      """SELECT lang, count(*) AS n,
        | CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 + 1
        |   ELSE n_chars END) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "q_sql_delete" ->
      """SELECT lang, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE NOT (n_chars < 100 AND lang <> 'en')
        |GROUP BY lang""".stripMargin,
    "q_sql_update_from" ->
      """SELECT n_nationkey,
        | CASE WHEN r_regionkey IS NOT NULL
        |  THEN CONCAT(r_name, ':', n_name) ELSE n_name END AS n_name,
        | n_regionkey
        |FROM nation LEFT JOIN region
        | ON n_regionkey = r_regionkey AND r_regionkey < 3
        |ORDER BY n_nationkey""".stripMargin,
    "q_sql_delete_using" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_custkey NOT IN
        | (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_sql_alter" ->
      """SELECT lang, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | CAST(sum(CASE WHEN lang = 'en' THEN n_chars % 2 END) AS BIGINT)
        |   AS n_flag
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_natural" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q_sql_calendar3" ->
      """SELECT o_orderkey,
        | strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS ts,
        | last_day(CAST(o_orderdate AS DATE)) AS eom,
        | make_date(CAST(year(o_orderdate) AS INT), 12, 31) AS eoy
        |FROM orders WHERE o_orderkey < 200
        |ORDER BY o_orderkey""".stripMargin,
    // runtime metrics ARE semantic counts for a deterministic query —
    // the oracle recomputes both as plain COUNTs from the parquet
    "q_sql_explain_analyze" ->
      """SELECT 'result' AS node,
        |  count(DISTINCT o_orderstatus) AS n_rows
        |FROM orders WHERE o_orderkey < 1000
        |UNION ALL
        |SELECT 'where' AS node, count(*) AS n_rows
        |FROM orders WHERE o_orderkey < 1000""".stripMargin,
    "q_sql_agg_case" ->
      """SELECT o_orderstatus,
        | CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        | CAST(SUM(o_orderkey % 10) AS BIGINT) AS key_digit_sum,
        | MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN o_orderkey ELSE 0 END) AS max_high_key,
        | SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) * 100 / COUNT(*) AS urgent_pct
        |FROM orders GROUP BY o_orderstatus
        |HAVING SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) > 0
        |ORDER BY o_orderstatus""".stripMargin,
    "q_sql_sample" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE ((o_orderkey % 1000000007 + 1000000007) * 2654435761)
        |  % 1000000007 % 100 < 10
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_sql_winnow" -> graft.operators.TextAnalysis.oracles("q_winnow"),
    "q_sql_minhash" -> graft.operators.Dedup.oracles("q_minhash_lsh"),
    "q_sql_es_stratified" ->
      graft.operators.Sampling.oracles("q_es_stratified"),
    // the planted-contract replay (the q_semdedup oracle pattern): every
    // count derives from the raw embeddings parquet — the clone lands in
    // its original's cell and is always pruned, for ANY clustering
    "q_sql_semdedup" ->
      """SELECT count(*) AS n_corpus,
        | count(*) FILTER (WHERE vec_id % 37 = 0) AS n_planted,
        | count(*) FILTER (WHERE vec_id % 37 = 0) AS same_cluster,
        | count(*) FILTER (WHERE vec_id % 37 = 0) AS pruned
        |FROM embeddings""".stripMargin,
    "q_sql_share" ->
      """SELECT st, pr, n,
        | ROUND(n * 1.0 / st_tot, 6) AS share_in_status,
        | ROUND(n * 1.0 / tot, 6) AS share_total
        |FROM (SELECT st, pr, n,
        |  SUM(n) OVER (PARTITION BY st) AS st_tot,
        |  SUM(n) OVER () AS tot
        | FROM (SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |   COUNT(*) AS n
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority) g) t
        |ORDER BY st, pr""".stripMargin,
    "q_sql_ctas" ->
      """SELECT source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,
    "q_sql_insert_select" ->
      """WITH big AS (
        | SELECT n_chars FROM documents WHERE n_chars >= 300
        | UNION ALL
        | SELECT n_chars FROM documents WHERE lang = 'zh')
        |SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM big""".stripMargin,
    "q_sql_merge" ->
      """WITH tgt AS (
        | SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
        |src AS (
        | SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0),
        |merged AS (
        | SELECT CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars + 1
        |   ELSE t.n_chars END AS n_chars
        | FROM tgt t LEFT JOIN src s ON t.doc_id = s.doc_id
        | UNION ALL
        | SELECT s.n_chars FROM src s LEFT JOIN tgt t ON s.doc_id = t.doc_id
        | WHERE t.doc_id IS NULL)
        |SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM merged""".stripMargin,
    "q_sql_insert_values" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), 10, 'alpha'),
        | (CAST(2 AS BIGINT), 20, 'beta'),
        | (CAST(3 AS BIGINT), NULL, 'gamma'),
        | (CAST(4 AS BIGINT), 65535, NULL)
        |) AS t(k, v, tag)""".stripMargin,
    "q_sql_set_precedence" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |UNION SELECT doc_id FROM documents WHERE lang = 'de'
        |EXCEPT SELECT doc_id FROM documents WHERE n_chars > 150
        |INTERSECT SELECT doc_id FROM documents WHERE source = 'src0'""".stripMargin,
    "q_sql_rollup" ->
      """SELECT lang, source, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin,
    "q_sql_window_named" ->
      """SELECT doc_id, source, n_chars,
        | CAST(row_number() OVER w AS INTEGER) AS rn,
        | CAST(sum(n_chars) OVER w AS BIGINT) AS run_chars,
        | min(n_chars) OVER w AS min_so_far
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY doc_id)
        |ORDER BY source, doc_id""".stripMargin,
    "q_sql_having_sub" ->
      """SELECT source, count(*) AS n FROM documents
        |GROUP BY source
        |HAVING count(*) * 25 > (SELECT count(*) FROM documents)
        |ORDER BY source""".stripMargin,
    "q_sql_cube" ->
      """SELECT lang, source, count(*) AS n
        |FROM documents WHERE n_chars >= 100
        |GROUP BY CUBE(lang, source)""".stripMargin,
    "q_sql_case_simple" ->
      """SELECT CASE lang WHEN 'en' THEN 'latin' WHEN 'fr' THEN 'latin'
        |  WHEN 'zh' THEN 'cjk' ELSE 'other' END AS script,
        | count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY script""".stripMargin,
    // DuckDB runs the correlated EXISTS natively — the oracle is the
    // same ANSI text the dialect parses
    "q_sql_exists" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        | AND NOT EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "q_sql_exists_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              JOIN lineitem ON o_orderkey = l_orderkey
        |              WHERE o_custkey = c_custkey
        |                AND l_quantity >= 49 AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    // ANSI spelling (aggregate in HAVING) — same groups, same pruning
    "q_sql_exists_group" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE EXISTS (SELECT count(*) FROM orders
        |              WHERE o_custkey = c_custkey
        |              GROUP BY o_orderpriority HAVING count(*) >= 3)
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_corr_arith" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE (SELECT count(*) FROM orders
        |       WHERE o_custkey = c_custkey) * 10 >= 120
        |  AND (SELECT count(*) FROM orders
        |       WHERE o_custkey = c_custkey AND o_orderstatus = 'O') + 5
        |      <= (SELECT count(*) FROM orders
        |          WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_window_frame" ->
      """SELECT source, doc_id, n_chars,
        | avg(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3,
        | CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_sum
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "q_sql_group_expr" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n_orders
        |FROM orders GROUP BY year(o_orderdate)""".stripMargin,
    "q_sql_datediff" ->
      """SELECT o_orderpriority,
        | CAST(MIN(lat) AS BIGINT) AS min_days,
        | CAST(MAX(lat) AS BIGINT) AS max_days,
        | CAST(SUM(lat) AS BIGINT) AS total_days,
        | COUNT(*) AS n
        |FROM (SELECT o_orderpriority,
        |   GREATEST(date_diff('day', CAST(o_orderdate AS DATE),
        |     CAST(l_shipdate AS DATE)), 0) AS lat
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey) t
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_sql_json" ->
      """SELECT event_id, event_type,
        | CAST(json_extract(props, '$.k') AS INTEGER) AS k_num,
        | json_extract_string(props, '$.k') AS k_text,
        | json_extract_string(props, '$.missing') AS miss,
        | json_extract_string(CONCAT('{"t":"', event_type, '"}'),
        |   '$.t') AS t_rt
        |FROM events
        |WHERE CAST(json_extract(props, '$.k') AS INTEGER) % 10 = 0
        |ORDER BY event_id""".stripMargin,
    "q_sql_unnest" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term
        | FROM documents),
        |cnt AS (
        | SELECT doc_id, COUNT(*) AS n_terms FROM tok GROUP BY doc_id)
        |SELECT c.doc_id, c.n_terms,
        | len(string_split(d.text, ' ')) AS n_len
        |FROM cnt c JOIN documents d ON c.doc_id = d.doc_id
        |ORDER BY 1""".stripMargin,
    "q_sql_try_cast" ->
      """SELECT doc_id,
        | TRY_CAST(source AS INTEGER) AS src_num,
        | TRY_CAST(lang AS DOUBLE) AS lang_num,
        | TRY_CAST(CAST(n_chars AS VARCHAR) AS INTEGER) AS rt,
        | CAST(n_chars AS DOUBLE) / NULLIF(doc_id % 3, 0) AS gdiv
        |FROM documents WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin,
    "q_sql_ilike" ->
      """SELECT doc_id, source FROM documents
        |WHERE source ILIKE 'SRC1%' AND doc_id < 400
        | AND source NOT ILIKE '%9'
        |ORDER BY doc_id""".stripMargin,
    "q_sql_exclude" ->
      """SELECT * EXCLUDE (text) FROM documents
        |WHERE doc_id < 250 ORDER BY doc_id""".stripMargin,
    "q_sql_array2" ->
      """SELECT doc_id,
        | list_contains(string_split(text, ' '), 'the') AS has_the,
        | list_extract(string_split(text, ' '), 3) AS w3,
        | list_extract(string_split(text, ' '), 100000) AS w_oob,
        | array_to_string(string_split(text, ' '), '|') AS joined
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "q_sql_values" ->
      """SELECT s, w, COUNT(*) AS n
        |FROM (VALUES ('en', 1), ('de', 2), ('fr', 3)) v(s, w)
        |JOIN documents ON s = lang
        |GROUP BY s, w ORDER BY s""".stripMargin,
    "q_sql_group_all" ->
      """SELECT lang, source, COUNT(*) AS n,
        | CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id < 2000
        |GROUP BY ALL ORDER BY ALL""".stripMargin,
    "q_sql_distinct_on" ->
      """SELECT DISTINCT ON (lang) lang, doc_id, n_chars
        |FROM documents ORDER BY lang, doc_id""".stripMargin,
    "q_sql_arg_max" ->
      """SELECT lang, arg_max(source, doc_id) AS last_src,
        | arg_min(source, doc_id) AS first_src,
        | any_value(lang) AS l2, COUNT(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_replace_star" ->
      """SELECT * EXCLUDE (text) REPLACE (n_chars * 2 AS n_chars)
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin,
    "q_sql_nth_value" ->
      """SELECT doc_id, lang,
        | NTH_VALUE(n_chars, 3) OVER (PARTITION BY lang
        |   ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS third_chars
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    "q_sql_profile" ->
      """WITH t AS (SELECT count(*) AS n_rows FROM documents)
        |SELECT * FROM (
        | SELECT 'doc_id' AS column_name, n_rows,
        |  (SELECT count(*) FROM documents WHERE doc_id IS NULL) AS n_null,
        |  (SELECT count(DISTINCT doc_id) FROM documents) AS n_distinct FROM t
        | UNION ALL
        | SELECT 'text', n_rows,
        |  (SELECT count(*) FROM documents WHERE text IS NULL),
        |  (SELECT count(DISTINCT text) FROM documents) FROM t
        | UNION ALL
        | SELECT 'lang', n_rows,
        |  (SELECT count(*) FROM documents WHERE lang IS NULL),
        |  (SELECT count(DISTINCT lang) FROM documents) FROM t
        | UNION ALL
        | SELECT 'source', n_rows,
        |  (SELECT count(*) FROM documents WHERE source IS NULL),
        |  (SELECT count(DISTINCT source) FROM documents) FROM t
        | UNION ALL
        | SELECT 'n_chars', n_rows,
        |  (SELECT count(*) FROM documents WHERE n_chars IS NULL),
        |  (SELECT count(DISTINCT n_chars) FROM documents) FROM t)
        |ORDER BY column_name""".stripMargin,
    "q_sql_strftime" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
        | strftime(o_orderdate, '%Y/%m/%d') AS ymd,
        | strftime(o_orderdate, '%j') AS doy
        |FROM orders WHERE o_orderkey < 400
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_asof" ->
      """WITH e AS (
        | SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type, value
        | FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ms AS click_ms FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ms AS purchase_ms, max(value) AS purchase_value
        |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.user_id, c.click_id, c.click_ms,
        |       p.purchase_ms, p.purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.click_ms >= p.purchase_ms
        |ORDER BY click_id""".stripMargin,
    "q_sql_series" ->
      """WITH monthly AS (
        | SELECT MONTH(o_orderdate) AS mth, COUNT(*) AS n_orders
        | FROM orders WHERE YEAR(o_orderdate) = 1995
        |   AND o_orderpriority = '1-URGENT'
        |   AND o_totalprice > 350000
        | GROUP BY 1)
        |SELECT g.generate_series AS month,
        | COALESCE(m.n_orders, 0) AS n_orders
        |FROM generate_series(1, 12) g
        |LEFT JOIN monthly m ON g.generate_series = m.mth
        |ORDER BY 1""".stripMargin,
    "q_sql_using" ->
      """WITH embeds AS (SELECT vec_id AS doc_id, label FROM embeddings)
        |SELECT doc_id, LTRIM(CONCAT('  ', lang)) AS lang,
        | RTRIM(CONCAT(source, ' ')) AS source, label
        |FROM documents JOIN embeds USING (doc_id)
        |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "q_sql_lateral" ->
      """SELECT c.c_custkey AS ck, l.price AS price
        |FROM customer c, LATERAL (
        |  SELECT o_totalprice AS price FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |WHERE c.c_custkey < 100
        |ORDER BY ck, price DESC""".stripMargin,
    "q_sql_view" ->
      """WITH big_orders AS (
        | SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        | WHERE o_totalprice > 400000)
        |SELECT o_custkey, COUNT(*) AS n_big,
        | MAX(o_totalprice) AS top
        |FROM big_orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 2 ORDER BY o_custkey""".stripMargin,
    "q_sql_exclude_row" ->
      """SELECT source, doc_id, n_chars,
        | CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |   EXCLUDE CURRENT ROW) AS BIGINT) AS peer_chars,
        | COUNT(*) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |   EXCLUDE CURRENT ROW) AS peer_n,
        | AVG(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |   EXCLUDE CURRENT ROW) AS peer_avg
        |FROM documents WHERE doc_id < 400
        |ORDER BY doc_id""".stripMargin,
    "q_sql_fuzzy" ->
      """SELECT doc_id,
        | CAST(levenshtein(lang, source) AS BIGINT) AS lv,
        | regexp_extract(text, '^(\w+) (\w+)', 2) AS w2,
        | translate(lang, 'en', 'EN') AS lang_t,
        | CAST(json_array_length(CONCAT('["', REPLACE(lang, 'e', '","'),
        |   '"]')) AS BIGINT) AS jl
        |FROM documents WHERE doc_id < 150
        |ORDER BY doc_id""".stripMargin,
    "q_sql_semi_anti" ->
      """SELECT c.c_custkey AS k, 'has_orders' AS grp
        |FROM customer c SEMI JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE c.c_custkey < 50
        |UNION ALL
        |SELECT c.c_custkey AS k, 'no_orders' AS grp
        |FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin,
    "q_sql_interval_frame" ->
      """SELECT o_orderkey, o_orderpriority,
        | COUNT(*) OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_orderdate
        |   RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS n7
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_columns" ->
      """SELECT COLUMNS('_order') FROM orders
        |WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,
    "q_sql_pivot" ->
      """PIVOT lineitem ON l_returnflag IN ('R', 'A', 'N')
        |USING SUM(l_quantity) GROUP BY l_linestatus""".stripMargin,
    "q_sql_unpivot" ->
      """WITH pstats AS (
        | SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high
        | FROM orders GROUP BY 1)
        |UNPIVOT pstats ON urgent, high INTO NAME priority VALUE n""".stripMargin,
    "q_sql_array_agg" ->
      """SELECT o_orderstatus, array_to_string(ks, ',') AS ks
        |FROM (SELECT o_orderstatus,
        |  array_agg(o_orderkey ORDER BY o_orderkey) AS ks
        | FROM orders WHERE o_orderkey < 100
        | GROUP BY o_orderstatus) t
        |ORDER BY o_orderstatus""".stripMargin,
    "q_sql_cross" ->
      """SELECT r.r_name AS rn, n.n_name AS nn
        |FROM region r CROSS JOIN nation n
        |WHERE n.n_nationkey < 5
        |ORDER BY rn, nn""".stripMargin,
    "q_sql_any_all" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice >= ALL
        |   (SELECT o_totalprice FROM orders
        |    WHERE YEAR(o_orderdate) = 1995)
        |  OR o_totalprice < ANY
        |   (SELECT o_totalprice FROM orders
        |    WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 5000)
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_greatest" ->
      """SELECT doc_id,
        | GREATEST(n_chars, 300) AS floor300,
        | LEAST(n_chars, 300) AS cap300,
        | GREATEST(n_chars, doc_id, 100) AS g3
        |FROM documents WHERE doc_id < 150
        |ORDER BY doc_id""".stripMargin,
    "q_sql_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        | COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_sql_math" ->
      """SELECT o_orderkey,
        | ROUND(SQRT(o_totalprice), 6) AS sq,
        | ROUND(LN(o_totalprice), 6) AS lg,
        | ROUND(ABS(EXP(LN(o_totalprice)) - o_totalprice), 3) AS rt,
        | ROUND(ABS(POWER(o_totalprice, 0.5) - SQRT(o_totalprice)), 6) AS zz,
        | CAST(SIGN(o_totalprice - 100000) AS INTEGER) AS s
        |FROM orders WHERE o_orderkey < 300
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_regex" ->
      """SELECT doc_id,
        | REGEXP_REPLACE(source, '[0-9]+', '#', 'g') AS src_n,
        | REGEXP_MATCHES(source, '1[0-9]') AS is_teens,
        | REVERSE(source) AS rsrc,
        | REPEAT(source, 2) AS s2,
        | MD5(source) AS h,
        | ASCII(source) AS a,
        | CHR(CAST(65 + doc_id % 26 AS INTEGER)) AS letter
        |FROM documents WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin,
    "q_sql_filter_agg" ->
      """SELECT l_returnflag,
        | COUNT(*) AS n_all,
        | COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
        | SUM(l_quantity) FILTER (WHERE l_discount >= 0.05) AS qty_disc,
        | MAX(l_extendedprice) FILTER (WHERE l_tax > 0.03) AS max_taxed,
        | COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity = 1) AS n_supp_q1
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_sql_ignore_nulls" ->
      """SELECT doc_id, v,
        | LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY source
        |   ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
        |FROM (SELECT doc_id, source,
        |   CASE WHEN n_chars % 3 = 0 THEN n_chars ELSE NULL END AS v
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q_sql_epoch" ->
      """SELECT o_orderkey,
        | CAST(EXTRACT(EPOCH FROM o_orderdate) AS BIGINT) AS secs
        |FROM orders WHERE o_orderkey < 300
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_extract" ->
      """SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
        | EXTRACT(QUARTER FROM o_orderdate) AS qtr,
        | EXTRACT(MONTH FROM o_orderdate) AS mo,
        | COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY 1, 2, 3
        |ORDER BY yr, qtr, mo""".stripMargin,
    "q_sql_interval" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due30,
        | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS due_q,
        | CAST(o_orderdate + INTERVAL 1 YEAR AS DATE) AS due_y,
        | CAST(o_orderdate + INTERVAL 6 HOUR AS VARCHAR) AS plus6h
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_in_tuple" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority
        |FROM orders
        |WHERE (o_orderstatus, o_orderpriority)
        |  IN (('F', '1-URGENT'), ('O', '5-LOW'), ('P', '3-MEDIUM'))
        |  AND o_orderkey < 2000
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_like_escape" ->
      """SELECT doc_id, tag FROM (
        | SELECT doc_id,
        |  CONCAT('pct_', CAST(doc_id % 10 AS VARCHAR), '%_t') AS tag
        | FROM documents) t
        |WHERE tag LIKE 'pct!_5!%!_t' ESCAPE '!'
        |   OR tag NOT LIKE '%!%%' ESCAPE '!'
        |ORDER BY doc_id""".stripMargin,
    "q_sql_nulls_order" ->
      """SELECT 'nulls_first' AS leg, doc_id, nl FROM (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN NULL ELSE lang END AS nl
        |  FROM documents WHERE doc_id < 200
        |  ORDER BY nl DESC NULLS FIRST, doc_id LIMIT 10) a
        |UNION ALL
        |SELECT 'nulls_last' AS leg, doc_id, nl FROM (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN NULL ELSE lang END AS nl
        |  FROM documents WHERE doc_id < 200
        |  ORDER BY nl DESC NULLS LAST, doc_id LIMIT 10) b""".stripMargin,
    "q_sql_bool_agg" ->
      """SELECT lang,
        | BOOL_AND(big) AS all_big,
        | BOOL_OR(big) AS any_big,
        | COUNT(*) AS n
        |FROM (SELECT lang,
        |   CASE WHEN n_chars > 300 THEN TRUE ELSE FALSE END AS big
        |  FROM documents) t
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_stddev" ->
      """SELECT lang, COUNT(*) AS n,
        | ROUND(STDDEV(n_chars), 6) AS sd_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_set_all" ->
      """SELECT lang FROM documents WHERE n_chars >= 300
        |EXCEPT ALL SELECT lang FROM documents WHERE n_chars < 300""".stripMargin,
    "q_sql_qualify" ->
      """SELECT source, doc_id, n_chars,
        | CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rn
        |FROM documents
        |QUALIFY rn <= 3""".stripMargin,
    "q_sql_string_funcs2" ->
      """SELECT doc_id,
        | concat(source, '/', lang) AS src_lang,
        | lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id6,
        | left(text, 10) AS head10, right(text, 5) AS tail5,
        | CAST(strpos(text, 'table') AS INTEGER) AS pos_table,
        | split_part(text, ' ', 3) AS tok3
        |FROM documents WHERE contains(text, 'spark') = TRUE
        |ORDER BY doc_id LIMIT 100""".stripMargin,
    "q_sql_date_trunc" ->
      """SELECT CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS VARCHAR) AS mo,
        | CAST(date_part('dow', o_orderdate) AS INTEGER) AS dw, count(*) AS n
        |FROM orders GROUP BY mo, dw
        |ORDER BY mo, dw""".stripMargin,
    "q_sql_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(round(o_totalprice) AS BIGINT) AS price_i,
        | COUNT(*) OVER (PARTITION BY o_custkey ORDER BY price_i
        |   RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_near
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_sql_cume_dist" ->
      """SELECT source, doc_id, n_chars,
        | cume_dist() OVER (PARTITION BY source
        |   ORDER BY n_chars, doc_id) AS cd
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "q_sql_recursive" ->
      """WITH RECURSIVE heads AS (
        |  SELECT source, min(doc_id) AS doc_id FROM documents
        |  GROUP BY source),
        |nxt AS (
        |  SELECT source, doc_id,
        |   lead(doc_id, 1) OVER (PARTITION BY source ORDER BY doc_id) AS nd
        |  FROM documents),
        |walk AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS depth FROM heads
        |  UNION
        |  SELECT n.nd AS doc_id, w.depth + 1 AS depth
        |  FROM walk w JOIN nxt n ON w.doc_id = n.doc_id
        |  WHERE w.depth < 4 AND n.nd IS NOT NULL)
        |SELECT depth, count(*) AS n_docs FROM walk
        |GROUP BY depth ORDER BY depth""".stripMargin,
    "q_sql_having_agg" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang
        |HAVING count(*) >= 20 AND sum(n_chars) / count(*) > 250""".stripMargin,
    "q_sql_order_expr" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY abs(n_chars - 300), doc_id LIMIT 50""".stripMargin,
    "q_sql_string_funcs" ->
      """SELECT doc_id, upper(lang) AS lang_uc,
        | CAST(length(text) AS INTEGER) AS n_len,
        | substr(text, 1, 20) AS head20
        |FROM documents WHERE length(text) > 300
        |ORDER BY doc_id LIMIT 100""".stripMargin,
    "q_sql_count_distinct" ->
      """SELECT source, count(DISTINCT lang) AS n_langs, count(*) AS n,
        | count(*) / count(DISTINCT lang) AS docs_per_lang
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_sql_dedup" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""".stripMargin,
    "q_sql_neardup" ->
      s"""WITH ${graft.operators.Dedup.wordPairCtes}
         |SELECT id_a, id_b,
         | inter * 1.0 / (ca.n + cb.n - inter) AS jaccard
         |FROM p
         |JOIN cnt ca ON id_a = ca.doc_id
         |JOIN cnt cb ON id_b = cb.doc_id
         |WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5""".stripMargin,
    "q_sql_knn" ->
      """SELECT vec_id,
        | round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    // brute-force replay of the same radius over the portable simhash —
    // the pruned partition scan must lose nothing (the q_metric_index
    // proof, now for the SQL/HTTP surface)
    "q_sql_metric_search" ->
      s"""WITH ${graft.operators.Dedup.simhashCtes},
         |d AS (SELECT doc_id,
         |   CAST(bit_count(xor(simhash,
         |     (SELECT simhash FROM sh64 WHERE doc_id = 0))) AS INTEGER) AS dist
         |  FROM sh64)
         |SELECT doc_id, dist FROM d WHERE dist <= 2""".stripMargin,
    // brute-force k-NN replay: same ranking (dist, then hash), same k —
    // the pruned radius-doubling scan must select the same multiset
    "q_sql_metric_knn" ->
      s"""WITH ${graft.operators.Dedup.simhashCtes},
         |d AS (SELECT doc_id, simhash AS h,
         |   CAST(bit_count(xor(simhash,
         |     (SELECT simhash FROM sh64 WHERE doc_id = 0))) AS INTEGER) AS dist
         |  FROM sh64)
         |SELECT h, dist FROM d ORDER BY dist, h LIMIT 10""".stripMargin,
    // complete replay of the deterministic IVF path: lowest-8-id
    // centroids, argmax assignment with the cid tie-break, probe cell,
    // in-cell top-10 (the q_ann_ivf oracle parameterized by the
    // LIMIT-8 centroid set)
    "q_sql_ann_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |      WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
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
    // r16: the nprobe=2 replay — same IVF contract as q_sql_ann_search,
    // with cell routing ranked by cosine(centroid, probe) DESC, cid ASC
    // (exactly the engine's rule) and membership widened to the 2 cells
    "q_sql_ann_nprobe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |      WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
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
        |cells AS (
        | SELECT c.cid FROM c, p
        | ORDER BY list_cosine_similarity(c.cv, p.pv) DESC, c.cid ASC
        | LIMIT 2)
        |SELECT a.vec_id,
        | round(list_cosine_similarity(a.v, p.pv), 6) AS sim
        |FROM a, p WHERE a.cid IN (SELECT cid FROM cells)
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,
    // r17: DuckDB runs the identical ::-cast text
    "q_sql_cast_op" ->
      """SELECT o_orderkey,
        | o_orderkey::VARCHAR AS key_str,
        | o_custkey::DOUBLE AS cust_d,
        | (o_orderkey % 7)::VARCHAR || '-' || o_orderstatus AS tag,
        | -o_custkey::BIGINT AS neg_cust,
        | +o_custkey AS pos_cust
        |FROM orders WHERE o_orderkey::BIGINT <= 100
        |ORDER BY o_orderkey""".stripMargin,
    // r17: DuckDB runs the identical ANSI-string-spellings text
    "q_sql_ansi_str" ->
      """SELECT o_orderkey, o_orderpriority,
        | SUBSTRING(o_orderpriority FROM 3 FOR 6) AS tag,
        | SUBSTRING(o_orderpriority, 2, 3) AS tag2,
        | SUBSTRING(o_orderpriority FROM 3) AS tail_txt,
        | CAST(POSITION('-' IN o_orderpriority) AS BIGINT) AS dash_at,
        | TRIM(BOTH '15LOWURGENT-' FROM o_orderpriority) AS trim_both,
        | TRIM(LEADING '0123456789-' FROM o_orderpriority) AS trim_lead,
        | TRIM(TRAILING 'DEIFCPSLOW ' FROM o_orderpriority) AS trim_trail
        |FROM orders
        |WHERE o_orderkey <= 300 AND POSITION('E' IN o_orderpriority) > 0
        |ORDER BY o_orderkey""".stripMargin,
    // r17: DuckDB runs the identical null-safe-comparison + ANSI
    // pagination text (the NULL pr rows prove two-valued semantics)
    "q_sql_is_distinct" ->
      """SELECT o_orderkey, o_orderstatus, pr
        |FROM (SELECT o_orderkey, o_orderstatus,
        |       NULLIF(o_orderpriority, '1-URGENT') AS pr FROM orders) t
        |WHERE pr IS DISTINCT FROM '5-LOW'
        |  AND o_orderstatus IS NOT DISTINCT FROM 'O'
        |ORDER BY o_orderkey
        |OFFSET 10 ROWS FETCH FIRST 25 ROWS ONLY""".stripMargin,
    // r17: DuckDB runs the identical regression-aggregate text
    "q_sql_regr" ->
      """SELECT l_returnflag,
        | ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope,
        | ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 6) AS icept,
        | ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
        | CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
        | ROUND(REGR_AVGX(l_extendedprice, l_quantity), 6) AS avg_x,
        | ROUND(REGR_AVGY(l_extendedprice, l_quantity), 6) AS avg_y
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // r17: DuckDB runs the identical bitwise-aggregate text
    "q_sql_bit_agg" ->
      """SELECT o_orderpriority,
        | BIT_AND(o_custkey) AS band,
        | BIT_OR(o_custkey) AS bor,
        | BIT_XOR(o_custkey) AS bxor,
        | BIT_XOR(o_custkey) FILTER (WHERE o_orderstatus = 'F') AS bxor_f
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // r17: DuckDB runs the identical windowed-FILTER text
    "q_sql_window_filter" ->
      """SELECT o_orderkey, o_orderstatus,
        | COUNT(*) FILTER (WHERE o_orderstatus = 'F')
        |   OVER (PARTITION BY o_custkey) AS n_f,
        | CAST(SUM(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0)
        |   OVER (PARTITION BY o_custkey) AS BIGINT) AS even_sum,
        | MAX(o_totalprice) FILTER (WHERE o_orderstatus != 'P')
        |   OVER (PARTITION BY o_custkey) AS max_np
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin,
    // r17: DuckDB's own mode() is tie-arbitrary, so the replay composes
    // the dialect's defined contract explicitly: count DESC, value ASC
    "q_sql_mode" ->
      """WITH counts AS (
        | SELECT o_orderstatus, o_orderpriority AS v, count(*) AS c
        | FROM orders WHERE o_orderpriority IS NOT NULL
        | GROUP BY o_orderstatus, o_orderpriority),
        |ranked AS (
        | SELECT o_orderstatus, v,
        |  row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY c DESC, v ASC) AS rn
        | FROM counts)
        |SELECT r.o_orderstatus, r.v AS mode_pr, t.n
        |FROM ranked r JOIN (SELECT o_orderstatus, count(*) AS n
        |                    FROM orders GROUP BY o_orderstatus) t
        | USING (o_orderstatus)
        |WHERE rn = 1
        |ORDER BY o_orderstatus""".stripMargin,
    // r17: DuckDB runs the identical dispersion-tier text
    "q_sql_dispersion" ->
      """SELECT l_returnflag,
        | ROUND(CORR(l_extendedprice, l_quantity), 6) AS r_corr,
        | ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 6) AS cov_s,
        | ROUND(COVAR_POP(l_extendedprice, l_quantity), 6) AS cov_p,
        | ROUND(VAR_SAMP(l_quantity), 6) AS var_s,
        | ROUND(VAR_POP(l_quantity), 6) AS var_p,
        | ROUND(STDDEV_POP(l_quantity), 6) AS sd_p
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // r17: DuckDB's skewness/kurtosis ARE the sample-corrected
    // statistics the dialect defines — identical text
    "q_sql_skew_kurt" ->
      """SELECT o_orderstatus,
        | ROUND(SKEWNESS(o_totalprice), 6) AS skew,
        | ROUND(KURTOSIS(o_totalprice), 6) AS kurt,
        | COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // r17: the replay spells the dialect's defined order explicitly
    // (ascending by the aggregated value, the STRING_AGG convention)
    "q_sql_listagg" ->
      """SELECT o_orderstatus,
        | listagg(o_orderpriority, ',' ORDER BY o_orderpriority) AS lg,
        | COUNT(*) AS n
        |FROM orders WHERE o_orderkey <= 30
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // r17: DuckDB runs the identical ordered-set percentile text
    "q_sql_within_group" ->
      """SELECT o_orderstatus,
        | PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
        | PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        | MEDIAN(o_totalprice) AS med
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // r17: the oracle is the SUBSTITUTED text — EXECUTE's contract
    "q_sql_prepare" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_totalprice > 400000 AND o_orderstatus = 'O'
        |ORDER BY o_orderkey LIMIT 20""".stripMargin,
    // r16: every row/char/lang must survive each format's SQL COPY
    // round trip (the q_io_roundtrip frame)
    "q_sql_copy" ->
      """WITH a AS (
        | SELECT count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT lang) AS n_langs
        | FROM documents)
        |SELECT f.format, n_rows, total_chars, n_langs
        |FROM a CROSS JOIN
        | (SELECT unnest(['csv','json','parquet']) AS format) f
        |UNION ALL
        |SELECT 'query' AS format, count(*) AS n_rows,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | count(DISTINCT lang) AS n_langs
        |FROM documents WHERE n_chars >= 300
        |ORDER BY format""".stripMargin,
    // r16: DuckDB runs the identical typed-literal text
    "q_sql_date_literal" ->
      """SELECT o_orderstatus, count(*) AS n,
        | min(o_orderkey) AS first_key
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // r16: identical DISTINCT-aggregate text in DuckDB; AVG(DISTINCT)'s
    // double division matches sum/count over the deduped set exactly
    // (bigint sums stay under 2^53)
    "q_sql_sum_distinct" ->
      """SELECT o_orderstatus,
        | CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sum_dc,
        | AVG(DISTINCT o_custkey) AS avg_dc,
        | MIN(DISTINCT o_custkey) AS min_dc,
        | MAX(DISTINCT o_custkey) AS max_dc,
        | COUNT(DISTINCT o_custkey) AS n_dc
        |FROM orders GROUP BY o_orderstatus
        |HAVING SUM(DISTINCT o_custkey) > 0
        |ORDER BY o_orderstatus""".stripMargin,
    // r16: DuckDB runs the same libm tier; round(…,6) absorbs last-bit
    // IEEE differences (the §5 float discipline)
    "q_sql_math2" ->
      """SELECT o_orderkey,
        | ROUND(SIN(o_orderkey % 7), 6) AS v_sin,
        | ROUND(COS(o_orderkey % 7), 6) AS v_cos,
        | ROUND(TAN(o_orderkey % 3), 6) AS v_tan,
        | ROUND(ATAN2(o_orderkey % 5, 3), 6) AS v_atan2,
        | ROUND(LOG10(o_orderkey + 1), 6) AS v_log10,
        | ROUND(LOG2(o_orderkey + 1), 6) AS v_log2,
        | ROUND(CBRT(o_orderkey), 6) AS v_cbrt,
        | ROUND(RADIANS(o_orderkey % 360), 6) AS v_rad,
        | ROUND(DEGREES(o_orderkey % 7), 6) AS v_deg,
        | STARTS_WITH(o_orderpriority, '1') AS is_urgent,
        | ENDS_WITH(o_orderpriority, 'LOW') AS is_low
        |FROM orders
        |WHERE o_orderkey <= 200 AND ENDS_WITH(o_orderstatus, 'O') = TRUE
        |ORDER BY o_orderkey""".stripMargin,
    // r16: the DuckDB replay spells tuple distinct as row values; the
    // testdata keys are non-null, so any-null-skip parity is trivial.
    // The FILTER leg replays as count(DISTINCT CASE WHEN …) — row-value
    // distinct + FILTER trips a DuckDB internal assertion, and the
    // CASE's NULL-on-nonmatch is exactly the FILTER fold.
    "q_sql_count_distinct_multi" ->
      """SELECT o_orderstatus,
        | count(DISTINCT (o_custkey, o_orderpriority)) AS n_pairs,
        | count(DISTINCT o_custkey) AS n_cust,
        | count(DISTINCT CASE WHEN o_orderkey % 2 = 0
        |   THEN (o_custkey, o_orderpriority) END) AS n_pairs_even
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // r17: DuckDB runs the identical lexical-tier text — comments, `||`
    // in the grouped key, exponent literals, the quoted alias, unary minus
    "q_sql_lexical" ->
      """-- r17 lexical tier: first-contact dialect surface
        |SELECT l_returnflag || '/' || l_linestatus AS "flag status",
        | COUNT(*) AS n, /* concatenated grouping key */
        | CAST(SUM(l_quantity) AS BIGINT) AS qty,
        | ROUND(-MIN(-l_quantity), 0) AS max_qty
        |FROM lineitem
        |WHERE l_quantity >= 1e1 AND -l_extendedprice <= -2.5e3
        |GROUP BY "flag status"
        |ORDER BY "flag status"""".stripMargin,
    // r17: DuckDB runs the identical IGNORE-NULLS navigation text
    "q_sql_lag_ignore" ->
      """SELECT o_orderkey, v,
        | LAG(v, 1 IGNORE NULLS) OVER (
        |   PARTITION BY o_orderstatus ORDER BY o_orderkey) AS prev_seen,
        | LEAD(v, 2 IGNORE NULLS) OVER (
        |   PARTITION BY o_orderstatus ORDER BY o_orderkey) AS next2_seen
        |FROM (SELECT o_orderkey, o_orderstatus,
        |       CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |            ELSE o_custkey END AS v
        |      FROM orders) t
        |ORDER BY o_orderkey""".stripMargin,
    // r17: the null-semantics replay — DuckDB's row-value distinct WOULD
    // count any-null rows, so both legs compose the skip explicitly
    // (CASE yields NULL on a null-carrying row, and count skips NULLs;
    // row-value distinct + FILTER trips a DuckDB internal assertion, so
    // the FILTER leg replays through the same CASE shape)
    "q_sql_count_distinct_null" ->
      """SELECT o_orderstatus,
        | count(DISTINCT CASE WHEN o_custkey IS NOT NULL AND pr IS NOT NULL
        |   THEN (o_custkey, pr) END) AS n_pairs_nn,
        | count(DISTINCT CASE WHEN pr IS NOT NULL
        |   AND o_custkey IS NOT NULL
        |   THEN (o_custkey, pr) END) AS n_pairs_filtered,
        | count(*) AS n_rows
        |FROM (SELECT o_orderstatus, o_custkey,
        |       NULLIF(o_orderpriority, '1-URGENT') AS pr
        |      FROM orders) t
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // r17: the 16-cell layout replay — same IVF contract as
    // q_sql_ann_nprobe with the centroid set widened to the 16 lowest-id
    // vectors and membership over the 2 nearest cells
    "q_sql_ann_cells" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |      WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
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
        |cells AS (
        | SELECT c.cid FROM c, p
        | ORDER BY list_cosine_similarity(c.cv, p.pv) DESC, c.cid ASC
        | LIMIT 2)
        |SELECT a.vec_id,
        | round(list_cosine_similarity(a.v, p.pv), 6) AS sim
        |FROM a, p WHERE a.cid IN (SELECT cid FROM cells)
        |ORDER BY sim DESC, a.vec_id LIMIT 10""".stripMargin,
    "q_sql_quality_gate" -> graft.operators.TextAnalysis.oracles("q_gopher_flags"),
    "q_sql_left_join" ->
      """WITH oc AS (
        |  SELECT o_custkey, count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, c_name,
        | COALESCE(n_orders, 0) AS n_ord,
        | CASE WHEN COALESCE(n_orders, 0) = 0 THEN 'never'
        |      ELSE 'buyer' END AS segment
        |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_ordinal" ->
      """SELECT source, lang, count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sql_lag" ->
      """SELECT source, doc_id, n_chars,
        | lag(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS prev_chars,
        | lead(n_chars, 2) OVER (PARTITION BY source ORDER BY doc_id) AS next2_chars
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "q_sql_derived" ->
      """SELECT source, n_docs, total_chars
        |FROM (SELECT source, count(*) AS n_docs,
        |      CAST(sum(n_chars) AS BIGINT) AS total_chars
        |      FROM documents GROUP BY source) t
        |WHERE n_docs > 10 ORDER BY source""".stripMargin,
    "q_sql_langid" -> graft.operators.TextAnalysis.oracles("q_langid"),
    "q_sql_split" -> graft.operators.Sampling.oracles("q_sample_split"),
    "q_sql_ntile" ->
      """SELECT source, doc_id, n_chars,
        | CAST(ntile(4) OVER (PARTITION BY source
        |   ORDER BY n_chars, doc_id) AS INTEGER) AS quart,
        | percent_rank() OVER (PARTITION BY source
        |   ORDER BY n_chars, doc_id) AS pr
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    // DuckDB runs the correlated scalars natively — same ANSI text
    "q_sql_corr_where" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE (SELECT count(*) FROM orders
        |       WHERE o_custkey = c_custkey) >= 12
        |  AND c_acctbal * 10 > (SELECT min(o_totalprice) FROM orders
        |       WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_corr_scalar" ->
      """SELECT c_custkey, c_name,
        | (SELECT COUNT(*) FROM orders
        |  WHERE o_custkey = c_custkey) AS n_orders,
        | (SELECT MAX(o_totalprice) FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O') AS max_open
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_sql_scalar_funcs" ->
      """SELECT doc_id, round(n_chars / 3.0) AS thirds,
        | ABS(n_chars - 500) AS dev500,
        | COALESCE(NULLIF(lang, 'en'), 'base') AS alt_lang
        |FROM documents WHERE ABS(n_chars - 500) < 400
        |ORDER BY doc_id""".stripMargin,
    // the four r11 promotions run the IDENTICAL text in DuckDB — any
    // divergence in wildcard matching, precedence, range inclusivity, or
    // literal typing fails the hash
    "q_sql_like" ->
      """SELECT DISTINCT lang, source FROM documents
        |WHERE text LIKE '%table window%' AND source NOT LIKE '%1%'
        |ORDER BY lang, source""".stripMargin,
    "q_sql_bool_logic" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE (lang = 'en' OR lang = 'de')
        |  AND NOT (n_chars < 300 OR n_chars > 450)
        |  OR lang = 'zh' AND n_chars > 500
        |ORDER BY doc_id""".stripMargin,
    "q_sql_in_between" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang IN ('en', 'fr', 'es') AND lang NOT IN ('es')
        |  AND n_chars BETWEEN 200 AND 400
        |  AND doc_id NOT BETWEEN 100 AND 120
        |ORDER BY doc_id""".stripMargin,
    "q_sql_literals" ->
      """SELECT doc_id,
        | CASE WHEN n_chars > 300 THEN TRUE ELSE FALSE END AS long_doc,
        | CASE WHEN lang = 'en' THEN NULL ELSE lang END AS non_en
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin,
    // DDL/identity promotions: the oracle is the KNOWN inserted rows as
    // typed constants (same doctrine as q_sql_system_columns)
    "q_sql_create_insert" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(5 AS INTEGER), '1999', 'first', TRUE),
        | (CAST(2 AS BIGINT), CAST(0 AS INTEGER),
        |  '10000000000000000000', NULL, FALSE),
        | (CAST(3 AS BIGINT), CAST(65535 AS INTEGER), '0', 'max u16', TRUE)
        |) AS t(sku, qty, price_str, note, active)""".stripMargin,
    "q_sql_uuid" ->
      """SELECT * FROM (VALUES
        | ('0198b5a2-3c4d-7e5f-8a9b-0c1d2e3f4a5b', 'alpha'),
        | ('ffffffff-ffff-ffff-ffff-ffffffffffff', 'omega')
        |) AS t(id, label)""".stripMargin,
    "q_sql_now" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), TRUE),
        | (CAST(2 AS BIGINT), TRUE)
        |) AS t(k, clock_sane)""".stripMargin,
    "q_sql_readme" ->
      """SELECT * FROM (VALUES
        | ('https://example.com/a.png', CAST(1280 AS BIGINT),
        |  CAST(820 AS BIGINT), CAST(3 AS INTEGER))
        |) AS t(url, width, height, distance)""".stripMargin,
    // the front-end's plan promises as constants: filter pushed to the
    // parquet scan, unused text column pruned from the read
    "q_sql_explain" ->
      """SELECT TRUE AS scans_parquet, TRUE AS filter_pushed,
        | FALSE AS reads_text_col""".stripMargin,
    "q_sql_median" ->
      """SELECT lang, count(*) AS n, median(n_chars) AS med_chars,
        | max(n_chars) - min(n_chars) AS spread
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sql_running" ->
      """SELECT source, doc_id, n_chars,
        | CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
        |   AS BIGINT) AS run_chars,
        | count(*) OVER (PARTITION BY source ORDER BY doc_id) AS run_n
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "q_sql_window" ->
      """WITH r AS (
        | SELECT source, doc_id, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rn
        | FROM documents)
        |SELECT source, doc_id, n_chars, rn FROM r
        |WHERE rn <= 3 ORDER BY source, rn""".stripMargin,
    "q_sql_agg_expr" ->
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | sum(n_chars) / count(*) AS mean_chars,
        | sum(n_chars) * 100 / (SELECT sum(n_chars) FROM documents) AS pct
        |FROM documents GROUP BY source
        |HAVING sum(n_chars) / count(*) > 290 ORDER BY source""".stripMargin,
    "q_sql_arith" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1 - l_discount) AS net,
        | l_extendedprice * (1 - l_discount) * (1 + l_tax) AS gross
        |FROM lineitem
        |WHERE l_extendedprice * (1 - l_discount) > 90000 AND l_discount > 0
        |ORDER BY net DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_sql_cte" ->
      """WITH per_source AS (
        |  SELECT source AS src, count(*) AS n_docs,
        |   CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY source),
        |big AS (
        |  SELECT src, n_docs, total_chars FROM per_source
        |  WHERE total_chars > (SELECT avg(total_chars) FROM per_source))
        |SELECT src, n_docs, total_chars, avg(n_chars) AS avg_chars
        |FROM documents JOIN big ON source = src
        |GROUP BY 1, 2, 3
        |ORDER BY total_chars DESC, src""".stripMargin,
    "q_sql_distance" ->
      s"""WITH fp AS (${Similarity.fpSql})
         |SELECT doc_id, CAST(bit_count(xor(fp, 123456789)) AS INTEGER) AS dist
         |FROM fp WHERE bit_count(xor(fp, 123456789)) < 10""".stripMargin,
    "q_sql_agg" ->
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | avg(n_chars) AS avg_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY total_chars DESC, source LIMIT 5""".stripMargin,
    "q_sql_having" ->
      """SELECT lang, count(*) AS n, min(n_chars) AS min_chars
        |FROM documents GROUP BY lang HAVING count(*) >= 20 ORDER BY lang""".stripMargin,
    "q_sql_case" ->
      """SELECT CASE WHEN n_chars < 200 THEN 'short'
        |            WHEN n_chars < 400 THEN 'medium'
        |            ELSE 'long' END AS bucket,
        | count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_sql_union" ->
      """SELECT lang FROM documents WHERE source = 'src1'
        |UNION SELECT lang FROM documents WHERE source = 'src2'
        |UNION ALL SELECT lang FROM documents WHERE doc_id < 0""".stripMargin,
    "q_sql_join" ->
      """SELECT n_name, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY n_name ORDER BY n_orders DESC, n_name LIMIT 10""".stripMargin,
    "q_sql_page" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id LIMIT 20 OFFSET 40""".stripMargin,
    "q_sql_scalar_sub" ->
      """SELECT source, count(*) AS n_above, MAX(n_chars) AS max_chars
        |FROM documents
        |WHERE n_chars > (SELECT AVG(n_chars) FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_sql_in_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN
        |   (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        | AND o_custkey NOT IN
        |   (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        | AND o_totalprice > 250000
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,
    "q_http_query" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_sql_full_join" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nk, count(*) AS n_cust
        |  FROM customer GROUP BY c_nationkey),
        |sp AS (
        |  SELECT s_nationkey AS snk, count(*) AS n_supp
        |  FROM supplier WHERE s_suppkey < 30 GROUP BY s_nationkey)
        |SELECT COALESCE(nk, snk) AS nationkey,
        | COALESCE(n_cust, 0) AS n_cust,
        | COALESCE(n_supp, 0) AS n_supp,
        | CASE WHEN nk IS NULL THEN 'supplier_only'
        |      WHEN snk IS NULL THEN 'customer_only'
        |      ELSE 'both' END AS presence
        |FROM c FULL OUTER JOIN sp ON nk = snk
        |ORDER BY nationkey""".stripMargin,
    "q_sql_right_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |SELECT c_custkey, count(o_orderkey) AS n_urgent
        |FROM o RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_sql_except" ->
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |EXCEPT SELECT doc_id FROM documents WHERE n_chars < 500""".stripMargin,
    "q_sql_intersect" ->
      """SELECT source FROM documents WHERE lang = 'en'
        |INTERSECT SELECT source FROM documents WHERE n_chars < 400""".stripMargin,
    "q_sql_cast" ->
      """SELECT doc_id,
        | CAST(n_chars AS DOUBLE) / 7 AS sevenths,
        | CAST(n_chars AS VARCHAR) AS n_str,
        | CAST(CAST(n_chars AS DECIMAL(12,2)) AS VARCHAR) AS n_dec
        |FROM documents WHERE CAST(n_chars AS BIGINT) >= 200
        |ORDER BY doc_id""".stripMargin,
    "q_sql_is_null" ->
      """WITH o AS (
        |  SELECT o_custkey, count(*) AS n FROM orders
        |  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey)
        |SELECT c_custkey, c_name
        |FROM customer LEFT JOIN o ON c_custkey = o_custkey
        |WHERE n IS NULL ORDER BY c_custkey""".stripMargin,
    "q_sql_centered" ->
      """SELECT source, doc_id, n_chars,
        | avg(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS ma5
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "q_sql_first_value" ->
      """SELECT source, doc_id, n_chars,
        | first_value(n_chars) OVER (PARTITION BY source
        |   ORDER BY n_chars, doc_id) AS min_chars,
        | last_value(n_chars) OVER (PARTITION BY source
        |   ORDER BY n_chars, doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS running_max
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "q_sql_self_join" ->
      """SELECT a.c_nationkey AS nationkey, count(*) AS n_pairs
        |FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
        |WHERE b.c_custkey <= 100 AND a.c_custkey < b.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_dates" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mo,
        | count(*) AS n_orders,
        | CAST(round(max(o_totalprice) / 1000, 1) AS DOUBLE) AS top_k
        |FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1997
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
