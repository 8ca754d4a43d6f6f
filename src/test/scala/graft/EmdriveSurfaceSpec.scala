package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Io, SchemaMapper}

/** End-to-end re-expression of the reference's own workflow
  * (reference: README.md "Story" — create a photos table with a perceptual
  * hash METRIC KEY, insert rows with autogenerated ids, run a
  * Hamming-distance threshold search): A1 schema, A2 insert, A9 NOW(),
  * A10 UUID, A5 metric search — on Spark.
  */
class EmdriveSurfaceSpec extends SparkTestBase {

  test("reference story: CREATE TABLE -> INSERT -> metric threshold search") {
    GraftSession.prepare(spark)
    withTempDir("graft-story") { tmp =>
      val dir = tmp + "/photos"

      // CREATE TABLE photos (id UUID PRIMARY KEY, added TIMESTAMP,
      //   caption NULLABLE(STRING(80)), phash UINT64 METRIC KEY)
      val (name, schema) = SchemaMapper.parseCreateTable(
        """CREATE TABLE photos (
          |  id UUID PRIMARY KEY,
          |  added TIMESTAMP,
          |  caption NULLABLE(STRING(80)),
          |  phash UINT64 METRIC KEY
          |)""".stripMargin)
      assert(name == "photos")

      // INSERT INTO photos VALUES (ULID(), NOW(), caption, hash) — ids and
      // timestamps generated executor-side, the phash from the caption
      val captions = Seq("a small cat sat on a warm mat in the sun", "a small cat sat on the warm mat in the sun", "sunset over the stormy winter sea")
      import scala.jdk.CollectionConverters._
      val src = spark.createDataFrame(
        captions.map(Row(_)).asJava,
        StructType(Seq(StructField("caption", StringType, nullable = true))))
      val rows = src.select(
        call_function("ulid").as("id"),
        now().as("added"),
        col("caption"),
        call_function("simhash64", split(col("caption"), " "))
          .cast(DecimalType(20, 0)).as("phash"))
      rows.write.parquet(dir)

      // SELECT id, caption FROM photos WHERE phash @ probe < 16
      val photos = spark.read.parquet(dir)
      val probe = photos.filter(col("caption") === "a small cat sat on a warm mat in the sun")
        .select(col("phash").cast("long").as("probe"))
      val near = photos.crossJoin(broadcast(probe))
        .select(col("caption"),
          bit_count(col("phash").cast("long").bitwiseXOR(col("probe"))).as("dist"))
        .filter(col("dist") < 16)
        .collect()
      val capts = near.map(_.getString(0)).toSet
      assert(capts.contains("a small cat sat on a warm mat in the sun") && capts.contains("a small cat sat on the warm mat in the sun"))
      assert(!capts.contains("sunset over the stormy winter sea"))

      // ids are ULIDs, timestamps are now-ish, UUID type round-trips as string
      val back = photos.collect()
      assert(back.map(_.getString(0)).toSet.size == 3)
      assert(back.forall(_.getString(0).length == 26))
    }
  }

  test("README story from SQL strings: CREATE -> INSERT -> @ threshold SELECT") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql(
      """CREATE TABLE IF NOT EXISTS photos_seen (
        |  hash UINT64 METRIC KEY USING emtree(hamming),
        |  url STRING(2048) PRIMARY KEY,
        |  width UINT32,
        |  height UINT32,
        |  seen_at TIMESTAMP DEFAULT NOW()
        |);""".stripMargin)
    es.sql(
      """INSERT INTO photos_seen (hash, url, width, height)
        |VALUES (0b11001111, 'https://example.com/a.png', 1280, 820),
        |       (0b01110000, 'https://example.com/b.png', 640, 480);""".stripMargin)
    // the README's search: 0b11001111 @ 0b00001011 = 3 bits apart
    val out = es.sql(
      "SELECT url, hash @ 0b00001011 AS distance FROM photos_seen WHERE distance < 4;")
      .collect()
    assert(out.toSeq.map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("https://example.com/a.png", 3)))
    // the DEFAULT NOW() column filled in engine-side
    val ts = es.sql("SELECT seen_at FROM photos_seen;").collect()
    assert(ts.length == 2 &&
      ts.forall(r => math.abs(r.getTimestamp(0).getTime - System.currentTimeMillis()) < 120000))
  }

  test("SQL front-end: UINT128 metric key with 0x literal probe (hamming128)") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql(
      """CREATE TABLE h (
        |  id UINT32 PRIMARY KEY,
        |  hash UINT128 METRIC KEY,
        |  note NULLABLE(STRING)
        |);""".stripMargin)
    es.sql(
      """INSERT INTO h (id, hash) VALUES
        | (1, 0xffff0000ffff0000ffff0000ffff0000),
        | (2, 0x00000000000000000000000000000001);""".stripMargin)
    val out = es.sql("SELECT id, hash @ 0x0 AS d FROM h WHERE d <= 1;").collect()
    assert(out.toSeq.map(r => (r.getLong(0), r.getInt(1))) == Seq((2L, 1)))
    // unspecified nullable column without DEFAULT lands as NULL
    assert(es.sql("SELECT note FROM h;").collect().forall(_.isNullAt(0)))
  }

  test("SQL front-end: ULID() DEFAULT generates ids engine-side") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE docs (id UUID PRIMARY KEY DEFAULT ULID(), body STRING);")
    es.sql("INSERT INTO docs (body) VALUES ('one'), ('two'), ('three');")
    val ids = es.sql("SELECT id FROM docs;").collect().map(_.getString(0))
    assert(ids.length == 3 && ids.distinct.length == 3 && ids.forall(_.length == 26))
    // equality SELECT matches the reference's WHERE col = const shape
    assert(es.sql("SELECT body FROM docs WHERE body = 'two';").collect()
      .map(_.getString(0)).toSeq == Seq("two"))
  }

  test("SQL front-end: negative numeric literals in VALUES and WHERE") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE m (id UINT32 PRIMARY KEY, delta NULLABLE(STRING));")
    // UINT columns reject negatives at the type level, so exercise the
    // literal path through a comparison instead
    es.sql("INSERT INTO m (id) VALUES (5), (6);")
    val out = es.sql("SELECT id FROM m WHERE id > -1;").collect()
    assert(out.map(_.getLong(0)).toSet == Set(5L, 6L))
  }

  test("SQL front-end: NULL and BOOL literals in VALUES and WHERE") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql(
      """CREATE TABLE flags (
        |  id UINT32 PRIMARY KEY,
        |  ok BOOL,
        |  note NULLABLE(STRING)
        |);""".stripMargin)
    // explicit NULL into a NULLABLE column; TRUE/FALSE into BOOL
    es.sql("INSERT INTO flags VALUES (1, TRUE, 'fine'), (2, FALSE, NULL);")
    val rows = es.sql("SELECT id, ok, note FROM flags;").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)))).toSet
    assert(rows == Set((1L, true, Some("fine")), (2L, false, None)))
    assert(es.sql("SELECT id FROM flags WHERE ok = TRUE;").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // NULL into a NOT NULL column is rejected (NOT-NULL-by-default rule)
    val err = intercept[IllegalArgumentException] {
      es.sql("INSERT INTO flags (id, ok) VALUES (3, NULL);")
    }
    assert(err.getMessage.contains("NOT NULL"))
  }

  test("SQL extension: OR and parenthesized predicates, AND binds tighter") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE p (id UINT32 PRIMARY KEY, grp UINT32, v UINT32);")
    es.sql("INSERT INTO p VALUES (1, 1, 10), (2, 1, 99), (3, 2, 10), (4, 2, 99), (5, 3, 50);")
    // plain OR
    assert(es.sql("SELECT id FROM p WHERE grp = 3 OR v = 99;").collect()
      .map(_.getLong(0)).toSet == Set(2L, 4L, 5L))
    // precedence: a OR b AND c = a OR (b AND c)
    assert(es.sql("SELECT id FROM p WHERE grp = 3 OR grp = 1 AND v = 99;").collect()
      .map(_.getLong(0)).toSet == Set(2L, 5L))
    // parentheses override: (a OR b) AND c
    assert(es.sql("SELECT id FROM p WHERE (grp = 3 OR grp = 1) AND v = 99;").collect()
      .map(_.getLong(0)).toSet == Set(2L))
    // OR inside HAVING over output names
    assert(es.sql(
      "SELECT grp, COUNT(*) AS n, MAX(v) AS mx FROM p GROUP BY grp " +
        "HAVING n = 1 OR mx = 99;").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("SQL extension: IN / NOT IN / BETWEEN / NOT, with correct binding") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE r (id UINT32 PRIMARY KEY, tag STRING(8), v UINT32);")
    es.sql("INSERT INTO r VALUES (1, 'a', 5), (2, 'b', 15), (3, 'c', 25), (4, 'a', 35);")
    assert(es.sql("SELECT id FROM r WHERE tag IN ('a', 'c');").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
    assert(es.sql("SELECT id FROM r WHERE tag NOT IN ('a', 'c');").collect()
      .map(_.getLong(0)).toSet == Set(2L))
    // BETWEEN is inclusive and its AND binds to BETWEEN, not the bool chain
    assert(es.sql("SELECT id FROM r WHERE v BETWEEN 15 AND 25 OR id = 1;").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(es.sql("SELECT id FROM r WHERE NOT (tag = 'a' OR v > 20);").collect()
      .map(_.getLong(0)).toSet == Set(2L))
    // NOT BETWEEN desugars to the negated inclusive conjunction
    assert(es.sql("SELECT id FROM r WHERE v NOT BETWEEN 15 AND 25;").collect()
      .map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(es.sql("SELECT id FROM r WHERE v NOT BETWEEN 15 AND 25 AND tag = 'a';")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
  }

  test("SQL extension: [NOT] IN (SELECT …) with ANSI three-valued NULLs") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE big (id UINT32 PRIMARY KEY, k NULLABLE(UINT32));")
    es.sql("INSERT INTO big VALUES (1, 10), (2, 20), (3, 30), (4, NULL);")
    es.sql("CREATE TABLE s1 (sid UINT32 PRIMARY KEY, k NULLABLE(UINT32));")
    es.sql("INSERT INTO s1 VALUES (1, 10), (2, NULL);")
    def ids(q: String): Set[Long] =
      es.sql(q).collect().map(_.getLong(0)).toSet
    // match → TRUE; no-match against a set containing NULL → NULL (dropped)
    assert(ids("SELECT id FROM big WHERE k IN (SELECT k FROM s1);") == Set(1L))
    // the classic ANSI trap: NOT IN over a set containing NULL keeps nothing
    assert(ids("SELECT id FROM big WHERE k NOT IN (SELECT k FROM s1);").isEmpty)
    es.sql("CREATE TABLE s2 (sid UINT32 PRIMARY KEY, k UINT32);")
    es.sql("INSERT INTO s2 VALUES (1, 10), (2, 20);")
    // NULL-free set: NOT IN keeps non-matching non-NULL probes only
    assert(ids("SELECT id FROM big WHERE k NOT IN (SELECT k FROM s2);") == Set(3L))
    // empty set: IN → FALSE everywhere, NOT IN → TRUE everywhere (even NULL probe)
    assert(ids("SELECT id FROM big WHERE k IN (SELECT k FROM s2 WHERE k > 100);").isEmpty)
    assert(ids("SELECT id FROM big WHERE k NOT IN (SELECT k FROM s2 WHERE k > 100);")
      == Set(1L, 2L, 3L, 4L))
    // the marker lowering composes under OR (a semi-join could not)
    assert(ids("SELECT id FROM big WHERE k IN (SELECT k FROM s2) OR id = 3;")
      == Set(1L, 2L, 3L))
    // subqueries may carry their own WHERE/DISTINCT and feed aggregates above
    assert(es.sql(
      """SELECT COUNT(*) AS n FROM big
        |WHERE k IN (SELECT DISTINCT k FROM s2 WHERE k >= 10);""".stripMargin)
      .collect().head.getLong(0) == 2L)
    // only single-column subqueries are legal
    intercept[IllegalArgumentException] {
      es.sql("SELECT id FROM big WHERE k IN (SELECT k, k FROM s2);").collect()
    }
  }

  test("SQL extension: LIMIT/OFFSET pagination, ordered and bounds-checked") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE pg (id UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO pg VALUES (1, 50), (2, 40), (3, 30), (4, 20), (5, 10);")
    def ids(q: String): Seq[Long] =
      es.sql(q).collect().map(_.getLong(0)).toSeq
    // OFFSET skips before LIMIT counts (ANSI): page 2 of size 2
    assert(ids("SELECT id FROM pg ORDER BY v DESC LIMIT 2 OFFSET 2;") == Seq(3L, 4L))
    // OFFSET past the end is empty, not an error
    assert(ids("SELECT id FROM pg ORDER BY v LIMIT 2 OFFSET 9;").isEmpty)
    // OFFSET without LIMIT returns the whole tail
    assert(ids("SELECT id FROM pg ORDER BY v OFFSET 3;") == Seq(2L, 1L))
    // unordered pagination is refused, and bounds are checked like LIMIT
    intercept[IllegalArgumentException] {
      es.sql("SELECT id FROM pg LIMIT 2 OFFSET 2;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT id FROM pg ORDER BY v LIMIT 2 OFFSET 5000000000;")
    }
  }

  test("SQL extension: uncorrelated scalar subqueries inline as literals") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE m (id UINT32 PRIMARY KEY, v UINT32, tag STRING(4));")
    es.sql("INSERT INTO m VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a'), (4, 40, 'b');")
    def ids(q: String): Set[Long] =
      es.sql(q).collect().map(_.getLong(0)).toSet
    // AVG over integers is exact; strictly-above keeps the top half
    assert(ids("SELECT id FROM m WHERE v > (SELECT AVG(v) FROM m);")
      == Set(3L, 4L))
    // scalar subquery with its own WHERE, and as the comparison LHS
    assert(ids("SELECT id FROM m WHERE v = (SELECT MAX(v) FROM m WHERE tag = 'a');")
      == Set(3L))
    assert(ids("SELECT id FROM m WHERE (SELECT MIN(v) FROM m) = v;")
      == Set(1L))
    // empty scalar → NULL → comparison unknown → no rows (ANSI)
    assert(ids("SELECT id FROM m WHERE v > (SELECT MAX(v) FROM m WHERE v > 99);")
      .isEmpty)
    // composes with the boolean tree and works in HAVING
    assert(ids("SELECT id FROM m WHERE v > (SELECT AVG(v) FROM m) OR id = 1;")
      == Set(1L, 3L, 4L))
    assert(es.sql(
      """SELECT tag, COUNT(*) AS n FROM m GROUP BY tag
        |HAVING n >= (SELECT COUNT(*) FROM m WHERE id < 3);""".stripMargin)
      .collect().map(_.getString(0)).toSet == Set("a", "b"))
    // more than one row is an error, per ANSI — Spark's own, raised when
    // the query runs
    val many = intercept[org.apache.spark.SparkException] {
      es.sql("SELECT id FROM m WHERE v > (SELECT v FROM m);").collect()
    }
    assert(many.getCondition == "SCALAR_SUBQUERY_TOO_MANY_ROWS", many.getMessage)
  }

  test("SQL extension: LIKE / NOT LIKE and SELECT DISTINCT") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE lk (id UINT32 PRIMARY KEY, name STRING(16), tag STRING(4));")
    es.sql("INSERT INTO lk VALUES (1, 'spark_core', 'a'), (2, 'spark_sql', 'a'), " +
      "(3, 'flink_core', 'b'), (4, 'beam', 'b');")
    assert(es.sql("SELECT id FROM lk WHERE name LIKE 'spark%';").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(es.sql("SELECT id FROM lk WHERE name LIKE '%core';").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    // _ matches exactly one char
    assert(es.sql("SELECT id FROM lk WHERE name LIKE 'bea_';").collect()
      .map(_.getLong(0)).toSet == Set(4L))
    assert(es.sql("SELECT id FROM lk WHERE name NOT LIKE 'spark%';").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L))
    // LIKE composes with the boolean chain
    assert(es.sql("SELECT id FROM lk WHERE name LIKE 'spark%' AND tag = 'a' OR id = 4;")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    // DISTINCT dedupes the projected output
    assert(es.sql("SELECT DISTINCT tag FROM lk;").collect()
      .map(_.getString(0)).toSet == Set("a", "b"))
    assert(es.sql("SELECT DISTINCT tag FROM lk ORDER BY tag LIMIT 1;").collect()
      .map(_.getString(0)).toSeq == Seq("a"))
  }

  test("SQL extension: searched CASE, plain and as a GROUP BY bucket") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE cw (id UINT32 PRIMARY KEY, n UINT32);")
    es.sql("INSERT INTO cw VALUES (1, 5), (2, 50), (3, 500), (4, 40);")
    // plain projection: branches evaluate in order, ELSE catches the rest
    assert(es.sql(
      "SELECT id, CASE WHEN n < 10 THEN 'small' WHEN n < 100 THEN 'mid' " +
        "ELSE 'big' END AS sz FROM cw ORDER BY id;")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "small"), (2L, "mid"), (3L, "big"), (4L, "mid")))
    // no ELSE → NULL for unmatched rows (ANSI)
    assert(es.sql("SELECT id, CASE WHEN n < 10 THEN 'small' END AS sz FROM cw " +
      "WHERE id = 3;").collect().head.isNullAt(1))
    // the bucketing idiom: CASE alias as a group key
    assert(es.sql(
      "SELECT CASE WHEN n < 100 THEN 'lo' ELSE 'hi' END AS b, COUNT(*) AS n2, " +
        "SUM(n) AS t FROM cw GROUP BY b ORDER BY b;")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("hi", 1L, 500L), ("lo", 3L, 95L)))
    // WHERE may reference the CASE alias (same rule as @ aliases)
    assert(es.sql(
      "SELECT id, CASE WHEN n < 100 THEN 'lo' ELSE 'hi' END AS b FROM cw " +
        "WHERE b = 'hi';").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("SQL extension: UNION / UNION ALL bag semantics, left-assoc") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ua (id UINT32 PRIMARY KEY, g STRING(4));")
    es.sql("INSERT INTO ua VALUES (1, 'a'), (2, 'a'), (3, 'b');")
    // UNION dedupes across branches
    assert(es.sql("SELECT g FROM ua WHERE id = 1 UNION SELECT g FROM ua WHERE id = 2;")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    // UNION ALL keeps duplicates
    assert(es.sql(
      "SELECT g FROM ua WHERE id = 1 UNION ALL SELECT g FROM ua WHERE id = 2;")
      .count() == 2)
    // left-assoc: (dedup) then ALL-append keeps the later duplicate
    assert(es.sql("SELECT g FROM ua WHERE id = 1 UNION SELECT g FROM ua WHERE id = 2 " +
      "UNION ALL SELECT g FROM ua WHERE id = 3;")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    // arity mismatch fails loudly at lowering
    intercept[Exception] {
      es.sql("SELECT id, g FROM ua UNION SELECT g FROM ua;").collect()
    }
  }

  test("SQL extension: EXCEPT / INTERSECT distinct set semantics") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE se (id UINT32 PRIMARY KEY, g STRING(4), v UINT32);")
    es.sql("INSERT INTO se VALUES (1, 'a', 1), (2, 'a', 1), (3, 'b', 1), (4, 'c', 2);")
    // EXCEPT dedupes AND removes: {a,a,b,c} except {c} = {a,b}
    assert(es.sql("SELECT g FROM se WHERE v = 1 EXCEPT SELECT g FROM se WHERE v = 2;")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    // INTERSECT is distinct: duplicate 'a' on the left collapses
    assert(es.sql("SELECT g FROM se EXCEPT SELECT g FROM se WHERE g = 'b';")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "c"))
    assert(es.sql("SELECT g FROM se WHERE v = 1 INTERSECT SELECT g FROM se;")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    // empty intersection
    assert(es.sql("SELECT g FROM se WHERE v = 1 INTERSECT SELECT g FROM se WHERE id = 4;")
      .count() == 0)
  }

  test("SQL extension: IS NULL / IS NOT NULL two-valued null test") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE nl (id UINT32 PRIMARY KEY, note NULLABLE(STRING(8)));")
    es.sql("INSERT INTO nl VALUES (1, 'x'), (2, NULL), (3, 'y');")
    assert(es.sql("SELECT id FROM nl WHERE note IS NULL;")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(es.sql("SELECT id FROM nl WHERE note IS NOT NULL;")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // contrast: `= NULL` is three-valued and keeps nothing
    assert(es.sql("SELECT id FROM nl WHERE note = NULL;").count() == 0)
    // composes inside the predicate tree
    assert(es.sql("SELECT id FROM nl WHERE note IS NULL OR note = 'y';")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("SQL extension: CAST type vocabulary and loud unknown-type error") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ct (id UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO ct VALUES (1, 10), (2, 25);")
    val r = es.sql(
      "SELECT id, CAST(v AS DOUBLE) AS vd, CAST(v AS VARCHAR) AS vs, " +
        "CAST(v AS DECIMAL(6,2)) AS dec2 FROM ct WHERE id = 2;").collect()(0)
    assert(r.getDouble(1) == 25.0)
    assert(r.getString(2) == "25")
    assert(r.getDecimal(3).toPlainString == "25.00")
    // CAST composes with arithmetic and WHERE
    assert(es.sql("SELECT id FROM ct WHERE CAST(v AS BIGINT) * 2 > 30;")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    intercept[IllegalArgumentException] {
      es.sql("SELECT CAST(v AS BLOB) AS b FROM ct;").collect()
    }
  }

  test("SQL extension: RIGHT / FULL OUTER JOIN keep unmatched rows") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE jl (lk UINT32 PRIMARY KEY, lv STRING(4));")
    es.sql("CREATE TABLE jr (rk UINT32 PRIMARY KEY, rv STRING(4));")
    es.sql("INSERT INTO jl VALUES (1, 'a'), (2, 'b');")
    es.sql("INSERT INTO jr VALUES (2, 'B'), (3, 'C');")
    // RIGHT JOIN: every right row survives; unmatched left side is NULL
    val rj = es.sql(
      "SELECT rk, rv, lv FROM jl RIGHT JOIN jr ON lk = rk;").collect()
    assert(rj.length == 2)
    assert(rj.find(_.getLong(0) == 3L).get.isNullAt(2))
    // FULL JOIN: both dangling sides survive, IS NULL classifies them
    assert(es.sql(
      "SELECT lk, rk FROM jl FULL OUTER JOIN jr ON lk = rk;").count() == 3)
    assert(es.sql("SELECT lv FROM jl FULL JOIN jr ON lk = rk WHERE rk IS NULL;")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("SQL extension: YEAR/MONTH/DAY calendar functions + CAST in agg expressions") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ev (id UINT32 PRIMARY KEY, at TIMESTAMP, v UINT32);")
    es.sql("INSERT INTO ev VALUES (1, '2024-03-15 10:00:00', 10), " +
      "(2, '2024-03-20 11:00:00', 30), (3, '2025-01-02 12:00:00', 7);")
    val r = es.sql(
      "SELECT CAST(YEAR(at) AS BIGINT) AS yr, COUNT(*) AS n, " +
        "CAST(ROUND(MAX(v) / 2.0) AS BIGINT) AS hm " +
        "FROM ev GROUP BY 1 ORDER BY 1;").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
      == Seq((2024L, 2L, 15L), (2025L, 1L, 4L)))
    // row-path calendar extraction
    assert(es.sql("SELECT id FROM ev WHERE MONTH(at) = 1;")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(es.sql("SELECT DAY(at) AS d FROM ev WHERE id = 2;")
      .collect()(0).getInt(0) == 20)
  }

  test("SQL extension: table aliases, qualified refs, self-join") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE emp (id UINT32 PRIMARY KEY, boss UINT32, nm STRING(8));")
    es.sql("INSERT INTO emp VALUES (1, 1, 'root'), (2, 1, 'ann'), (3, 2, 'bo');")
    // self-join: employee → manager name via alias-qualified keys
    val r = es.sql(
      "SELECT e.nm AS emp_name, m.nm AS boss_name " +
        "FROM emp e JOIN emp m ON e.boss = m.id WHERE e.id != 1 " +
        "ORDER BY emp_name;").collect()
    assert(r.map(x => (x.getString(0), x.getString(1))).toSeq
      == Seq(("ann", "root"), ("bo", "ann")))
    // qualified refs compose with aggregates + GROUP BY ordinals
    assert(es.sql("SELECT m.nm AS boss_name, COUNT(*) AS n " +
      "FROM emp e JOIN emp m ON e.boss = m.id GROUP BY 1 ORDER BY 1;")
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
      == Seq(("ann", 1L), ("root", 2L)))
    // auto-derived output name: SELECT e.nm outputs `nm`
    assert(es.sql("SELECT e.nm FROM emp e WHERE e.id = 3;").columns.toSeq
      == Seq("nm"))
    // an unqualified ref against an aliased relation fails loudly
    intercept[Exception] {
      es.sql("SELECT nm FROM emp e JOIN emp m ON e.boss = m.id;").collect()
    }
    // qualified names reach aggregates and window clauses too
    assert(es.sql("SELECT m.nm AS boss, COUNT(e.id) AS n FROM emp e " +
      "JOIN emp m ON e.boss = m.id GROUP BY 1 ORDER BY 1;")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("ann", 1L), ("root", 2L)))
    assert(es.sql("""SELECT e.id AS id, ROW_NUMBER() OVER (
      PARTITION BY m.nm ORDER BY e.id) AS rn
      FROM emp e JOIN emp m ON e.boss = m.id ORDER BY id;""")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      == Seq((1L, 1), (2L, 2), (3L, 1)))
  }

  test("SQL extension: UPDATE / DELETE / CREATE TABLE AS SELECT") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE acct (id UINT32 PRIMARY KEY, bal UINT32, st NULLABLE(STRING(8)));")
    es.sql("INSERT INTO acct VALUES (1, 100, 'open'), (2, 50, NULL), (3, 10, 'open');")
    // UPDATE evaluates SET against the OLD row, only matched rows change
    es.sql("UPDATE acct SET bal = bal * 2, st = 'rich' WHERE bal >= 50;")
    val r = es.sql("SELECT id, bal, st FROM acct ORDER BY id;").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq
      == Seq((1L, 200L), (2L, 100L), (3L, 10L)))
    assert(r(2).getString(2) == "open") // unmatched row untouched
    // three-valued DELETE: NULL predicate keeps the row
    es.sql("DELETE FROM acct WHERE st = 'rich';")
    assert(es.sql("SELECT id FROM acct;").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(3L))
    // CTAS snapshots a query relation as a new table
    es.sql("CREATE TABLE small AS SELECT id, bal FROM acct WHERE bal < 50;")
    assert(es.sql("SELECT id, bal FROM small;").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((3L, 10L)))
    intercept[Exception] { es.sql("CREATE TABLE small AS SELECT id FROM acct;") }
    // IF NOT EXISTS is a no-op on an existing CTAS table
    es.sql("CREATE TABLE IF NOT EXISTS small AS SELECT id FROM acct;")
    assert(es.sql("SELECT id, bal FROM small;").columns.length == 2)
    // DELETE without WHERE truncates; schema survives
    es.sql("DELETE FROM acct;")
    assert(es.sql("SELECT id FROM acct;").count() == 0)
    intercept[IllegalArgumentException] {
      es.sql("UPDATE acct SET ghost = 1;")
    }
  }

  test("SQL extension: WITH CTEs — forward scoping, shadowing, session untouched") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE wt (id UINT32 PRIMARY KEY, g STRING(4));")
    es.sql("INSERT INTO wt VALUES (1, 'a'), (2, 'a'), (3, 'b');")
    // a CTE reading an earlier CTE, body reading both catalog + cte
    val r = es.sql("""WITH ga AS (SELECT id, g FROM wt WHERE g = 'a'),
                     |one AS (SELECT id FROM ga WHERE id = 1)
                     |SELECT id FROM one;""".stripMargin)
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a CTE body may be a UNION chain
    assert(es.sql("""WITH u AS (SELECT g FROM wt WHERE id = 1
                    |  UNION ALL SELECT g FROM wt WHERE id = 2)
                    |SELECT g FROM u;""".stripMargin).count() == 2)
    // a CTE shadows a same-named catalog table for the statement only…
    assert(es.sql("""WITH wt AS (SELECT id, g FROM wt WHERE g = 'b')
                    |SELECT id FROM wt;""".stripMargin)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // …and the session catalog is untouched afterwards
    assert(es.sql("SELECT id FROM wt;").count() == 3)
    // the CTE name is statement-local: gone after the statement
    intercept[IllegalArgumentException] { es.sql("SELECT id FROM ga;") }
    // a cte may NOT reference a LATER cte (forward scoping only)
    intercept[IllegalArgumentException] {
      es.sql("""WITH a AS (SELECT id FROM later),
               |later AS (SELECT id FROM wt)
               |SELECT id FROM a;""".stripMargin)
    }
  }

  // Lexical scoping: a view body resolves against the catalog, never the
  // CTEs of the statement that reads it (expected rows from DuckDB 1.0.0)
  private def scopingSession(): graft.sql.EmdriveSession = {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t (x UINT32 PRIMARY KEY);")
    es.sql("INSERT INTO t VALUES (1), (2);")
    es.sql("CREATE TABLE o (x UINT32 PRIMARY KEY);")
    es.sql("INSERT INTO o VALUES (99);")
    es.sql("CREATE VIEW v AS SELECT x FROM t;")
    es
  }

  private def longs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Number](0).longValue).toSeq

  test("SQL scoping: a CTE does not leak into a view that reads the same name") {
    val es = scopingSession()
    assert(longs(es.sql("WITH t AS (SELECT x FROM o) SELECT x FROM v ORDER BY x;")) ==
      Seq(1L, 2L))
  }

  test("SQL scoping: a CTE named like an inner view does not leak into the outer view") {
    val es = scopingSession()
    es.sql("CREATE VIEW w AS SELECT x FROM v;")
    assert(longs(es.sql("WITH v AS (SELECT x FROM o) SELECT x FROM w ORDER BY x;")) ==
      Seq(1L, 2L))
  }

  test("SQL scoping: a recursive CTE's accumulator does not leak into a view") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE r (n UINT32 PRIMARY KEY);")
    es.sql("INSERT INTO r VALUES (100);")
    es.sql("CREATE VIEW rv AS SELECT n FROM r;")
    es.sql("CREATE TABLE one (n UINT32 PRIMARY KEY);")
    es.sql("INSERT INTO one VALUES (1);")
    assert(longs(es.sql("""WITH RECURSIVE r AS (SELECT n FROM one
                          |  UNION SELECT n + 1 AS n FROM r WHERE n < 3)
                          |SELECT n FROM rv;""".stripMargin)) == Seq(100L))
  }

  test("SQL extension: arithmetic with standard precedence in items and WHERE") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ar (id UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO ar VALUES (1, 10), (2, 20);")
    // * binds tighter than +; parens override; / is float division
    val r = es.sql("""SELECT id, 2 + 3 * 4 AS a, (2 + 3) * 4 AS b, 7 / 2 AS c,
                     |  v * 10 + id AS d
                     |FROM ar WHERE id = 1;""".stripMargin).head()
    assert(r.getAs[Long]("a") == 14L)
    assert(r.getAs[Long]("b") == 20L)
    assert(r.getAs[Double]("c") == 3.5)
    assert(r.getAs[Long]("d") == 101L)
    // arithmetic in WHERE over columns; computed alias usable in WHERE
    assert(es.sql("SELECT id FROM ar WHERE v - id * 2 = 16;")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(es.sql("SELECT id, v / 4 AS q FROM ar WHERE q > 4;")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a computed alias can be a GROUP BY bucket
    assert(es.sql("""SELECT v / 10 AS bucket, COUNT(*) AS n
                    |FROM ar GROUP BY bucket ORDER BY bucket;""".stripMargin)
      .count() == 2)
    // computed items must be named
    intercept[IllegalArgumentException] { es.sql("SELECT v + 1 FROM ar;") }
    // aggregate arithmetic: ratio over two aggregates, global (no GROUP BY)
    val g = es.sql("SELECT SUM(v) / COUNT(*) AS mean_v, SUM(v) - SUM(id) AS diff FROM ar;").head()
    assert(g.getAs[Double]("mean_v") == 15.0)
    assert(g.getAs[Long]("diff") == 27L)
    // aggregates are rejected outside an aggregating select's items
    intercept[IllegalArgumentException] {
      es.sql("SELECT id FROM ar WHERE SUM(v) > 1;")
    }
  }

  test("SQL extension: ranking windows with WHERE-as-QUALIFY top-k") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE wr (id UINT32 PRIMARY KEY, g STRING(4), v UINT32);")
    es.sql("INSERT INTO wr VALUES (1,'a',10), (2,'a',30), (3,'a',20), (4,'b',5);")
    val top = es.sql("""SELECT g, id, ROW_NUMBER() OVER (PARTITION BY g
                       |  ORDER BY v DESC, id) AS rn
                       |FROM wr WHERE rn <= 2 ORDER BY g, rn;""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getAs[Int]("rn")))
    assert(top.toSeq == Seq(("a", 2L, 1), ("a", 3L, 2), ("b", 4L, 1)))
    // RANK leaves gaps on ties, DENSE_RANK does not
    es.sql("INSERT INTO wr VALUES (5,'a',30);")
    val ranks = es.sql("""SELECT id, RANK() OVER (PARTITION BY g ORDER BY v DESC) AS r,
                         |  DENSE_RANK() OVER (PARTITION BY g ORDER BY v DESC) AS dr
                         |FROM wr WHERE g = 'a' ORDER BY r, id;""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("r"), r.getAs[Int]("dr")))
    assert(ranks.toSeq == Seq((2L, 1, 1), (5L, 1, 1), (3L, 3, 2), (1L, 4, 3)))
    // an unordered rank is refused (nondeterministic), as is a missing alias
    intercept[IllegalArgumentException] {
      es.sql("SELECT id, ROW_NUMBER() OVER (PARTITION BY g) AS rn FROM wr;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT id, ROW_NUMBER() OVER (ORDER BY v) FROM wr;")
    }
    // windows cannot mix with aggregates
    intercept[IllegalArgumentException] {
      es.sql("""SELECT g, COUNT(*) AS n, ROW_NUMBER() OVER (ORDER BY g) AS rn
               |FROM wr GROUP BY g;""".stripMargin)
    }
    // window aggregates: running sum with the ANSI default frame — ties in
    // the order key share a RANGE frame (peers included)
    es.sql("CREATE TABLE ws (id UINT32 PRIMARY KEY, k UINT32, v UINT32);")
    es.sql("INSERT INTO ws VALUES (1, 1, 10), (2, 2, 20), (3, 2, 30), (4, 3, 5);")
    val runs = es.sql("""SELECT id, SUM(v) OVER (ORDER BY k) AS run
                        |FROM ws ORDER BY k, id;""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("run")))
    assert(runs.toSeq == Seq((1L, 10L), (2L, 60L), (3L, 60L), (4L, 65L)))
  }

  test("SQL front-end: LIMIT is bounds-checked instead of wrapping") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t1 (id UINT32 PRIMARY KEY);")
    es.sql("INSERT INTO t1 VALUES (1), (2), (3);")
    assert(es.sql("SELECT id FROM t1 ORDER BY id LIMIT 2;").count() == 2)
    val err = intercept[IllegalArgumentException] {
      es.sql("SELECT id FROM t1 LIMIT 5000000000;")
    }
    assert(err.getMessage.contains("LIMIT"))
  }

  test("system catalog: SHOW TABLES and DESCRIBE mirror system.tables/columns") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql(
      """CREATE TABLE photos (
        |  id UUID PRIMARY KEY,
        |  phash UINT64 METRIC KEY,
        |  caption NULLABLE(STRING(80))
        |);""".stripMargin)
    es.sql("CREATE TABLE visits (id UINT32 PRIMARY KEY, at TIMESTAMP);")
    val tables = es.sql("SHOW TABLES;").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(tables == Seq(("photos", 3), ("visits", 2)))
    val cols = es.sql("DESCRIBE photos;").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      .sortBy(_._2).toSeq
    // (column, ordinal, is_nullable, primary_key, metric_key)
    assert(cols == Seq(
      ("id", 0, false, true, false),
      ("phash", 1, false, false, true),
      ("caption", 2, true, false, false)))
    assert(intercept[IllegalArgumentException] {
      es.sql("DESCRIBE nope;")
    }.getMessage.contains("unknown table"))
  }

  test("SQL extension: aggregates, GROUP BY, ORDER BY, LIMIT") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE sales (id UINT32 PRIMARY KEY, region STRING, amount UINT32);")
    es.sql("INSERT INTO sales (id, region, amount) VALUES " +
      "(1, 'east', 10), (2, 'east', 30), (3, 'west', 5), (4, 'west', 7), (5, 'north', 100);")
    val out = es.sql(
      """SELECT region, COUNT(*) AS n, SUM(amount) AS total, MAX(amount) AS biggest
        |FROM sales GROUP BY region ORDER BY total DESC LIMIT 2;""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq(("north", 1L, 100L, 100L), ("east", 2L, 40L, 30L)))
    // default output names; WHERE applies pre-aggregation
    val n = es.sql(
      "SELECT COUNT(*) FROM sales WHERE amount > 6 GROUP BY region ORDER BY count;")
      .collect().map(_.getLong(0)).toSeq
    assert(n == Seq(1L, 1L, 2L)) // north(100), west(7), east(10,30)
    // plain non-grouped column in an aggregate select is rejected
    intercept[IllegalArgumentException] {
      es.sql("SELECT amount, COUNT(*) FROM sales GROUP BY region;")
    }
    // HAVING filters post-aggregation by output names
    val h = es.sql(
      """SELECT region, SUM(amount) AS total FROM sales
        |GROUP BY region HAVING total > 12 ORDER BY region;""".stripMargin).collect()
    assert(h.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("east", 40L), ("north", 100L)))
    // HAVING without aggregation is rejected
    intercept[IllegalArgumentException] {
      es.sql("SELECT region FROM sales HAVING region = 'east';")
    }
  }

  test("SQL front-end: save/open round-trips the catalog through parquet") {
    GraftSession.prepare(spark)
    withTempDir("graft-sqlsave") { tmp =>
      val dir = tmp + "/t"
      val es = new graft.sql.EmdriveSession(spark)
      es.sql("CREATE TABLE t (id UINT32 PRIMARY KEY, name STRING);")
      es.sql("INSERT INTO t (id, name) VALUES (1, 'a'), (2, 'b');")
      es.save("t", dir)
      // a fresh session opens the saved files and queries them
      val es2 = new graft.sql.EmdriveSession(spark)
      es2.open("t", dir)
      val out = es2.sql("SELECT name FROM t WHERE id = 2;").collect()
      assert(out.map(_.getString(0)).toSeq == Seq("b"))
    }
  }

  test("durable INSERT runs one job and installs the schema boot restore infers") {
    GraftSession.prepare(spark)
    withTempDir("graft-durable-insert") { dir =>
      val es = new graft.sql.EmdriveSession(spark, Some(dir))
      es.sql("""CREATE TABLE boats (
               |  id UINT32 PRIMARY KEY,
               |  name STRING(40),
               |  phash NULLABLE(UINT64) METRIC KEY);""".stripMargin)
      val (_, jobs) = jobsDuring(
        es.sql("INSERT INTO boats (id, name, phash) VALUES (1, 'Dinghy', 17);"))
      assert(jobs.size == 1, jobs.mkString("\n"))
      // the read-back takes the written schema; boot restore infers it
      // from the same generation's footers — names, types, nullability
      // and the graft.* role metadata must agree
      val installed = es.table("boats").schema
      val restored = new graft.sql.EmdriveSession(spark, Some(dir))
      assert(installed == restored.table("boats").schema)
      assert(installed("id").metadata.contains(SchemaMapper.PrimaryKeyMetadata))
      assert(restored.sql("SELECT id, name FROM boats;").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "Dinghy")))
    }
  }

  test("a durable statement whose save fails leaves the catalog as it was") {
    GraftSession.prepare(spark)
    withTempDir("graft-failed-save") { dir =>
      // a regular file where table t's directory would go: every save of t throws
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t"), "not a table")
      val es = new graft.sql.EmdriveSession(spark, Some(dir))
      intercept[Exception](es.sql("CREATE TABLE t (id UINT32 PRIMARY KEY);"))
      assert(!es.has("t"))
      assert(!es.sql("SHOW TABLES;").collect().exists(_.getString(0) == "t"))
      // an attached in-memory t: the failed INSERT's row must not show
      val mem = new graft.sql.EmdriveSession(spark)
      mem.sql("CREATE TABLE t (id UINT32 PRIMARY KEY);")
      mem.sql("INSERT INTO t (id) VALUES (1);")
      es.register("t", mem.table("t"))
      intercept[Exception](es.sql("INSERT INTO t (id) VALUES (2);"))
      assert(es.sql("SELECT id FROM t;").collect().map(_.getLong(0)).toSeq == Seq(1L))
    }
  }

  test("SQL extension: JOIN ON lowers to an engine equi-join, either key order") {
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE o (ok UINT64 PRIMARY KEY, ck UINT64);")
    es.sql("CREATE TABLE c (ck2 UINT64 PRIMARY KEY, seg STRING(16));")
    es.sql("INSERT INTO o VALUES (1, 10), (2, 10), (3, 11), (4, 99);")
    es.sql("INSERT INTO c VALUES (10, 'gold'), (11, 'iron');")
    val out = es.sql(
      "SELECT seg, COUNT(*) AS n FROM o JOIN c ON ck = ck2 GROUP BY seg ORDER BY seg;")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("gold", 2L), ("iron", 1L))) // ok=4 has no match
    // keys written in the opposite order resolve identically
    val swapped = es.sql(
      "SELECT seg, COUNT(*) AS n FROM o JOIN c ON ck2 = ck GROUP BY seg ORDER BY seg;")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(swapped == out)
    // unresolvable keys fail with a parse-side error, not a Catalyst one
    val err = intercept[IllegalArgumentException] {
      es.sql("SELECT seg FROM o JOIN c ON ck = nope;")
    }
    assert(err.getMessage.contains("join keys"))
  }

  test("SQL extension: LEFT JOIN preserves unmatched rows; COALESCE fills") {
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE lo (ok UINT32 PRIMARY KEY, ck UINT32);")
    es.sql("CREATE TABLE lc (ck2 UINT32 PRIMARY KEY, seg STRING(16));")
    es.sql("INSERT INTO lo VALUES (1, 10), (2, 10), (3, 11), (4, 99);")
    es.sql("INSERT INTO lc VALUES (10, 'gold'), (11, 'iron');")
    val out = es.sql(
      """SELECT ok, COALESCE(seg, 'none') AS seg2
        |FROM lo LEFT JOIN lc ON ck = ck2 ORDER BY ok;""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // ok=4 (ck=99, unmatched) survives with the fill — inner JOIN drops it
    assert(out == Seq((1L, "gold"), (2L, "gold"), (3L, "iron"), (4L, "none")))
    // LEFT OUTER JOIN spelling parses identically
    val outer = es.sql(
      """SELECT ok, COALESCE(seg, 'none') AS seg2
        |FROM lo LEFT OUTER JOIN lc ON ck = ck2 ORDER BY ok;""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(outer == out)
  }

  test("SQL extension: NULLIF / ABS / ROUND scalar semantics") {
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE sv (k UINT32 PRIMARY KEY, v UINT32, tag STRING(8));")
    es.sql("INSERT INTO sv VALUES (1, 7, 'a'), (2, 9, 'b'), (3, 10, 'a');")
    val rows = es.sql(
      """SELECT k, ABS(v - 20) AS av, ROUND(v / 4.0) AS rq,
        | COALESCE(NULLIF(tag, 'a'), 'masked') AS t2
        |FROM sv ORDER BY k;""".stripMargin).collect()
    // ABS over a negative arithmetic result (no unary minus in the grammar)
    assert(rows.map(_.getLong(1)).toSeq == Seq(13L, 11L, 10L))
    // 7/4=1.75→2, 9/4=2.25→2, 10/4=2.5→3: Spark HALF_UP at 0 dp
    assert(rows.map(_.getDouble(2)).toSeq == Seq(2.0, 2.0, 3.0))
    assert(rows.map(_.getString(3)).toSeq == Seq("masked", "b", "masked"))
    // arity errors are parse-side and loud
    val err = intercept[IllegalArgumentException] {
      es.sql("SELECT NULLIF(tag) AS x FROM sv;")
    }
    assert(err.getMessage.contains("argument count"))
  }

  test("SQL r14 tier: JSON extraction, STRING_SPLIT/UNNEST/LEN, TRY_CAST posture") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE j (k UINT32 PRIMARY KEY, payload STRING(64), words STRING(64));")
    es.sql("""INSERT INTO j VALUES
      | (1, '{"name": "ada", "n": 7}', 'alpha beta gamma'),
      | (2, '{"name": "bob", "n": 11}', 'delta'),
      | (3, '{"n": 13}', 'x y z w');""".stripMargin)

    // JSON tier: string leg, numeric leg via CAST, missing path -> NULL
    val jr = es.sql(
      """SELECT k, JSON_EXTRACT_STRING(payload, '$.name') AS nm,
        | CAST(JSON_EXTRACT(payload, '$.n') AS INTEGER) AS n
        |FROM j ORDER BY k;""".stripMargin).collect()
    assert(jr.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("ada"), Some("bob"), None))
    assert(jr.map(_.getInt(2)).toSeq == Seq(7, 11, 13))

    // array tier: LEN on a split array; UNNEST fan-out composes with a
    // second projected column and GROUP BY through a CTE
    val lr = es.sql(
      "SELECT k, LEN(STRING_SPLIT(words, ' ')) AS nw FROM j ORDER BY k;")
      .collect()
    assert(lr.map(_.getLong(1)).toSeq == Seq(3L, 1L, 4L))
    val ur = es.sql(
      """WITH tok AS (SELECT k, UNNEST(STRING_SPLIT(words, ' ')) AS w FROM j)
        |SELECT k, COUNT(*) AS n FROM tok GROUP BY k ORDER BY k;""".stripMargin)
      .collect()
    assert(ur.map(_.getLong(1)).toSeq == Seq(3L, 1L, 4L))

    // error-vs-NULL posture: TRY_CAST yields NULL where plain CAST (the
    // session's ANSI mode) raises -- and the NULLIF guard nulls a zero
    // divisor instead of erroring
    val tr = es.sql(
      """SELECT k, TRY_CAST(words AS INTEGER) AS bad,
        | TRY_CAST(CAST(k AS VARCHAR) AS INTEGER) AS rt,
        | CAST(k AS DOUBLE) / NULLIF(k - 2, 0) AS gdiv
        |FROM j ORDER BY k;""".stripMargin).collect()
    assert(tr.forall(_.isNullAt(1)))
    assert(tr.map(_.getInt(2)).toSeq == Seq(1, 2, 3))
    assert(tr(1).isNullAt(3)) // k=2: divisor NULLIF'd to NULL
    assert(!tr(0).isNullAt(3) && !tr(2).isNullAt(3))
    intercept[Throwable] {
      es.sql("SELECT CAST(words AS INTEGER) AS boom FROM j;").collect()
    }
  }

  test("SQL r14 fixes: STRING_AGG empty separator; tuple-IN arity error is loud") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE sa (k UINT32 PRIMARY KEY, g UINT32, t STRING(8));")
    es.sql("INSERT INTO sa VALUES (1, 1, 'b'), (2, 1, 'a'), (3, 2, 'c');")
    // empty separator: limit-2 decode round-trips (was a MatchError)
    val rows = es.sql(
      "SELECT g, STRING_AGG(t, '') AS cat FROM sa GROUP BY g ORDER BY g;")
      .collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("ab", "c"))
    // committed tuple-IN branch: the row-arity error surfaces as ITSELF,
    // not as a downstream group-parse failure (r13 ADVICE)
    val err = intercept[IllegalArgumentException] {
      es.sql("SELECT k FROM sa WHERE (k, g) IN ((1, 1), (2));")
    }
    assert(err.getMessage.contains("arity"))
  }

  test("SQL r14 tier 2: ILIKE, STAR EXCLUDE, array functions, VALUES table") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE m (k UINT32 PRIMARY KEY, t STRING(16), ws STRING(32));")
    es.sql("""INSERT INTO m VALUES (1, 'Alpha', 'a b c'),
      | (2, 'ALPINE', 'd e'), (3, 'beta', 'f');""".stripMargin)
    // ILIKE: case-insensitive both directions; NOT ILIKE; ESCAPE refused
    val ir = es.sql("SELECT k FROM m WHERE t ILIKE 'al%' ORDER BY k;").collect()
    assert(ir.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val nir = es.sql("SELECT k FROM m WHERE t NOT ILIKE '%A' ORDER BY k;").collect()
    assert(nir.map(_.getLong(0)).toSeq == Seq(2L))
    intercept[IllegalArgumentException] {
      es.sql("SELECT k FROM m WHERE t ILIKE 'a!%' ESCAPE '!';")
    }
    // STAR EXCLUDE: projection minus named columns; unknown name is loud
    val er = es.sql("SELECT * EXCLUDE (ws) FROM m ORDER BY k;")
    assert(er.columns.toSeq == Seq("k", "t"))
    intercept[IllegalArgumentException] {
      es.sql("SELECT * EXCLUDE (nope) FROM m;").collect()
    }
    // array tier 2: membership, join, 1-based + out-of-range extraction
    val ar = es.sql(
      """SELECT k, LIST_CONTAINS(STRING_SPLIT(ws, ' '), 'b') AS has_b,
        | ARRAY_TO_STRING(STRING_SPLIT(ws, ' '), '-') AS j,
        | LIST_EXTRACT(STRING_SPLIT(ws, ' '), 2) AS w2,
        | LIST_EXTRACT(STRING_SPLIT(ws, ' '), 9) AS oob
        |FROM m ORDER BY k;""".stripMargin).collect()
    assert(ar.map(_.getBoolean(1)).toSeq == Seq(true, false, false))
    assert(ar.map(_.getString(2)).toSeq == Seq("a-b-c", "d-e", "f"))
    assert(Option(ar(0).getString(3)).contains("b") && ar(2).isNullAt(3))
    assert(ar.forall(_.isNullAt(4)))
    // VALUES inline table: joins + groups; arity mismatch is loud
    val vr = es.sql(
      """SELECT s, COUNT(*) AS n
        |FROM (VALUES ('Alpha', 10), ('beta', 20)) v(s, w)
        |JOIN m ON s = t GROUP BY s ORDER BY s;""".stripMargin).collect()
    assert(vr.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Alpha", 1L), ("beta", 1L)))
    intercept[IllegalArgumentException] {
      es.sql("SELECT s FROM (VALUES (1, 2), (3)) v(s, w);")
    }
  }

  test("SQL r14 tier 3: GROUP/ORDER BY ALL, DISTINCT ON, ARG_MAX family") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE g (k UINT32 PRIMARY KEY, grp STRING(4), v UINT32);")
    es.sql("""INSERT INTO g VALUES (1, 'a', 10), (2, 'a', 30),
      | (3, 'b', 20), (4, 'b', 5);""".stripMargin)
    val ga = es.sql(
      "SELECT grp, COUNT(*) AS n FROM g GROUP BY ALL ORDER BY ALL;").collect()
    assert(ga.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 2L)))
    // DISTINCT ON: first row per grp by v; missing tiebreak is refused
    val don = es.sql(
      "SELECT DISTINCT ON (grp) grp, k, v FROM g ORDER BY grp, v;").collect()
    assert(don.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 4L)))
    intercept[IllegalArgumentException] {
      es.sql("SELECT DISTINCT ON (grp) grp, k FROM g ORDER BY grp;").collect()
    }
    // ARG_MAX/ARG_MIN over the unique k; ANY_VALUE over the group key
    val am = es.sql(
      """SELECT grp, ARG_MAX(v, k) AS last_v, ARG_MIN(v, k) AS first_v,
        | ANY_VALUE(grp) AS g2
        |FROM g GROUP BY grp ORDER BY grp;""".stripMargin).collect()
    assert(am.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 30L, 10L), ("b", 5L, 20L)))
    assert(am.map(_.getString(3)).toSeq == Seq("a", "b"))
  }

  test("SQL r14 tier 4: STAR REPLACE and NTH_VALUE") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE r4 (k UINT32 PRIMARY KEY, v UINT32, t STRING(8));")
    es.sql("INSERT INTO r4 VALUES (1, 5, 'a'), (2, 7, 'b'), (3, 9, 'c');")
    // REPLACE recomputes in place (name + position kept), composes with
    // EXCLUDE; unknown names are loud
    val rr = es.sql(
      "SELECT * EXCLUDE (t) REPLACE (v * 10 AS v) FROM r4 ORDER BY k;")
    assert(rr.columns.toSeq == Seq("k", "v"))
    assert(rr.collect().map(_.getLong(1)).toSeq == Seq(50L, 70L, 90L))
    intercept[IllegalArgumentException] {
      es.sql("SELECT * REPLACE (v AS nope) FROM r4;").collect()
    }
    // NTH_VALUE: NULL until the running frame reaches n rows
    val nv = es.sql(
      """SELECT k, NTH_VALUE(v, 2) OVER (ORDER BY k
        | ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n2
        |FROM r4 ORDER BY k;""".stripMargin).collect()
    assert(nv(0).isNullAt(1) && nv(1).getLong(1) == 7L && nv(2).getLong(1) == 7L)
  }

  test("SQL r14: STRFTIME directive translation is loud on the unsupported") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ts (k UINT32 PRIMARY KEY, d TIMESTAMP);")
    es.sql("INSERT INTO ts VALUES (1, NOW());")
    // portable subset renders; %% escapes; unsupported %a and bare
    // literal letters are refused at lowering, not silently re-styled
    val r = es.sql(
      "SELECT STRFTIME(d, '%Y-%m-%d') AS ymd, STRFTIME(d, '%H:%M:%S%%') AS hms FROM ts;")
      .collect()
    assert(r(0).getString(0).matches("""\d{4}-\d{2}-\d{2}"""))
    assert(r(0).getString(1).matches("""\d{2}:\d{2}:\d{2}%"""))
    intercept[IllegalArgumentException] {
      es.sql("SELECT STRFTIME(d, '%a') AS x FROM ts;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT STRFTIME(d, 'T%Y') AS x FROM ts;")
    }
  }

  test("SQL r14 tier 6: ASOF JOIN — backward/forward, ties, LEFT vs inner") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE lt (k UINT32 PRIMARY KEY, g UINT32, t UINT32);")
    es.sql("INSERT INTO lt VALUES (1, 1, 10), (2, 1, 20), (3, 2, 5), (4, 3, 30);")
    es.sql("CREATE TABLE rt (k UINT32 PRIMARY KEY, g UINT32, t UINT32, v UINT32);")
    es.sql("INSERT INTO rt VALUES (1, 1, 10, 100), (2, 1, 15, 150), (3, 2, 6, 60);")
    // backward (>=): nearest right time at-or-before; the t=10 tie MATCHES
    val back = es.sql(
      """SELECT a.k AS k, b.v AS v FROM lt a ASOF LEFT JOIN rt b
        |  ON a.g = b.g AND a.t >= b.t ORDER BY k;""".stripMargin).collect()
    assert(back.map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq ==
      Seq(100L, 150L, -1L, -1L))
    // inner form drops the unmatched left rows
    val inner = es.sql(
      """SELECT a.k AS k, b.v AS v FROM lt a ASOF JOIN rt b
        |  ON a.g = b.g AND a.t >= b.t ORDER BY k;""".stripMargin).collect()
    assert(inner.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // forward (<=): nearest right time at-or-after
    val fwd = es.sql(
      """SELECT a.k AS k, b.v AS v FROM lt a ASOF LEFT JOIN rt b
        |  ON a.g = b.g AND a.t <= b.t ORDER BY k;""".stripMargin).collect()
    assert(fwd.map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq ==
      Seq(100L, -1L, 60L, -1L))
    // the time conjunct resolves by ownership in either written order
    val flip = es.sql(
      """SELECT a.k AS k, b.v AS v FROM lt a ASOF JOIN rt b
        |  ON a.g = b.g AND b.t <= a.t ORDER BY k;""".stripMargin).collect()
    assert(flip.map(_.getLong(1)).toSeq == Seq(100L, 150L))
    // strict bounds are refused loudly (a tie would silently not match)
    intercept[IllegalArgumentException] {
      es.sql("SELECT a.k AS k FROM lt a ASOF JOIN rt b ON a.g = b.g AND a.t > b.t;")
    }
  }

  test("SQL r15: ASOF JOIN NULL times and duplicate-(key,time) determinism") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE lt (k UINT32 PRIMARY KEY, g UINT32, t NULLABLE(UINT32));")
    es.sql("INSERT INTO lt VALUES (1, 1, 20), (2, 1, NULL), (3, 2, 20);")
    es.sql("CREATE TABLE rt (k UINT32 PRIMARY KEY, g UINT32, t NULLABLE(UINT32), v UINT32);")
    // g=1 has ONLY a NULL-time right row: it must never match anything
    // (r14 ADVICE: under the old ordering it was carried by
    // last(ignoreNulls) as the "match" for every left row)
    es.sql("INSERT INTO rt VALUES (1, 1, NULL, 999), (2, 2, 10, 60);")
    val back = es.sql(
      """SELECT a.k AS k, b.v AS v FROM lt a ASOF LEFT JOIN rt b
        |  ON a.g = b.g AND a.t >= b.t ORDER BY k;""".stripMargin).collect()
    // k=1: right side of g=1 is all NULL-time -> no match;
    // k=2: LEFT time NULL -> unmatched; k=3: real match survives
    assert(back.map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq ==
      Seq(-1L, -1L, 60L))
    val inner = es.sql(
      """SELECT a.k AS k, b.v AS v FROM lt a ASOF JOIN rt b
        |  ON a.g = b.g AND a.t >= b.t ORDER BY k;""".stripMargin).collect()
    assert(inner.map(_.getLong(0)).toSeq == Seq(3L))
    // duplicate (key, time) right rows: the match tiebreaks on the whole
    // right struct (r14 ADVICE) — deterministically the GREATER row
    // under the carried (k, g, t, v) struct order, on any partitioning
    es.sql("INSERT INTO rt VALUES (3, 2, 10, 50), (9, 2, 10, 70);")
    (1 to 3).foreach { _ =>
      val dup = es.sql(
        """SELECT a.k AS k, b.v AS v FROM lt a ASOF JOIN rt b
          |  ON a.g = b.g AND a.t >= b.t ORDER BY k;""".stripMargin).collect()
      assert(dup.map(_.getLong(1)).toSeq == Seq(70L))
    }
  }

  test("SQL r15: ARRAY_AGG keeps NULL elements, NULLS LAST both directions") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ax (k UINT32 PRIMARY KEY, g STRING(2), x NULLABLE(UINT32));")
    es.sql("INSERT INTO ax VALUES (1, 'a', 1), (2, 'a', NULL), (3, 'a', 3);")
    // DuckDB parity (probed, r14 ADVICE): array_agg KEEPS the NULL
    // element (Spark collect_list would drop it) and default null order
    // is NULLS LAST for ASC and DESC alike
    val asc = es.sql(
      "SELECT g, ARRAY_AGG(x ORDER BY x) AS xs FROM ax GROUP BY g;")
      .collect()(0).getSeq[Any](1)
    assert(asc == Seq(1L, 3L, null))
    val desc = es.sql(
      "SELECT g, ARRAY_AGG(x ORDER BY x DESC) AS xs FROM ax GROUP BY g;")
      .collect()(0).getSeq[Any](1)
    assert(desc == Seq(3L, 1L, null))
  }

  test("SQL r15: frame-free aggregate windows; rank functions stay order-mandatory") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE w (k UINT32 PRIMARY KEY, g STRING(2), v UINT32);")
    es.sql("INSERT INTO w VALUES (1, 'a', 10), (2, 'a', 30), (3, 'b', 60);")
    // SUM(v) OVER () and OVER (PARTITION BY g) with no ORDER BY: the
    // share-of-total idiom — whole-partition frame, no sort in the plan
    val r = es.sql(
      """SELECT k, SUM(v) OVER () AS tot,
        | SUM(v) OVER (PARTITION BY g) AS gt,
        | COUNT(*) OVER (PARTITION BY g) AS gn
        |FROM w ORDER BY k;""".stripMargin).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(100L, 100L, 100L))
    assert(r.map(_.getLong(2)).toSeq == Seq(40L, 40L, 60L))
    assert(r.map(_.getLong(3)).toSeq == Seq(2L, 2L, 1L))
    // named WINDOW spec without ORDER BY works for aggregates…
    val n = es.sql(
      """SELECT k, SUM(v) OVER pw AS gt FROM w
        |WINDOW pw AS (PARTITION BY g) ORDER BY k;""".stripMargin).collect()
    assert(n.map(_.getLong(1)).toSeq == Seq(40L, 40L, 60L))
    // …but rank/navigation functions still demand an order, inline or named
    intercept[IllegalArgumentException] {
      es.sql("SELECT k, ROW_NUMBER() OVER (PARTITION BY g) AS rn FROM w;")
    }
    intercept[IllegalArgumentException] {
      es.sql("""SELECT k, ROW_NUMBER() OVER pw AS rn FROM w
               |WINDOW pw AS (PARTITION BY g);""".stripMargin)
    }
    // a frame clause without ORDER BY is refused (position needs order)
    intercept[IllegalArgumentException] {
      es.sql("""SELECT k, SUM(v) OVER (PARTITION BY g
               | ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS x FROM w;"""
        .stripMargin)
    }
  }

  test("SQL r15: UPDATE … FROM — joined SET, cardinality, passthrough") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30);")
    es.sql("CREATE TABLE s (k UINT32 PRIMARY KEY, d UINT32);")
    es.sql("INSERT INTO s VALUES (1, 100), (2, 200);")
    // SET reads the joined row (both sides, qualified); unmatched k=3
    // passes through unchanged
    es.sql("UPDATE t SET v = s.d + t.v FROM s WHERE t.k = s.k;")
    assert(es.sql("SELECT v FROM t ORDER BY k;").collect().map(_.getLong(0)).toSeq
      == Seq(110L, 220L, 30L))
    // >1 source match per target row raises (MERGE cardinality doctrine)
    es.sql("CREATE TABLE dup (k UINT32 PRIMARY KEY, j UINT32, d UINT32);")
    es.sql("INSERT INTO dup VALUES (1, 1, 5), (2, 1, 6);")
    intercept[IllegalArgumentException] {
      es.sql("UPDATE t SET v = dup.d FROM dup WHERE t.k = dup.j;")
    }
    // the failed statement left the table intact (atomic)
    assert(es.sql("SELECT v FROM t ORDER BY k;").collect().map(_.getLong(0)).toSeq
      == Seq(110L, 220L, 30L))
    // WHERE is mandatory with FROM
    intercept[IllegalArgumentException] {
      es.sql("UPDATE t SET v = s.d FROM s;")
    }
  }

  test("SQL r15: DELETE … USING — joined delete, three-valued keep") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30);")
    es.sql("CREATE TABLE s (k UINT32 PRIMARY KEY, flag NULLABLE(UINT32));")
    es.sql("INSERT INTO s VALUES (1, 1), (2, NULL);")
    // k=1 matches (flag = 1 TRUE) → deleted; k=2's predicate is NULL →
    // not TRUE → kept; k=3 has no source row → kept
    es.sql("DELETE FROM t USING s WHERE t.k = s.k AND s.flag = 1;")
    assert(es.sql("SELECT k FROM t ORDER BY k;").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      es.sql("DELETE FROM t USING s;")
    }
  }

  test("SQL r15: USING SAMPLE — deterministic hash membership, nested rates") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO t VALUES " +
      (1 to 40).map(i => s"($i, ${i * 10})").mkString(", ") + ";")
    def ks(q: String): Seq[Long] =
      es.sql(q).collect().map(_.getLong(0)).toSeq
    val s10a = ks("SELECT k FROM t USING SAMPLE 10% ON k ORDER BY k;")
    val s10b = ks("SELECT k FROM t USING SAMPLE 10 PERCENT ON k ORDER BY k;")
    // deterministic: same rows every run, both spellings
    assert(s10a == s10b && s10a == ks("SELECT k FROM t USING SAMPLE 10% ON k ORDER BY k;"))
    // nested rates: the 10% sample is a SUBSET of the 50% sample (hash
    // membership is bucket < n — monotone in n, the C19 contract)
    val s50 = ks("SELECT k FROM t USING SAMPLE 50% ON k ORDER BY k;")
    assert(s10a.forall(s50.contains))
    assert(ks("SELECT k FROM t USING SAMPLE 100% ON k ORDER BY k;").size == 40)
    assert(ks("SELECT k FROM t USING SAMPLE 0% ON k;").isEmpty)
    // composes with WHERE as a plain conjunct
    val s50hi = ks("SELECT k FROM t USING SAMPLE 50% ON k WHERE v >= 200 ORDER BY k;")
    assert(s50hi == s50.filter(_ >= 20))
    // out-of-range rate and missing ON are refused
    intercept[IllegalArgumentException] {
      es.sql("SELECT k FROM t USING SAMPLE 101% ON k;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT k FROM t USING SAMPLE 10%;")
    }
  }

  test("SQL r16: USING SAMPLE on SIGNED keys — nonnegative hash, 0% empty") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    // a registered DataFrame may carry signed values the dialect's own
    // UINT domains never produce — the r16 ADVICE case: truncated modulo
    // hashed negative keys negative, so they passed EVERY rate
    es.register("neg", spark.range(-20, 20).withColumnRenamed("id", "k"))
    def ks(q: String): Seq[Long] =
      es.sql(q).collect().map(_.getLong(0)).toSeq
    assert(ks("SELECT k FROM neg USING SAMPLE 0% ON k;").isEmpty)
    assert(ks("SELECT k FROM neg USING SAMPLE 100% ON k;").size == 40)
    val s10 = ks("SELECT k FROM neg USING SAMPLE 10% ON k ORDER BY k;")
    val s50 = ks("SELECT k FROM neg USING SAMPLE 50% ON k ORDER BY k;")
    assert(s10.forall(s50.contains)) // nested-subset contract holds signed
    assert(s50.size > 0 && s50.size < 40)
  }

  test("SQL r16: NATURAL JOIN composes with relation aliases") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE a (k UINT32 PRIMARY KEY, x UINT32);")
    es.sql("INSERT INTO a VALUES (1, 10), (2, 20);")
    es.sql("CREATE TABLE b (k UINT32 PRIMARY KEY, y UINT32);")
    es.sql("INSERT INTO b VALUES (1, 100), (3, 300);")
    // r16 ADVICE: aliasCols prefixed every name, so an aliased side used
    // to report "no shared column names" — shared keys now compare on the
    // underlying names and merge to ONE bare output column
    // the shared key merges to ONE bare column; non-shared columns keep
    // their alias qualification, as everywhere else in the dialect
    val r = es.sql("SELECT k, t1.x, t2.y FROM a t1 NATURAL JOIN b t2;").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(2))).toSeq == Seq((1L, 100L)))
    // non-shared columns stay reachable via their alias
    val q = es.sql("SELECT t2.y FROM a t1 NATURAL JOIN b t2;").collect()
    assert(q.map(_.getLong(0)).toSeq == Seq(100L))
    // genuinely-zero shared names still refused with aliases present
    es.sql("CREATE TABLE c (z UINT32 PRIMARY KEY);")
    intercept[IllegalArgumentException] {
      es.sql("SELECT k FROM a t1 NATURAL JOIN c t3;")
    }
  }

  test("SQL r16: EXPLAIN ANALYZE 'where' only when attributable") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, sfDir))
    es.register("embeddings", graft.sources.Tables.embeddings(spark, sfDir))
    def metrics(q: String): Map[String, Long] =
      es.sql(q).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // joined select: two scans — a single fused 'where' number would be
    // unattributable (r16 ADVICE); r17 (r16 verdict #6) emits one row
    // PER scan-level filter instead, labeled by its base relation
    val j = metrics(
      """EXPLAIN ANALYZE SELECT d.lang, COUNT(*) AS n FROM documents d
        |JOIN embeddings e ON d.doc_id = e.vec_id
        |WHERE d.n_chars >= 300 GROUP BY d.lang;""".stripMargin)
    assert(!j.contains("where"), j)
    assert(j("result") > 0, j)
    // the documents-side scan filter is the user WHERE (+ the join key's
    // isNotNull, vacuous on testdata) — its count is the semantic count,
    // attributed by name
    val semDocs = graft.sources.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("n_chars") >= 300).count()
    assert(j.get("where:documents").contains(semDocs), j)
    // HAVING: its post-aggregate FilterExec must NOT contaminate 'where'
    val h = metrics(
      """EXPLAIN ANALYZE SELECT lang, COUNT(*) AS n FROM documents
        |WHERE n_chars >= 300 GROUP BY lang HAVING COUNT(*) > 1;""".stripMargin)
    val semWhere = graft.sources.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("n_chars") >= 300).count()
    assert(h.get("where").contains(semWhere), h)
    assert(h("result") > 0, h)
  }

  test("SQL r16: COPY TO / COPY FROM — round trip, guards, atomicity") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    withTempDir("graft_copy_spec") { base =>
      es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY, v UINT32);")
      es.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30);")
      es.sql(s"COPY t TO '$base/t_csv' (FORMAT CSV, HEADER);")
      // read-back APPEND into an empty twin, then once more = doubled rows
      es.sql("CREATE TABLE t2 (k UINT32 PRIMARY KEY, v UINT32);")
      es.sql(s"COPY t2 FROM '$base/t_csv' (FORMAT CSV, HEADER);")
      assert(es.sql("SELECT k FROM t2 ORDER BY k;").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      es.sql(s"COPY t2 FROM '$base/t_csv' (FORMAT CSV, HEADER);")
      assert(es.sql("SELECT COUNT(*) AS n FROM t2;").collect()(0).getLong(0) == 6L)
      // format inference from the path extension
      es.sql(s"COPY t TO '$base/t.json';")
      es.sql("CREATE TABLE t3 (k UINT32 PRIMARY KEY, v UINT32);")
      es.sql(s"COPY t3 FROM '$base/t.json';")
      assert(es.sql("SELECT COUNT(*) AS n FROM t3;").collect()(0).getLong(0) == 3L)
      // COPY (SELECT …) TO — query export; FROM with a query is refused
      es.sql(s"COPY (SELECT k FROM t WHERE v >= 20) TO '$base/q' (FORMAT PARQUET);")
      es.sql("CREATE TABLE tq (k UINT32 PRIMARY KEY);")
      es.sql(s"COPY tq FROM '$base/q' (FORMAT PARQUET);")
      assert(es.sql("SELECT k FROM tq ORDER BY k;").collect()
        .map(_.getLong(0)).toSeq == Seq(2L, 3L))
      intercept[IllegalArgumentException] {
        es.sql(s"COPY (SELECT k FROM t) FROM '$base/q' (FORMAT PARQUET);")
      }
      // PARTITION_BY: hive-partitioned egress — one directory per key
      // value; a partitioned read-back recovers every row, and the
      // partition column survives as data
      es.sql(s"COPY t TO '$base/part' (FORMAT PARQUET, PARTITION_BY (v));")
      assert(new java.io.File(s"$base/part/v=10").isDirectory)
      es.sql("CREATE TABLE tp (k UINT32 PRIMARY KEY, v UINT32);")
      es.sql(s"COPY tp FROM '$base/part' (FORMAT PARQUET);")
      assert(es.sql("SELECT k, v FROM tp ORDER BY k;").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
      intercept[IllegalArgumentException] {
        es.sql(s"COPY t TO '$base/p2' (FORMAT PARQUET, PARTITION_BY (zz));")
      }
      intercept[IllegalArgumentException] {
        es.sql(s"COPY tp FROM '$base/part' (FORMAT PARQUET, PARTITION_BY (v));")
      }
      // COPY TO exports a VIEW's relation; COPY FROM needs a real table
      es.sql("CREATE VIEW tv AS SELECT k FROM t;")
      es.sql(s"COPY tv TO '$base/tv' (FORMAT PARQUET);")
      intercept[IllegalArgumentException] {
        es.sql(s"COPY tv FROM '$base/tv' (FORMAT PARQUET);")
      }
      // unknown format / uninferrable path are refused at parse time
      intercept[IllegalArgumentException] {
        es.sql(s"COPY t TO '$base/x' (FORMAT xml);")
      }
      intercept[IllegalArgumentException] { es.sql(s"COPY t TO '$base/x';") }
      // domain validation is eager and ATOMIC: a UINT8 target refuses an
      // out-of-range file value and keeps its rows untouched
      es.sql("CREATE TABLE wide (k UINT32 PRIMARY KEY, v UINT16);")
      es.sql("INSERT INTO wide VALUES (9, 300);")
      es.sql(s"COPY wide TO '$base/wide_csv' (FORMAT CSV, HEADER);")
      es.sql("CREATE TABLE narrow (k UINT32 PRIMARY KEY, v UINT8);")
      es.sql("INSERT INTO narrow VALUES (1, 5);")
      intercept[Exception] {
        es.sql(s"COPY narrow FROM '$base/wide_csv' (FORMAT CSV, HEADER);")
      }
      assert(es.sql("SELECT COUNT(*) AS n FROM narrow;").collect()(0).getLong(0) == 1L)
    }
  }

  test("SQL r16: DISTINCT aggregates + typed literals — guards") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO t VALUES (1, 10), (2, 10), (3, 30);")
    // SUM/AVG(DISTINCT) collapse duplicate values; MIN/MAX unchanged
    val r = es.sql(
      """SELECT SUM(DISTINCT v) AS s, AVG(DISTINCT v) AS a,
        | MIN(DISTINCT v) AS lo, MAX(DISTINCT v) AS hi FROM t;""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 40L && r.getDouble(1) == 20.0 &&
      r.getLong(2) == 10L && r.getLong(3) == 30L, r)
    // multi-column distinct: (1,10) (2,10) (3,30) → 3 distinct pairs,
    // 2 distinct v values; COUNT-only (SUM over a tuple is meaningless)
    val mc = es.sql(
      "SELECT COUNT(DISTINCT k, v) AS np, COUNT(DISTINCT v) AS nv FROM t;")
      .collect()(0)
    assert(mc.getLong(0) == 3L && mc.getLong(1) == 2L, mc)
    intercept[Exception] {
      es.sql("SELECT SUM(DISTINCT k, v) AS s FROM t;")
    }
    // refusals: DISTINCT over an expression / over a window
    intercept[IllegalArgumentException] {
      es.sql("SELECT SUM(DISTINCT v + 1) AS s FROM t;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT SUM(DISTINCT v) OVER (PARTITION BY k ORDER BY k) AS s FROM t;")
    }
    // malformed typed literals fail at lowering, loudly
    intercept[Exception] { es.sql("SELECT k FROM t WHERE k > DATE 'nope';") }
    // ann_search nprobe out of range refused
    es.register("emb", graft.sources.Tables.embeddings(spark, sfDir))
    intercept[IllegalArgumentException] {
      es.sql("SELECT vec_id FROM ann_search(emb, vec_id, embedding, 0, 5, 0);")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT vec_id FROM ann_search(emb, vec_id, embedding, 0, 5, 9);")
    }
  }

  test("SQL r15: pipeline TVFs — winnow/minhash_neardup/semdedup shapes") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE docs (id UINT32 PRIMARY KEY, body STRING(200));")
    es.sql("INSERT INTO docs VALUES " +
      "(1, 'the quick brown fox jumps over the lazy dog today'), " +
      "(2, 'the quick brown fox jumps over the lazy dog today'), " +
      "(3, 'an entirely different document about spark engines');")
    // winnow: column mapping works on any relation (id/body, not
    // doc_id/text); identical texts select identical fingerprints
    val w = es.sql(
      "SELECT doc_id, n_grams, fp_sum FROM winnow(docs, id, body) ORDER BY doc_id;")
      .collect()
    assert(w.length == 3 && w(0).getLong(2) == w(1).getLong(2))
    // minhash_neardup: the verbatim pair (1,2) is found, the unrelated
    // doc 3 pairs with nothing
    val m = es.sql(
      "SELECT id_a, id_b, jaccard FROM minhash_neardup(docs, id, body) ORDER BY id_a;")
      .collect()
    assert(m.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(m(0).getDouble(2) == 1.0)
  }

  test("SQL r15: aggregates over expressions — SUM(CASE…), operand CASE") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY, g STRING(2), v UINT32);")
    es.sql("INSERT INTO t VALUES (1,'a',10), (2,'a',3), (3,'b',7), (4,'b',20);")
    // conditional aggregation: per-row CASE evaluates pre-aggregation
    val r = es.sql(
      """SELECT g,
        | SUM(CASE WHEN v >= 10 THEN v ELSE 0 END) AS big_sum,
        | SUM(v % 10) AS mod_sum,
        | AVG(CASE WHEN v >= 10 THEN 1 ELSE 0 END) * 100 AS big_pct
        |FROM t GROUP BY g
        |HAVING SUM(CASE WHEN v >= 10 THEN v ELSE 0 END) > 5
        |ORDER BY g;""".stripMargin).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(10L, 20L))
    assert(r.map(_.getLong(2)).toSeq == Seq(3L, 7L))
    assert(r.map(_.getDouble(3)).toSeq == Seq(50.0, 50.0))
    // operand-level CASE works in computed items and WHERE too
    val w = es.sql(
      """SELECT k, (CASE WHEN v >= 10 THEN 1 ELSE 0 END) + 1 AS bucket
        |FROM t WHERE CASE WHEN g = 'a' THEN v ELSE 0 END > 5
        |ORDER BY k;""".stripMargin).collect()
    assert(w.map(r0 => (r0.getLong(0), r0.getLong(1))).toSeq == Seq((1L, 2L)))
    // column-only aggregates refuse expression arguments loudly
    intercept[IllegalArgumentException] {
      es.sql("SELECT MEDIAN(v + 1) AS m FROM t;")
    }
    // expression aggregates stay off the window path
    intercept[IllegalArgumentException] {
      es.sql("SELECT SUM(v + 1) OVER (ORDER BY k) AS s FROM t;")
    }
  }

  test("SQL r15: EXPLAIN ANALYZE reports runtime counts = semantic counts") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    // a parquet-backed relation: in-memory literal tables constant-fold
    // their filters into the LocalRelation at optimization time (no
    // FilterExec survives to carry a metric — correctly so)
    es.register("documents", graft.sources.Tables.documents(spark, sfDir))
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val semWhere = docs.filter(org.apache.spark.sql.functions
      .col("n_chars") >= 300).count()
    val semGroups = docs.filter(org.apache.spark.sql.functions
      .col("n_chars") >= 300).select("lang").distinct().count()
    val m = es.sql(
      """EXPLAIN ANALYZE SELECT lang, COUNT(*) AS n FROM documents
        |WHERE n_chars >= 300 GROUP BY lang;""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("where") == semWhere, m)  // rows surviving the WHERE
    assert(m("result") == semGroups, m)
    // plain EXPLAIN still returns the formatted plan
    val plan = es.sql("EXPLAIN SELECT doc_id FROM documents;").collect()
    assert(plan.exists(_.getString(0).contains("Physical Plan")))
  }

  test("SQL r15: ALTER TABLE add/rename/drop, TRUNCATE, guards") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO t VALUES (1, 10), (2, 20);")
    // ADD: NULL-filled, then writable like any CREATE-time column —
    // including INSERT-time domain validation of the declared type
    es.sql("ALTER TABLE t ADD COLUMN w NULLABLE(UINT8);")
    assert(es.sql("SELECT w FROM t;").collect().forall(_.isNullAt(0)))
    es.sql("UPDATE t SET w = 5 WHERE k = 1;")
    intercept[Exception] { es.sql("UPDATE t SET w = 70000 WHERE k = 2;") }
    // non-nullable add refused (existing rows have no value)
    intercept[IllegalArgumentException] {
      es.sql("ALTER TABLE t ADD COLUMN bad UINT32;")
    }
    // key-role adds refused
    intercept[IllegalArgumentException] {
      es.sql("ALTER TABLE t ADD COLUMN p2 NULLABLE(UINT32) PRIMARY KEY;")
    }
    // RENAME keeps data and declared-type metadata (domain still enforced)
    es.sql("ALTER TABLE t RENAME COLUMN w TO w2;")
    assert(es.sql("SELECT w2 FROM t WHERE k = 1;").collect()(0).getShort(0) == 5)
    intercept[Exception] { es.sql("UPDATE t SET w2 = 70000 WHERE k = 2;") }
    intercept[IllegalArgumentException] {
      es.sql("ALTER TABLE t RENAME COLUMN w2 TO v;") // clash
    }
    // DROP: plain column ok; the PRIMARY KEY column refused
    es.sql("ALTER TABLE t DROP COLUMN w2;")
    assert(!es.sql("SELECT v FROM t;").columns.contains("w2"))
    intercept[IllegalArgumentException] {
      es.sql("ALTER TABLE t DROP COLUMN k;")
    }
    // TRUNCATE: rows go, schema (and writability) survives
    es.sql("TRUNCATE TABLE t;")
    assert(es.sql("SELECT k FROM t;").collect().isEmpty)
    es.sql("INSERT INTO t VALUES (9, 90);")
    assert(es.sql("SELECT v FROM t;").collect()(0).getLong(0) == 90L)
  }

  test("SQL r15: NATURAL JOIN — shared-name keys; zero shared refused") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE a (k UINT32 PRIMARY KEY, x UINT32);")
    es.sql("INSERT INTO a VALUES (1, 10), (2, 20);")
    es.sql("CREATE TABLE b (k UINT32 PRIMARY KEY, y UINT32);")
    es.sql("INSERT INTO b VALUES (1, 100), (3, 300);")
    val r = es.sql("SELECT k, x, y FROM a NATURAL JOIN b;").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(2))).toSeq == Seq((1L, 100L)))
    // NATURAL LEFT keeps unmatched left rows
    val l = es.sql("SELECT k, y FROM a NATURAL LEFT JOIN b ORDER BY k;").collect()
    assert(l.length == 2 && l(1).isNullAt(1))
    es.sql("CREATE TABLE c (z UINT32 PRIMARY KEY);")
    intercept[IllegalArgumentException] {
      es.sql("SELECT k FROM a NATURAL JOIN c;")
    }
    // parenthesized operand comparisons compose in predicates (r15)
    val pc = es.sql("SELECT k FROM a WHERE (x + k) > 11 ORDER BY k;").collect()
    assert(pc.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("SQL r15: calendar tier 3 — STRPTIME/MAKE_DATE/LAST_DAY") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE d (k UINT32 PRIMARY KEY, s STRING(10));")
    es.sql("INSERT INTO d VALUES (1, '2024-02-05');")
    val r = es.sql(
      """SELECT k, STRPTIME(s, '%Y-%m-%d') AS ts,
        | LAST_DAY(STRPTIME(s, '%Y-%m-%d')) AS eom,
        | MAKE_DATE(2024, 2, 29) AS leap
        |FROM d;""".stripMargin).collect()(0)
    assert(r.getTimestamp(1).toString.startsWith("2024-02-05"))
    assert(r.getDate(2).toString == "2024-02-29") // leap-year February
    assert(r.getDate(3).toString == "2024-02-29")
    // unsupported directives refuse loudly (the STRFTIME doctrine)
    intercept[IllegalArgumentException] {
      es.sql("SELECT STRPTIME(s, '%a') AS x FROM d;")
    }
    // a non-conforming string errors loudly (ANSI parse, both engines)
    intercept[Exception] {
      es.sql("SELECT STRPTIME(s, '%Y/%m/%d') AS x FROM d;").collect()
    }
  }

  test("SQL r15: circular view references raise; DROP VIEW kind-checks") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE base (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO base VALUES (1, 10), (2, 20);")
    es.sql("CREATE VIEW va AS SELECT k, v FROM base;")
    es.sql("CREATE VIEW vb AS SELECT k, v FROM va;")
    // self-referential OR REPLACE raises AT CREATE (r14 ADVICE: the old
    // validate-against-old-definitions order installed it, then the next
    // reference recursed to StackOverflowError)
    val e1 = intercept[IllegalArgumentException] {
      es.sql("CREATE OR REPLACE VIEW va AS SELECT k FROM va;")
    }
    assert(e1.getMessage.contains("circular view reference"))
    // two-view cycle raises too, and the previous definition survives
    val e2 = intercept[IllegalArgumentException] {
      es.sql("CREATE OR REPLACE VIEW va AS SELECT k FROM vb;")
    }
    assert(e2.getMessage.contains("circular view reference"))
    assert(es.sql("SELECT k FROM vb ORDER BY k;").collect().length == 2)
    // DROP VIEW on a TABLE errors even under IF EXISTS (kind mismatch is
    // reported, not swallowed as absence — DuckDB-identical)
    val e3 = intercept[IllegalArgumentException] {
      es.sql("DROP VIEW IF EXISTS base;")
    }
    assert(e3.getMessage.contains("is a table"))
    intercept[IllegalArgumentException] { es.sql("DROP VIEW base;") }
    es.sql("DROP VIEW vb;")
    es.sql("DROP VIEW va;")
  }

  test("SQL r14 tier 6: ANY/ALL quantified comparisons — three-valued edges") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE xs (k UINT32 PRIMARY KEY, x UINT32);")
    es.sql("INSERT INTO xs VALUES (1, 5), (2, 10), (3, 15);")
    es.sql("CREATE TABLE ns (k UINT32 PRIMARY KEY, x NULLABLE(UINT32));")
    es.sql("INSERT INTO ns VALUES (1, 5), (2, NULL);")
    def ks(q: String): Seq[Long] =
      es.sql(q).collect().map(_.getLong(0)).toSeq.sorted
    // empty set: ALL is vacuously TRUE, ANY is FALSE
    assert(ks("SELECT k FROM xs WHERE x > ALL (SELECT x FROM xs WHERE x > 100) ORDER BY k;")
      == Seq(1L, 2L, 3L))
    assert(ks("SELECT k FROM xs WHERE x > ANY (SELECT x FROM xs WHERE x > 100) ORDER BY k;")
      == Seq.empty)
    // the ordinary extremes
    assert(ks("SELECT k FROM xs WHERE x >= ALL (SELECT x FROM xs) ORDER BY k;") == Seq(3L))
    assert(ks("SELECT k FROM xs WHERE x < ANY (SELECT x FROM xs) ORDER BY k;") == Seq(1L, 2L))
    // a NULL in the set blocks TRUE for ALL (undecided → NULL → dropped)
    // but cannot block an extreme-decided ANY satisfier
    assert(ks("SELECT k FROM xs WHERE x > ALL (SELECT x FROM ns) ORDER BY k;") == Seq.empty)
    assert(ks("SELECT k FROM xs WHERE x > ANY (SELECT x FROM ns) ORDER BY k;") == Seq(2L, 3L))
    // equality quantifiers: = ALL over a singleton, = ANY ≡ IN, != ALL ≡ NOT IN
    assert(ks("SELECT k FROM xs WHERE x = ALL (SELECT x FROM xs WHERE x = 10) ORDER BY k;")
      == Seq(2L))
    assert(ks("SELECT k FROM xs WHERE x = ANY (SELECT x FROM xs WHERE x >= 10) ORDER BY k;")
      == Seq(2L, 3L))
    assert(ks("SELECT k FROM xs WHERE x != ALL (SELECT x FROM xs WHERE x >= 10) ORDER BY k;")
      == Seq(1L))
    assert(ks("SELECT k FROM xs WHERE x != ANY (SELECT x FROM xs WHERE x = 10) ORDER BY k;")
      == Seq(1L, 3L))
  }

  test("SQL r14 tier 6: generate_series spine — inclusive stop, steps, alias") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    def ns(q: String): Seq[Long] =
      es.sql(q).collect().map(_.getLong(0)).toSeq
    assert(ns("SELECT generate_series AS n FROM generate_series(1, 5) ORDER BY 1;")
      == (1L to 5L))
    assert(ns("SELECT g.generate_series AS n FROM generate_series(0, 10, 5) g ORDER BY 1;")
      == Seq(0L, 5L, 10L))
    assert(ns("SELECT generate_series AS n FROM generate_series(3, 1, -1) ORDER BY 1 DESC;")
      == Seq(3L, 2L, 1L))
    intercept[IllegalArgumentException] {
      es.sql("SELECT generate_series AS n FROM generate_series(1, 5, 0);").collect()
    }
  }

  test("SQL r14 tier 7: PIVOT/UNPIVOT statements, ARRAY_AGG, CROSS JOIN") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE sales (k UINT32 PRIMARY KEY, cat STRING(4), q UINT32);")
    es.sql("""INSERT INTO sales VALUES (1, 'a', 5), (2, 'a', 7), (3, 'b', 9),
             | (4, 'c', 2);""".stripMargin)
    // PIVOT: static IN list → static schema; absent combos are NULL
    val pv = es.sql(
      "PIVOT sales ON cat IN ('a', 'b', 'z') USING SUM(q) GROUP BY k;")
    assert(pv.columns.toSeq == Seq("k", "a", "b", "z"))
    val r1 = pv.filter(col("k") === 1).collect()(0)
    assert(r1.getLong(1) == 5L && r1.isNullAt(2) && r1.isNullAt(3))
    // UNPIVOT: wide → long, NULL cells excluded (the DuckDB default)
    es.sql("CREATE TABLE wide (k UINT32 PRIMARY KEY, u NULLABLE(UINT32), h NULLABLE(UINT32));")
    es.sql("INSERT INTO wide VALUES (1, 10, 20), (2, NULL, 30);")
    val up = es.sql("UNPIVOT wide ON u, h INTO NAME what VALUE n;").collect()
    assert(up.length == 3) // the NULL cell is excluded
    assert(up.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "u", 10L), (1L, "h", 20L), (2L, "h", 30L)))
    // ARRAY_AGG: inner ORDER BY mandatory, own column only, DESC honored
    val ag = es.sql(
      """SELECT cat, ARRAY_AGG(q ORDER BY q DESC) AS qs FROM sales
        |GROUP BY cat ORDER BY cat;""".stripMargin).collect()
    assert(ag(0).getSeq[Long](1) == Seq(7L, 5L))
    intercept[IllegalArgumentException] {
      es.sql("SELECT cat, ARRAY_AGG(q ORDER BY k) AS qs FROM sales GROUP BY cat;")
    }
    // CROSS JOIN: the Cartesian product, alias-qualified
    val cj = es.sql(
      """SELECT a.k AS ak, b.k AS bk FROM sales a CROSS JOIN sales b
        |WHERE a.k <= 2 AND b.k <= 2 ORDER BY ak, bk;""".stripMargin).collect()
    assert(cj.length == 4)
  }

  test("SQL r14 tier 8: SEMI/ANTI joins, INTERVAL frames, COLUMNS selector") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE us (k UINT32 PRIMARY KEY, nm STRING(8));")
    es.sql("INSERT INTO us VALUES (1, 'ann'), (2, 'bob'), (3, 'cat');")
    es.sql("CREATE TABLE ev (e UINT32 PRIMARY KEY, uk UINT32, d TIMESTAMP);")
    es.sql("""INSERT INTO ev VALUES (1, 1, '2024-01-01'),
             | (2, 1, '2024-01-05'), (3, 1, '2024-01-20'),
             | (4, 2, '2024-01-02');""".stripMargin)
    // SEMI: one output row per matching left row, never duplicated by
    // multiple matches; ANTI: the complement; both left-columns-only
    val semi = es.sql(
      "SELECT u.k AS k FROM us u SEMI JOIN ev e ON u.k = e.uk ORDER BY k;").collect()
    assert(semi.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val anti = es.sql(
      "SELECT u.k AS k FROM us u ANTI JOIN ev e ON u.k = e.uk ORDER BY k;").collect()
    assert(anti.map(_.getLong(0)).toSeq == Seq(3L))
    // INTERVAL frame: trailing 7 calendar days by value, not by rows
    val iv = es.sql(
      """SELECT e, COUNT(*) OVER (PARTITION BY uk ORDER BY d
        |  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS n7
        |FROM ev ORDER BY e;""".stripMargin).collect()
    assert(iv.map(_.getLong(1)).toSeq == Seq(1L, 2L, 1L, 1L))
    // a non-midnight timestamp key raises instead of silently bucketing
    es.sql("CREATE TABLE evx (e UINT32 PRIMARY KEY, d TIMESTAMP);")
    es.sql("INSERT INTO evx VALUES (1, '2024-01-01 10:30:00');")
    val ex = intercept[Exception] {
      es.sql("""SELECT e, COUNT(*) OVER (PARTITION BY e ORDER BY d
        |  RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS n
        |FROM evx ORDER BY e;""".stripMargin).collect()
    }
    assert(ex.getMessage.contains("non-midnight") ||
      Option(ex.getCause).exists(_.getMessage.contains("non-midnight")))
    // scalar tier 4: edit distance 0 on equal strings; regex no-match is
    // the empty string (both engines); BIGINT-widened results
    val fz = es.sql(
      """SELECT LEVENSHTEIN(nm, nm) AS z, REGEXP_EXTRACT(nm, '(\d+)', 1) AS dg,
        | JSON_ARRAY_LENGTH('[1,[2,3],4]') AS jl
        |FROM us WHERE k = 1;""".stripMargin).collect()(0)
    assert(fz.getLong(0) == 0L && fz.getString(1) == "" && fz.getLong(2) == 3L)
    // COLUMNS('re'): schema-ordered regex projection; zero matches loud
    val cs = es.sql("SELECT COLUMNS('^(e|uk)$') FROM ev WHERE e = 1;")
    assert(cs.columns.toSeq == Seq("e", "uk"))
    intercept[IllegalArgumentException] {
      es.sql("SELECT COLUMNS('zzz') FROM ev;")
    }
  }

  test("SQL r14 tier 9: CREATE VIEW true semantics, DROP, EXCLUDE CURRENT ROW") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE base (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO base VALUES (1, 10), (2, 20);")
    es.sql("CREATE VIEW big AS SELECT k, v FROM base WHERE v >= 20;")
    assert(es.sql("SELECT k FROM big ORDER BY k;").collect().length == 1)
    // TRUE view semantics: a later INSERT is visible through the view
    es.sql("INSERT INTO base VALUES (3, 30);")
    assert(es.sql("SELECT k FROM big ORDER BY k;").collect().length == 2)
    // OR REPLACE swaps the definition; plain CREATE VIEW refuses a dup
    intercept[IllegalArgumentException] {
      es.sql("CREATE VIEW big AS SELECT k FROM base;")
    }
    es.sql("CREATE OR REPLACE VIEW big AS SELECT k, v FROM base WHERE v >= 30;")
    assert(es.sql("SELECT k FROM big;").collect().length == 1)
    // kind checks: DROP TABLE on a view refused; names cannot shadow
    intercept[IllegalArgumentException] { es.sql("DROP TABLE big;") }
    intercept[IllegalArgumentException] {
      es.sql("CREATE TABLE big (x UINT32 PRIMARY KEY);")
    }
    // DESCRIBE on a view reports its OUTPUT schema (no key roles)
    val dv = es.sql("DESCRIBE big;").collect()
    assert(dv.map(_.getString(0)).toSeq == Seq("k", "v"))
    assert(dv.forall(r => !r.getBoolean(4) && !r.getBoolean(5)))
    // DML against a view is refused loudly — it must never materialize a
    // same-named shadow table
    intercept[IllegalArgumentException] {
      es.sql("INSERT INTO big VALUES (9, 90);")
    }
    intercept[IllegalArgumentException] { es.sql("DELETE FROM big;") }
    intercept[IllegalArgumentException] {
      es.sql("UPDATE big SET v = 1 WHERE k = 3;")
    }
    es.sql("DROP VIEW big;")
    intercept[IllegalArgumentException] { es.sql("SELECT k FROM big;") }
    es.sql("DROP VIEW IF EXISTS big;") // tolerant once gone
    es.sql("DROP TABLE base;")
    intercept[IllegalArgumentException] { es.sql("SELECT k FROM base;") }
    // EXCLUDE CURRENT ROW edges: single-row group → NULL sum/avg, 0 count
    es.sql("CREATE TABLE xr (k UINT32 PRIMARY KEY, g STRING(2), v UINT32);")
    es.sql("INSERT INTO xr VALUES (1, 'a', 10), (2, 'a', 30), (3, 'b', 7);")
    val r = es.sql(
      """SELECT k,
        | SUM(v) OVER (PARTITION BY g ORDER BY k
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |   EXCLUDE CURRENT ROW) AS ps,
        | COUNT(*) OVER (PARTITION BY g ORDER BY k
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |   EXCLUDE CURRENT ROW) AS pn,
        | AVG(v) OVER (PARTITION BY g ORDER BY k
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |   EXCLUDE CURRENT ROW) AS pa
        |FROM xr ORDER BY k;""".stripMargin).collect()
    assert(r(0).getLong(1) == 30L && r(0).getLong(2) == 1L && r(0).getDouble(3) == 30.0)
    assert(r(2).isNullAt(1) && r(2).getLong(2) == 0L && r(2).isNullAt(3))
    // only SUM/COUNT/AVG take the exclusion; MIN is refused loudly
    intercept[IllegalArgumentException] {
      es.sql("""SELECT k, MIN(v) OVER (PARTITION BY g ORDER BY k
        | ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        | EXCLUDE CURRENT ROW) AS m FROM xr;""".stripMargin)
    }
  }

  test("SQL r14: USING join — one key column, bare-name requirement") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ua (k UINT32 PRIMARY KEY, x UINT32);")
    es.sql("INSERT INTO ua VALUES (1, 10), (2, 20);")
    es.sql("CREATE TABLE ub (k UINT32 PRIMARY KEY, y UINT32);")
    es.sql("INSERT INTO ub VALUES (2, 200), (3, 300);")
    val r = es.sql("SELECT k, x, y FROM ua JOIN ub USING (k);").collect()
    assert(r.length == 1 && r(0).getLong(0) == 2L)
    // one key column in the output, not two
    assert(es.sql("SELECT * FROM ua JOIN ub USING (k);").columns.count(_ == "k") == 1)
    // LEFT form keeps unmatched left rows
    assert(es.sql("SELECT k FROM ua LEFT JOIN ub USING (k) ORDER BY k;")
      .collect().length == 2)
    // aliased relations rename columns, so the bare name is gone — loud
    intercept[IllegalArgumentException] {
      es.sql("SELECT a.k AS k FROM ua a JOIN ub b USING (k);")
    }
  }

  test("SQL r14: LATERAL — per-key top-n, inner semantics, loud edges") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE own (k UINT32 PRIMARY KEY, nm STRING(4));")
    es.sql("INSERT INTO own VALUES (1, 'a'), (2, 'b'), (3, 'c');")
    es.sql("CREATE TABLE item (i UINT32 PRIMARY KEY, ok UINT32, v UINT32);")
    es.sql("""INSERT INTO item VALUES (1, 1, 10), (2, 1, 30), (3, 1, 20),
             | (4, 2, 5);""".stripMargin)
    // top-2 per key; owner 3 has no items → dropped (inner semantics)
    val r = es.sql(
      """SELECT o.k AS k, l.v AS v FROM own o, LATERAL (
        |  SELECT v FROM item WHERE ok = o.k ORDER BY v DESC, i LIMIT 2) l
        |ORDER BY k, v DESC;""".stripMargin).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 30L), (1L, 20L), (2L, 5L)))
    // LIMIT without ORDER BY and zero correlations are refused loudly
    intercept[IllegalArgumentException] {
      es.sql("""SELECT o.k AS k FROM own o, LATERAL (
        | SELECT v FROM item WHERE ok = o.k LIMIT 2) l;""".stripMargin)
        .collect()
    }
    intercept[IllegalArgumentException] {
      es.sql("""SELECT o.k AS k FROM own o, LATERAL (
        | SELECT v FROM item WHERE v > 1 ORDER BY v LIMIT 2) l;""".stripMargin)
        .collect()
    }
  }

  test("SQL extension: derived tables — FROM (SELECT ...) inline views") {
    val es = new graft.sql.EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, sfDir))
    // aggregate over an aggregating subquery — the shape CTE-free users write
    val out = es.sql(
      """SELECT COUNT(*) AS n_langs, MAX(n) AS biggest
        |FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang) g;""".stripMargin)
      .collect()
    val direct = es.sql("SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang;")
      .collect()
    assert(out(0).getLong(0) == direct.length)
    assert(out(0).getLong(1) == direct.map(_.getLong(1)).max)
    // WHERE + ORDER BY compose on the derived relation; alias optional
    val top = es.sql(
      """SELECT lang, n FROM (SELECT lang, COUNT(*) AS n FROM documents
        | GROUP BY lang) WHERE n > 0 ORDER BY n DESC, lang LIMIT 3;""".stripMargin)
      .collect()
    assert(top.length == 3 && top(0).getLong(1) >= top(1).getLong(1))
    // a derived table may itself be a UNION chain
    val u = es.sql(
      """SELECT COUNT(*) AS n FROM (
        |  SELECT doc_id FROM documents WHERE lang = 'en'
        |  UNION ALL SELECT doc_id FROM documents WHERE lang = 'en') b;""".stripMargin)
      .collect()
    val en = es.sql("SELECT COUNT(*) AS n FROM documents WHERE lang = 'en';")
      .collect()(0).getLong(0)
    assert(u(0).getLong(0) == 2 * en)
  }

  test("SQL extension: INSERT INTO ... SELECT loads a query result") {
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE src (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO src VALUES (1, 10), (2, 20), (3, 30);")
    es.sql("CREATE TABLE dst (k UINT32 PRIMARY KEY, v UINT32, tag STRING(8) DEFAULT 'x');")
    // filtered projection, explicit target list — tag takes its DEFAULT
    es.sql("INSERT INTO dst (k, v) SELECT k, v FROM src WHERE v > 10;")
    val rows = es.sql("SELECT k, v, tag FROM dst ORDER BY k;")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((2L, 20L, "x"), (3L, 30L, "x")))
    // computed items load too, and the insert composes with a second read
    es.sql("INSERT INTO dst (k, v) SELECT k + 100 AS k2, v * 2 AS v2 FROM src WHERE v = 10;")
    assert(es.sql("SELECT k, v FROM dst ORDER BY k;").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 20L), (3L, 30L), (101L, 20L)))
    // arity mismatch is loud
    val err = intercept[IllegalArgumentException] {
      es.sql("INSERT INTO dst (k, v) SELECT k FROM src;")
    }
    assert(err.getMessage.contains("arity mismatch"))
  }

  test("SQL extension: correlated scalar subquery in SELECT decorrelates") {
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE cu (ck UINT32 PRIMARY KEY, nm STRING(16));")
    es.sql("CREATE TABLE od (oid UINT32 PRIMARY KEY, ock UINT32, amt UINT32);")
    es.sql("INSERT INTO cu VALUES (1, 'ann'), (2, 'bob'), (3, 'cid');")
    es.sql("INSERT INTO od VALUES (10, 1, 5), (11, 1, 9), (12, 2, 7);")
    val out = es.sql(
      """SELECT ck, (SELECT COUNT(*) FROM od WHERE ock = ck) AS n,
        | (SELECT MAX(amt) FROM od WHERE ock = ck) AS mx
        |FROM cu ORDER BY ck;""".stripMargin).collect()
    // COUNT zero-fills the empty group (ck=3); MAX keeps ANSI NULL
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 1L, 0L))
    assert(out(0).getLong(2) == 9L && out(1).getLong(2) == 7L && out(2).isNullAt(2))
    // a local predicate composes with the correlation
    val filt = es.sql(
      """SELECT ck, (SELECT SUM(amt) FROM od
        | WHERE ock = ck AND amt > 6) AS big
        |FROM cu ORDER BY ck;""".stripMargin).collect()
    assert(filt(0).getLong(1) == 9L && filt(1).getLong(1) == 7L && filt(2).isNullAt(1))
    // non-aggregate correlated subqueries are refused loudly
    val err = intercept[IllegalArgumentException] {
      es.sql("SELECT ck, (SELECT amt FROM od WHERE ock = ck) AS a FROM cu;")
    }
    assert(err.getMessage.contains("exactly one aggregate"))
  }

  test("SQL extension: EXPLAIN SELECT surfaces the physical plan") {
    val es = new graft.sql.EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, sfDir))
    val plan = es.sql("EXPLAIN SELECT doc_id FROM documents WHERE lang = 'en';")
      .collect().map(_.getString(0)).mkString("\n")
    // the front-end's promise made visible: the filter reaches the parquet
    // scan as a pushed filter, and only the needed columns are read
    assert(plan.contains("Scan parquet"), plan)
    assert(plan.contains("PushedFilters") && plan.contains("lang"), plan)
    assert(!plan.contains("text"), plan) // column-pruned
  }

  test("SQL extension: [NOT] EXISTS — correlated, uncorrelated, composed") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("c", Seq((1L, "ann"), (2L, "bo"), (3L, "cy")).toDF("ck", "nm"))
    es.register("o", Seq((10L, 1L, "F"), (11L, 1L, "O"), (12L, 2L, "O"))
      .toDF("ok", "ock", "st"))
    // correlated EXISTS: customers with any order
    assert(es.sql("SELECT ck FROM c WHERE EXISTS (SELECT 1 FROM o WHERE ock = ck);")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // NOT EXISTS with a local predicate: no F order
    assert(es.sql(
      "SELECT ck FROM c WHERE NOT EXISTS (SELECT 1 FROM o WHERE ock = ck AND st = 'F');")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // composed under OR with a plain predicate
    assert(es.sql(
      "SELECT ck FROM c WHERE nm = 'cy' OR EXISTS (SELECT 1 FROM o WHERE ock = ck AND st = 'F');")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // uncorrelated EXISTS folds to an existence bit
    assert(es.sql(
      "SELECT ck FROM c WHERE EXISTS (SELECT 1 FROM o WHERE st = 'X');")
      .collect().isEmpty)
    assert(es.sql(
      "SELECT ck FROM c WHERE EXISTS (SELECT 1 FROM o WHERE st = 'F');")
      .collect().length == 3)
  }

  test("SQL extension: EXISTS over joined and grouped subqueries (r9 lift)") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("c", Seq((1L, "ann"), (2L, "bo"), (3L, "cy")).toDF("ck", "nm"))
    es.register("o", Seq((10L, 1L, "F"), (11L, 1L, "O"), (12L, 2L, "O"),
      (13L, 2L, "O")).toDF("ok", "ock", "st"))
    es.register("li", Seq((10L, 5L), (11L, 60L), (12L, 70L)).toDF("lok", "qty"))
    // joined EXISTS: customers with an order whose line has qty >= 50
    assert(es.sql(
      """SELECT ck FROM c WHERE EXISTS (
        |  SELECT 1 FROM o JOIN li ON ok = lok
        |  WHERE ock = ck AND qty >= 50);""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // joined NOT EXISTS composes the same marker
    assert(es.sql(
      """SELECT ck FROM c WHERE NOT EXISTS (
        |  SELECT 1 FROM o JOIN li ON ok = lok
        |  WHERE ock = ck AND qty >= 50);""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L))
    // grouped EXISTS + HAVING: customers with some status class of >= 2
    // orders (only ck=2 has two 'O' orders)
    assert(es.sql(
      """SELECT ck FROM c WHERE EXISTS (
        |  SELECT COUNT(*) AS n FROM o WHERE ock = ck
        |  GROUP BY st HAVING n >= 2);""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L))
    // grouped uncorrelated EXISTS: any status with >= 3 orders (yes: 'O'
    // has exactly 3) / >= 4 (no) — the existence bit prices one group scan
    assert(es.sql(
      """SELECT ck FROM c WHERE EXISTS (
        |  SELECT COUNT(*) AS n FROM o GROUP BY st HAVING n >= 3);""".stripMargin)
      .collect().length == 3)
    assert(es.sql(
      """SELECT ck FROM c WHERE EXISTS (
        |  SELECT COUNT(*) AS n FROM o GROUP BY st HAVING n >= 4);""".stripMargin)
      .collect().isEmpty)
  }

  test("SQL extension: correlated scalar subquery nested in arithmetic") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("c", Seq((1L, 5L), (2L, 100L), (3L, 7L)).toDF("ck", "bal"))
    es.register("o", Seq((10L, 1L, 30L), (11L, 1L, 40L), (12L, 2L, 10L))
      .toDF("ok", "ock", "amt"))
    // sub * 10 on the LEFT of the comparison, nested in arithmetic — the
    // r8 ADVICE shape that previously fell through to the standalone path
    assert(es.sql(
      """SELECT ck FROM c
        |WHERE (SELECT COUNT(*) FROM o WHERE ock = ck) * 10 >= 20;""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L))
    // nested on both sides, with the identical atom attached once
    assert(es.sql(
      """SELECT ck FROM c
        |WHERE (SELECT SUM(amt) FROM o WHERE ock = ck) / 2
        |      < (SELECT SUM(amt) FROM o WHERE ock = ck) - 30;""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L))
    // CAST composes around the attached atom
    assert(es.sql(
      """SELECT ck FROM c
        |WHERE CAST((SELECT COUNT(*) FROM o WHERE ock = ck) AS DOUBLE) / 4
        |      > 0.4;""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L))
    // a joined inner relation decorrelates too: o ⋈ c2 on ock = c2.ck
    // keeps all three orders; per outer ck the SUM is 30 + 40 = 70 (ck 1),
    // 10 (ck 2) and NULL (ck 3, no orders → comparison unknown)
    assert(es.sql(
      """SELECT ck FROM c
        |WHERE (SELECT SUM(amt) FROM o JOIN c AS c2 ON ock = c2.ck
        |       WHERE ock = ck) > 0;""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("SQL index-backed search: ann_search prunes to the probe's cell directory") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.register("embeddings", graft.sources.Tables.embeddings(spark, sfDir))
    val df = es.sql(
      "SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 0, 10);")
    val plan = df.queryExecution.executedPlan.toString
    // the probe-cell restriction must be a partition-directory filter on
    // the persisted layout, not a row filter over the whole corpus
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"), plan)
    assert(df.count() == 10)
    // metric_search round-trips the layout too: doc 0 at dist 0
    es.register("doc_hashes", graft.sources.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.call_function("simhash64",
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " ")).as("h")))
    val m = es.sql(
      "SELECT doc_id, dist FROM metric_search(doc_hashes, doc_id, h, 0, 2);")
    assert(m.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(m.collect().exists(r => r.getLong(0) == 0L && r.getInt(1) == 0))
  }

  test("SQL extension: ORDER BY expressions (hidden-column lowering)") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq((1L, 10L), (2L, 25L), (3L, 18L)).toDF("id", "v"))
    // sort by a computed scalar that is not a select item
    assert(es.sql("SELECT id FROM t ORDER BY ABS(v - 20), id;")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    // arithmetic + DESC, mixed with a plain name key
    assert(es.sql("SELECT id, v FROM t ORDER BY v * v DESC, id;")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 1L))
    // the hidden sort column must not leak into the output schema
    assert(es.sql("SELECT id FROM t ORDER BY v - 11 LIMIT 2;")
      .columns.toSeq == Seq("id"))
    // composes with aggregation output names
    assert(es.sql(
      "SELECT id, SUM(v) AS sv FROM t GROUP BY id ORDER BY sv / 2 DESC, id LIMIT 1;")
      .head().getLong(0) == 2L)
  }

  test("SQL extension: WITH RECURSIVE reaches the set fixpoint") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    // a 4-node chain and a 2-cycle: reachability from node 1
    es.register("edges", Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 5L))
      .toDF("src", "dst"))
    es.register("seed", Seq(Tuple1(1L)).toDF("node"))
    val r = es.sql(
      """WITH RECURSIVE reach AS (
        |  SELECT node FROM seed
        |  UNION
        |  SELECT e.dst AS node FROM reach r JOIN edges e ON r.node = e.src)
        |SELECT node FROM reach ORDER BY node;""".stripMargin)
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // a cycle converges under set semantics instead of looping forever
    es.register("seed2", Seq(Tuple1(5L)).toDF("node"))
    val c = es.sql(
      """WITH RECURSIVE reach AS (
        |  SELECT node FROM seed2
        |  UNION
        |  SELECT e.dst AS node FROM reach r JOIN edges e ON r.node = e.src)
        |SELECT node FROM reach ORDER BY node;""".stripMargin)
    assert(c.collect().map(_.getLong(0)).toSeq == Seq(5L, 6L))
    // UNION ALL on the recursive arm is refused loudly
    val err = intercept[IllegalArgumentException] {
      es.sql(
        """WITH RECURSIVE reach AS (
          |  SELECT node FROM seed
          |  UNION ALL
          |  SELECT e.dst AS node FROM reach r JOIN edges e ON r.node = e.src)
          |SELECT node FROM reach;""".stripMargin)
    }
    assert(err.getMessage.contains("UNION"), err.getMessage)
    // without RECURSIVE, the self-reference fails as an unknown table
    intercept[IllegalArgumentException] {
      es.sql(
        """WITH reach AS (
          |  SELECT node FROM seed
          |  UNION
          |  SELECT e.dst AS node FROM reach r JOIN edges e ON r.node = e.src)
          |SELECT node FROM reach;""".stripMargin)
    }
  }

  test("SQL extension: MERGE INTO (update + insert + delete, ANSI cardinality)") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("k", "v", "tag"))
    es.register("src", Seq((2L, 200L), (4L, 400L)).toDF("k", "v"))
    // upsert: matched row updated FROM THE SOURCE ROW, unmatched source
    // row inserted with a NULL for the unlisted column
    val merged = es.sql(
      """MERGE INTO t AS a USING src AS b ON a.k = b.k
        |WHEN MATCHED THEN UPDATE SET v = b.v + 1
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (b.k, b.v);""".stripMargin)
    val rows = merged.collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 10L, Some("a")), (2L, 201L, Some("b")),
      (3L, 30L, Some("c")), (4L, 400L, None)), rows.toSeq)
    // the rewrite landed in the catalog: a follow-up SELECT sees it
    assert(es.sql("SELECT COUNT(*) AS n FROM t;").head().getLong(0) == 4L)
    // WHEN MATCHED THEN DELETE removes exactly the matched rows
    es.register("t2", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    es.register("kill", Seq(Tuple1(2L)).toDF("k"))
    es.sql("""MERGE INTO t2 AS a USING kill AS b ON a.k = b.k
             |WHEN MATCHED THEN DELETE;""".stripMargin)
    assert(es.sql("SELECT k FROM t2;").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    // ANSI cardinality: the standard raises only when a TARGET row
    // matches more than one source row. t2 is {1} here, so duplicate
    // source keys on k=2 match nothing — legal, and with no NOT MATCHED
    // clause the statement is a no-op...
    es.register("dup", Seq((2L, 1L), (2L, 2L)).toDF("k", "v"))
    es.sql("""MERGE INTO t2 AS a USING dup AS b ON a.k = b.k
             |WHEN MATCHED THEN UPDATE SET v = b.v;""".stripMargin)
    assert(es.sql("SELECT k FROM t2;").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    // ...while duplicates that DO match a target row are refused loudly
    es.register("t3", Seq((2L, 20L)).toDF("k", "v"))
    val err = intercept[IllegalArgumentException] {
      es.sql("""MERGE INTO t3 AS a USING dup AS b ON a.k = b.k
               |WHEN MATCHED THEN UPDATE SET v = b.v;""".stripMargin)
    }
    assert(err.getMessage.contains("more than one source row"),
      err.getMessage)
    // ...and unmatched duplicates each INSERT (MERGE evaluates against
    // the original target — ANSI bag semantics, PK dedup is compaction)
    es.sql("""MERGE INTO t2 AS a USING dup AS b ON a.k = b.k
             |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (b.k, b.v);""".stripMargin)
    assert(es.sql("SELECT COUNT(*) AS n FROM t2;").head().getLong(0) == 3L)
  }

  test("INSERT-time value-domain validation: UINT bounds, STRING(n), UUID") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("""CREATE TABLE dom (
             |  k UINT32 PRIMARY KEY,
             |  small NULLABLE(UINT8),
             |  wide NULLABLE(UINT64),
             |  note NULLABLE(STRING(8)),
             |  tag NULLABLE(UUID)
             |);""".stripMargin)
    // boundary values are accepted...
    es.sql("""INSERT INTO dom (k, small, wide, note, tag) VALUES
             |(1, 255, 18446744073709551615, 'exactly8',
             | '123e4567-e89b-12d3-a456-426614174000');""".stripMargin)
    assert(es.sql("SELECT COUNT(*) AS n FROM dom;").head().getLong(0) == 1L)
    // ...boundary+1 is rejected at statement time, per declared type
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] { es.sql(sql) }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    rejects("INSERT INTO dom (k, small) VALUES (2, 256);", "UINT8")
    rejects("INSERT INTO dom (k, small) VALUES (2, -1);", "UINT8")
    rejects("INSERT INTO dom (k, small) VALUES (2, 1.5);", "UINT8")
    rejects("INSERT INTO dom (k, wide) VALUES (2, 18446744073709551616);",
      "UINT64")
    rejects("INSERT INTO dom (k, note) VALUES (2, 'nine_char');",
      "STRING(8)")
    rejects("INSERT INTO dom (k, tag) VALUES (2, 'not-a-uuid');", "UUID")
    rejects("INSERT INTO dom (k) VALUES (4294967296);", "UINT32")
    // expression-valued writes are validated EAGERLY at statement time:
    // an out-of-domain UPDATE fails atomically — the statement throws,
    // and the table stays intact and fully readable (r10 ADVICE: no
    // poisoned lazy plan surfacing on a later unrelated SELECT)
    es.sql("INSERT INTO dom (k, small) VALUES (3, 200);")
    val e = intercept[IllegalArgumentException] {
      es.sql("UPDATE dom SET small = small + 100 WHERE k = 3;")
    }
    assert(e.getMessage.contains("out of domain"), e.getMessage)
    // atomic failure: the old value survives and reads fine
    assert(es.sql("SELECT small FROM dom WHERE k = 3;").head()
      .getShort(0) == 200)
    // fractional expression values are rejected too (would silently
    // truncate through the cast otherwise)
    val ef = intercept[IllegalArgumentException] {
      es.sql("UPDATE dom SET small = small / 3 WHERE k = 3;")
    }
    assert(ef.getMessage.contains("out of domain"), ef.getMessage)
    // string literals routed at numeric columns pass the same numeric
    // domain check as numeric literals
    rejects("INSERT INTO dom (k, small) VALUES (9, '300');", "UINT8")
    rejects("INSERT INTO dom (k, small) VALUES (9, 'abc');", "not numeric")
    // in-range expression writes still pass, on the SAME table the
    // failed statements above left untouched
    es.sql("UPDATE dom SET small = small + 50 WHERE k = 3;")
    assert(es.sql("SELECT small FROM dom WHERE k = 3;").head()
      .getShort(0) == 250)
  }

  test("SQL extension: GROUP BY expressions (twin alias + hidden key)") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq((1L, 101L), (2L, 150L), (3L, 260L), (4L, 120L))
      .toDF("id", "v"))
    // twin shape: the select item computes the same expression, so the
    // group key resolves to its alias and appears in the output
    val twin = es.sql(
      "SELECT ABS(v - 150) AS dev, COUNT(*) AS n FROM t GROUP BY ABS(v - 150);")
    assert(twin.columns.toSeq == Seq("dev", "n"))
    assert(twin.count() == 4)
    // hidden shape: no select-item twin — the expression groups rows but
    // never appears in the output
    val hid = es.sql(
      "SELECT COUNT(*) AS n FROM t GROUP BY CAST(v / 100 AS BIGINT);")
    assert(hid.columns.toSeq == Seq("n"))
    assert(hid.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // composes with HAVING and scalar functions
    assert(es.sql(
      "SELECT COUNT(*) AS n FROM t GROUP BY ABS(v - 150) HAVING n >= 1;")
      .collect().map(_.getLong(0)).sum == 4L)
  }

  test("SQL lowering: plain agg aliased to another atom's canonical name") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq((1L, 10L, 100L), (1L, 20L, 200L)).toDF("g", "v", "x"))
    // the round-7 ADVICE trap: SUM(x) aliased to SUM(v)'s canonical name
    // (sum_v) must NOT hijack the SUM(v)/2 expression atom
    val r = es.sql(
      "SELECT g, SUM(x) AS sum_v, SUM(v) / 2 AS half_v FROM t GROUP BY g;").head()
    assert(r.getLong(1) == 300L, "plain aggregate under the stolen alias")
    assert(r.getDouble(2) == 15.0, s"expression read the wrong atom: ${r.getDouble(2)}")
  }

  test("SQL lowering: plain WHERE filters the window input (ANSI order)") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq(("a", 1L), ("b", 2L), ("a", 3L), ("b", 4L), ("a", 5L))
      .toDF("k", "v"))
    // the filter does NOT mention the window alias → it must restrict the
    // window input: ranks count only v >= 3 rows (ANSI), not all rows
    val rows = es.sql(
      """SELECT k, v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn
        |FROM t WHERE v >= 3 ORDER BY rn;""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(rows == Seq(("a", 5L, 1), ("b", 4L, 2), ("a", 3L, 3)), rows.toString)
    // while a window-alias filter stays the QUALIFY idiom (post-window)
    val q = es.sql(
      """SELECT k, v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn
        |FROM t WHERE rn <= 2 ORDER BY rn;""".stripMargin)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    assert(q == Seq((5L, 1), (4L, 2)), q.toString)
  }

  test("SQL extension: table functions reach the pipeline operators") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("docs", Seq((1L, "x y z"), (2L, "x y z"), (3L, "q r s"))
      .toDF("id", "body"))
    // dedup_exact keeps the min-id row per identical body, schema intact
    val kept = es.sql("SELECT id, body FROM dedup_exact(docs, id, body) ORDER BY id;")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 3L), kept.toString)
    // a table function composes with WHERE like any relation
    assert(es.sql(
      "SELECT id FROM dedup_exact(docs, id, body) WHERE body = 'q r s';")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    val err = intercept[IllegalArgumentException] {
      es.sql("SELECT id FROM no_such_fn(docs, id);")
    }
    assert(err.getMessage.contains("unknown table function"))
    // shuffle_order (r14): deterministic, seed-sensitive permutation key
    val k1 = es.sql(
      "SELECT id, shuffle_key FROM shuffle_order(docs, id, s1) ORDER BY shuffle_key, id;")
      .collect().map(_.getLong(0)).toSeq
    val k1b = es.sql(
      "SELECT id, shuffle_key FROM shuffle_order(docs, id, s1) ORDER BY shuffle_key, id;")
      .collect().map(_.getLong(0)).toSeq
    val k2 = es.sql(
      "SELECT id, shuffle_key FROM shuffle_order(docs, id, s2) ORDER BY shuffle_key, id;")
      .collect().map(_.getLong(0)).toSeq
    assert(k1 == k1b && k1.toSet == Set(1L, 2L, 3L))
    assert(k1 != k2 || k1 == k2) // seed changes keys; order may coincide on 3 rows
    val keysDiffer = es.sql(
      """SELECT a.shuffle_key AS x FROM shuffle_order(docs, id, s1) a
        |ORDER BY x LIMIT 1;""".stripMargin).collect()(0).getLong(0) !=
      es.sql("""SELECT a.shuffle_key AS x FROM shuffle_order(docs, id, s2) a
        |ORDER BY x LIMIT 1;""".stripMargin).collect()(0).getLong(0)
    assert(keysDiffer)
    // diversity_select (r14): quota bound per cell over a registered
    // embedding relation (ids < 8 are the deterministic centroids)
    es.register("vecs", Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (8L, Array(0.9f, 0.1f)), (9L, Array(0.1f, 0.9f)),
      (10L, Array(0.8f, 0.2f))).toDF("vid", "v"))
    val ds = es.sql(
      "SELECT cid, rank, vid, proto FROM diversity_select(vecs, vid, v, 2) ORDER BY cid, rank;")
      .collect()
    assert(ds.length <= 4 && ds.nonEmpty)
    assert(ds.forall(_.getLong(1) <= 2L))
  }

  test("NOW() and uuid() built-ins cover the reference functions") {
    val r = spark.sql("SELECT now() AS t, uuid() AS u, uuid() AS u2").head()
    assert(math.abs(r.getTimestamp(0).getTime - System.currentTimeMillis()) < 60000)
    assert(r.getString(1) != r.getString(2))
    assert(r.getString(1).matches("[0-9a-f-]{36}"))
  }

  test("SQL r17: lexical tier — comments, ||, exponents, quoted idents, unary minus") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE lx (k UINT32 PRIMARY KEY, v UINT32, s STRING);")
    es.sql("INSERT INTO lx VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a');")
    // comments are whitespace: leading, inline block, trailing line
    val r = es.sql(
      """-- leading comment
        |SELECT k, /* inline */ v -- trailing words ' with quote syntax
        |FROM lx WHERE v >= 20 ORDER BY k; -- tail""".stripMargin).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L, 3L), r.mkString)
    // an unterminated block comment is a loud lex error, not a mis-parse
    intercept[IllegalArgumentException] { es.sql("SELECT k FROM lx /* open;") }
    // || at ANSI precedence (looser than +); NULL-propagating both sides
    val c = es.sql(
      "SELECT s || '-' || CAST(v + 1 AS VARCHAR) AS tag FROM lx WHERE k = 1;")
      .collect()(0)
    assert(c.getString(0) == "a-11", c)
    assert(es.sql("SELECT NULL || 'x' AS z FROM lx WHERE k = 1;")
      .collect()(0).isNullAt(0))
    // scientific notation types as DOUBLE and compares like one
    assert(es.sql("SELECT k FROM lx WHERE v >= 2e1 ORDER BY k;").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
    val e = es.sql("SELECT 2.5e-1 AS x, 1E2 AS y FROM lx WHERE k = 1;")
      .collect()(0)
    assert(e.getDouble(0) == 0.25 && e.getDouble(1) == 100.0, e)
    // quoted identifiers: alias with a space, grouped AND ordered on
    val q = es.sql(
      """SELECT s AS "group key", COUNT(*) AS n FROM lx
        |GROUP BY "group key" ORDER BY "group key";""".stripMargin).collect()
    assert(q.map(x => (x.getString(0), x.getLong(1))).toSeq
      == Seq(("a", 2L), ("b", 1L)), q.mkString)
    // empty / unterminated quoted identifiers are loud lex errors
    intercept[IllegalArgumentException] { es.sql("SELECT k AS \"\" FROM lx;") }
    intercept[IllegalArgumentException] { es.sql("SELECT k AS \"x FROM lx;") }
    // unary minus: literal folding, 0-x lowering, binds tighter than *,
    // and a double negative parses as binary-minus-then-negative-literal
    val m = es.sql(
      "SELECT -v AS nv, -v * 2 AS nv2, 5 - -1 AS six FROM lx WHERE k = 1;")
      .collect()(0)
    assert(m.getLong(0) == -10L && m.getLong(1) == -20L && m.getLong(2) == 6L, m)
  }

  test("SQL r17: :: cast operator — chaining, precedence, DECIMAL form") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE co (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO co VALUES (1, 10), (2, 20);")
    val r = es.sql(
      """SELECT k::VARCHAR AS ks, v::DOUBLE AS vd, k::INT::VARCHAR AS chain,
        | -v::BIGINT AS nv, v::DECIMAL(10,2) AS vdec
        |FROM co WHERE k::BIGINT = 1;""".stripMargin).collect()(0)
    assert(r.getString(0) == "1" && r.getDouble(1) == 10.0 &&
      r.getString(2) == "1" && r.getLong(3) == -10L, r)
    assert(r.getDecimal(4).toPlainString == "10.00", r)
    // unary minus binds looser: -v::BIGINT is -(v::BIGINT), and the cast
    // target must be a type name — a dangling :: is a loud parse error
    intercept[IllegalArgumentException] { es.sql("SELECT v:: FROM co;") }
    intercept[IllegalArgumentException] { es.sql("SELECT v::123 AS x FROM co;") }
  }

  test("SQL r17: LAG/LEAD IGNORE NULLS is the n-th non-null neighbor") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE gf (k UINT32 PRIMARY KEY, v NULLABLE(UINT32));")
    es.sql("INSERT INTO gf VALUES (1, 10), (2, NULL), (3, NULL), (4, 40);")
    val r = es.sql(
      """SELECT k,
        | LAG(v, 1 IGNORE NULLS) OVER (ORDER BY k) AS pnn,
        | LAG(v, 1) OVER (ORDER BY k) AS p,
        | LEAD(v, 1 IGNORE NULLS) OVER (ORDER BY k) AS nnn
        |FROM gf ORDER BY k;""".stripMargin).collect()
    // k=3: previous non-null skips the NULL at k=2; plain LAG sees it
    assert(r(2).getLong(1) == 10L && r(2).isNullAt(2), r.mkString(","))
    // k=4: skips TWO nulls back to 10
    assert(r(3).getLong(1) == 10L, r.mkString(","))
    // k=2: next non-null skips k=3's NULL forward to 40
    assert(r(1).getLong(3) == 40L, r.mkString(","))
    assert(r(0).isNullAt(1), r.mkString(","))
  }

  test("SQL r17: COPY TO overwrite guard + option validation") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    withTempDir("graft_ow_spec") { base =>
      es.sql("CREATE TABLE t (k UINT32 PRIMARY KEY);")
      es.sql("INSERT INTO t VALUES (1), (2);")
      es.sql(s"COPY t TO '$base/out' (FORMAT PARQUET);") // fresh target: fine
      // a non-empty existing target is refused WITHOUT the explicit opt-in
      // — and the refusal leaves the existing data untouched
      intercept[IllegalArgumentException] {
        es.sql(s"COPY t TO '$base/out' (FORMAT PARQUET);")
      }
      assert(spark.read.parquet(s"$base/out").count() == 2L)
      es.sql("INSERT INTO t VALUES (3);")
      es.sql(s"COPY t TO '$base/out' (FORMAT PARQUET, OVERWRITE);")
      assert(spark.read.parquet(s"$base/out").count() == 3L)
      // HEADER is a csv concept — refused at parse time for json/parquet
      // in BOTH directions (r16 ADVICE: a silently ignored option is misuse)
      intercept[IllegalArgumentException] {
        es.sql(s"COPY t TO '$base/h' (FORMAT PARQUET, HEADER);")
      }
      intercept[IllegalArgumentException] {
        es.sql(s"COPY t FROM '$base/out' (FORMAT JSON, HEADER);")
      }
      // OVERWRITE is TO-only (FROM appends — nothing to overwrite)
      intercept[IllegalArgumentException] {
        es.sql(s"COPY t FROM '$base/out' (FORMAT PARQUET, OVERWRITE);")
      }
    }
  }

  test("SQL r17: TIMESTAMP literal accepts date-only text as midnight") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.register("orders", graft.sources.Tables.orders(spark, sfDir))
    // TIMESTAMP '1996-07-01' ≡ TIMESTAMP '1996-07-01 00:00:00' (r16
    // ADVICE: the ANSI-common shorthand DuckDB accepts)
    val a = es.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01';")
      .collect()(0).getLong(0)
    val b = es.sql(
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderdate < TIMESTAMP '1996-07-01 00:00:00';")
      .collect()(0).getLong(0)
    assert(a == b && a > 0, (a, b))
    // malformed text still fails loudly at lowering, not per row
    intercept[Exception] {
      es.sql("SELECT COUNT(*) AS n FROM orders WHERE o_orderdate < TIMESTAMP 'not-a-time';")
    }
  }

  test("SQL r17: ann_search cells dial — layouts keyed per cell count") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.register("embeddings", graft.sources.Tables.embeddings(spark, sfDir))
    // same probe, two layouts: both return k rows led by the probe itself
    val d8 = es.sql(
      "SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 0, 5) ORDER BY sim DESC, vec_id;")
      .collect()
    val d16 = es.sql(
      "SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 0, 5, 2, 16) ORDER BY sim DESC, vec_id;")
      .collect()
    assert(d8.length == 5 && d16.length == 5)
    assert(d8(0).getLong(0) == 0L && d16(0).getLong(0) == 0L)
    // dial bounds are validated
    intercept[IllegalArgumentException] {
      es.sql("SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 0, 5, 2, 0);")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 0, 5, 20, 16);")
    }
  }

  test("SQL r17: ANSI string spellings — SUBSTRING FROM/FOR, POSITION IN, TRIM modes") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE st (k UINT32 PRIMARY KEY, s STRING);")
    es.sql("INSERT INTO st VALUES (1, 'xx-hello-xx');")
    val r = es.sql(
      """SELECT SUBSTRING(s FROM 4 FOR 5) AS a,
        | SUBSTRING(s FROM 4) AS b,
        | SUBSTRING(s, 4, 5) AS c,
        | POSITION('hello' IN s) AS p,
        | POSITION('zz' IN s) AS p0,
        | TRIM(BOTH 'x-' FROM s) AS tb,
        | TRIM(LEADING 'x-' FROM s) AS tl,
        | TRIM(TRAILING 'x-' FROM s) AS tt
        |FROM st;""".stripMargin).collect()(0)
    assert(r.getString(0) == "hello" && r.getString(1) == "hello-xx" &&
      r.getString(2) == "hello", r)
    // POSITION is 1-based, 0 when absent, BIGINT-comparable
    assert(r.getInt(3) == 4 && r.getInt(4) == 0, r)
    // 'chars' is a character SET: both x and - strip from the ends
    assert(r.getString(5) == "hello" && r.getString(6) == "hello-xx" &&
      r.getString(7) == "xx-hello", r)
    // the trim set must be a string literal, and POSITION needs IN
    intercept[IllegalArgumentException] {
      es.sql("SELECT TRIM(BOTH 123 FROM s) AS x FROM st;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT POSITION('a', s) AS x FROM st;")
    }
  }

  test("SQL r17: IS [NOT] DISTINCT FROM is two-valued; ANSI FETCH pagination") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE nd (k UINT32 PRIMARY KEY, v NULLABLE(UINT32));")
    es.sql("INSERT INTO nd VALUES (1, 10), (2, NULL), (3, 20);")
    // NULL IS DISTINCT FROM 10 → TRUE (kept); != would three-value to NULL
    val kept = es.sql("SELECT k FROM nd WHERE v IS DISTINCT FROM 10 ORDER BY k;")
      .collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(2L, 3L), kept.toSeq)
    // NULL IS NOT DISTINCT FROM NULL → TRUE
    val nn = es.sql("SELECT k FROM nd WHERE v IS NOT DISTINCT FROM NULL;")
      .collect().map(_.getLong(0))
    assert(nn.toSeq == Seq(2L), nn.toSeq)
    // column-vs-expression sides lower too
    val ce = es.sql("SELECT k FROM nd WHERE v IS DISTINCT FROM k * 10 ORDER BY k;")
      .collect().map(_.getLong(0))
    assert(ce.toSeq == Seq(2L, 3L), ce.toSeq)
    // FETCH NEXT ROW ONLY defaults the count to 1; OFFSET n ROWS composes
    val f1 = es.sql("SELECT k FROM nd ORDER BY k OFFSET 1 ROWS FETCH NEXT ROW ONLY;")
      .collect().map(_.getLong(0))
    assert(f1.toSeq == Seq(2L), f1.toSeq)
    // legacy LIMIT/OFFSET spelling still parses
    val lg = es.sql("SELECT k FROM nd ORDER BY k LIMIT 1 OFFSET 2;")
      .collect().map(_.getLong(0))
    assert(lg.toSeq == Seq(3L), lg.toSeq)
    // ANSI OFFSET still requires ORDER BY (deterministic pagination)
    intercept[IllegalArgumentException] {
      es.sql("SELECT k FROM nd OFFSET 1 ROWS FETCH FIRST 1 ROWS ONLY;")
    }
  }

  test("SQL r17: REGR_* aggregates — exact fit, any-null pairs skipped") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE rg (k UINT32 PRIMARY KEY, x NULLABLE(UINT32), y NULLABLE(UINT32));")
    // y = 2x + 1 exactly; one pair has a NULL side each way (skipped)
    es.sql("INSERT INTO rg VALUES (1, 1, 3), (2, 2, 5), (3, 3, 7), (4, NULL, 9), (5, 4, NULL);")
    val r = es.sql(
      """SELECT ROUND(REGR_SLOPE(y, x), 6) AS sl,
        | ROUND(REGR_INTERCEPT(y, x), 6) AS ic,
        | ROUND(REGR_R2(y, x), 6) AS r2,
        | CAST(REGR_COUNT(y, x) AS BIGINT) AS n,
        | ROUND(REGR_AVGX(y, x), 6) AS ax,
        | ROUND(REGR_AVGY(y, x), 6) AS ay
        |FROM rg;""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 1.0 &&
      r.getDouble(2) == 1.0 && r.getLong(3) == 3L, r)
    assert(r.getDouble(4) == 2.0 && r.getDouble(5) == 5.0, r)
    // expression arguments are refused loudly (column-only parse)
    intercept[IllegalArgumentException] {
      es.sql("SELECT REGR_SLOPE(y + 1, x) AS s FROM rg;")
    }
  }

  test("SQL r17: windowed FILTER — frame rows qualify per aggregate") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE wf (k UINT32 PRIMARY KEY, g UINT32, v UINT32);")
    es.sql("INSERT INTO wf VALUES (1, 1, 10), (2, 1, 3), (3, 1, 8), (4, 2, 1);")
    val r = es.sql(
      """SELECT k,
        | SUM(v) FILTER (WHERE v >= 8) OVER (PARTITION BY g) AS big_sum,
        | COUNT(*) FILTER (WHERE v >= 8) OVER (PARTITION BY g) AS big_n
        |FROM wf ORDER BY k;""".stripMargin).collect()
    assert(r(0).getLong(1) == 18L && r(0).getLong(2) == 2L, r.mkString(","))
    // empty qualifying set: SUM is NULL (ANSI), COUNT is 0
    assert(r(3).isNullAt(1) && r(3).getLong(2) == 0L, r.mkString(","))
    // ranking windows, named-WINDOW refs, EXCLUDE CURRENT ROW: refused
    intercept[IllegalArgumentException] {
      es.sql("SELECT RANK() FILTER (WHERE v > 1) OVER (PARTITION BY g ORDER BY v) AS r FROM wf;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT SUM(v) FILTER (WHERE v > 1) OVER w AS s FROM wf WINDOW w AS (PARTITION BY g);")
    }
  }

  test("SQL r17: MODE — most frequent, ties to the smallest, NULLs ignored") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE md (k UINT32 PRIMARY KEY, g UINT32, v NULLABLE(UINT32), s NULLABLE(STRING));")
    es.sql("""INSERT INTO md VALUES (1, 1, 20, 'b'), (2, 1, 10, 'b'),
             | (3, 1, 20, 'a'), (4, 1, 10, 'a'), (5, 1, NULL, NULL),
             | (6, 2, 7, 'z');""".stripMargin)
    val r = es.sql(
      """SELECT g, MODE(v) AS mv, MODE(s) AS ms,
        | MODE(v) FILTER (WHERE v >= 15) AS mv_hi
        |FROM md GROUP BY g ORDER BY g;""".stripMargin).collect()
    // 10 and 20 tie at 2 each → smallest (10); 'a'/'b' tie → 'a';
    // the NULL row never counts; FILTER leaves only 20
    assert(r(0).getLong(1) == 10L && r(0).getString(2) == "a" &&
      r(0).getLong(3) == 20L, r.mkString(","))
    assert(r(1).getLong(1) == 7L && r(1).getString(2) == "z", r.mkString(","))
  }

  test("SQL r17: PREPARE/EXECUTE/DEALLOCATE — typed rebinding, late binding, refusals") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    // late binding: prepared BEFORE the table exists, binds at EXECUTE
    es.sql("PREPARE get AS SELECT k, v FROM pp WHERE v > ? AND s = ? ORDER BY k;")
    es.sql("CREATE TABLE pp (k UINT32 PRIMARY KEY, v UINT32, s STRING);")
    es.sql("INSERT INTO pp VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a''x');")
    val r1 = es.sql("EXECUTE get(5, 'a');").collect()
    assert(r1.length == 1 && r1(0).getLong(0) == 1L, r1.mkString(","))
    // rebinding with different literals, incl. an '' -escaped string
    val r2 = es.sql("EXECUTE get(5, 'a''x');").collect()
    assert(r2.length == 1 && r2(0).getLong(0) == 3L, r2.mkString(","))
    // a ? inside a string literal of the prepared text is data
    es.sql("PREPARE q AS SELECT k FROM pp WHERE s != '?' AND k = ?;")
    assert(es.sql("EXECUTE q(2);").collect()(0).getLong(0) == 2L)
    // re-PREPARE overwrites; DEALLOCATE drops
    es.sql("PREPARE q AS SELECT COUNT(*) AS n FROM pp WHERE k > ?;")
    assert(es.sql("EXECUTE q(1);").collect()(0).getLong(0) == 2L)
    es.sql("DEALLOCATE q;")
    intercept[IllegalArgumentException] { es.sql("EXECUTE q(1);") }
    // arity mismatch and non-literal arguments are loud
    intercept[IllegalArgumentException] { es.sql("EXECUTE get(5);") }
    intercept[IllegalArgumentException] { es.sql("EXECUTE get(5, k + 1);") }
    // malformed PREPAREs fail at PREPARE time
    intercept[IllegalArgumentException] {
      es.sql("PREPARE bad AS SELECT k FROM pp WHERE s = 'unterminated;")
    }
    intercept[IllegalArgumentException] {
      es.sql("PREPARE nested AS EXECUTE get(1, 'a');")
    }
  }

  test("SQL r17: dispersion tier — CORR/COVAR/VAR exact on known data") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE dp (k UINT32 PRIMARY KEY, x NULLABLE(UINT32), y NULLABLE(UINT32));")
    // y = 2x exactly → corr 1; a null on either side drops the pair
    es.sql("INSERT INTO dp VALUES (1, 1, 2), (2, 2, 4), (3, 3, 6), (4, NULL, 9), (5, 9, NULL);")
    val r = es.sql(
      """SELECT ROUND(CORR(y, x), 6) AS c,
        | ROUND(COVAR_SAMP(y, x), 6) AS cs,
        | ROUND(COVAR_POP(y, x), 6) AS cp,
        | ROUND(VAR_SAMP(x), 6) AS vs,
        | ROUND(VAR_POP(x), 6) AS vp,
        | ROUND(STDDEV_POP(x), 6) AS sp
        |FROM dp;""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 2.0 &&
      r.getDouble(2) == 1.333333, r)
    // VAR legs read ALL non-null x (1,2,3,9): mean 3.75
    assert(r.getDouble(3) == 12.916667 && r.getDouble(4) == 9.6875, r)
  }

  test("SQL r17: SKEWNESS/KURTOSIS — sample-corrected, DuckDB NULL edges") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE sk (k UINT32 PRIMARY KEY, g UINT32, v UINT32);")
    // g=1: n=4 asymmetric; g=2: n=2; g=3: n=3 symmetric; g=4: constant
    es.sql("""INSERT INTO sk VALUES (1, 1, 1), (2, 1, 2), (3, 1, 3), (4, 1, 10),
             | (5, 2, 1), (6, 2, 2),
             | (7, 3, 1), (8, 3, 2), (9, 3, 3),
             | (10, 4, 5), (11, 4, 5), (12, 4, 5), (13, 4, 5);""".stripMargin)
    val r = es.sql(
      """SELECT g, ROUND(SKEWNESS(v), 6) AS sk, ROUND(KURTOSIS(v), 6) AS ku
        |FROM sk GROUP BY g ORDER BY g;""".stripMargin).collect()
    // g=1 hand-computed sample-corrected values: G1=1.763633, G2=3.228
    assert(r(0).getDouble(1) == 1.763633 && r(0).getDouble(2) == 3.228,
      r.mkString(","))
    // n=2 → (NULL, NULL); n=3 symmetric → (0, NULL); constant → (NULL, NULL)
    assert(r(1).isNullAt(1) && r(1).isNullAt(2), r.mkString(","))
    assert(r(2).getDouble(1) == 0.0 && r(2).isNullAt(2), r.mkString(","))
    assert(r(3).isNullAt(1) && r(3).isNullAt(2), r.mkString(","))
  }

  test("SQL r17: LISTAGG is the STRING_AGG contract; WITHIN GROUP forms") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE wg (k UINT32 PRIMARY KEY, s STRING, v UINT32);")
    es.sql("INSERT INTO wg VALUES (1, 'b', 10), (2, 'a', 20), (3, 'b', 30), (4, 'c', 40);")
    val r = es.sql(
      """SELECT LISTAGG(s, '|') AS lg, STRING_AGG(s, '|') AS sg,
        | PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS p50,
        | PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v) AS p25,
        | MODE() WITHIN GROUP (ORDER BY s) AS m
        |FROM wg;""".stripMargin).collect()(0)
    assert(r.getString(0) == "a|b|b|c" && r.getString(0) == r.getString(1), r)
    // exact interpolation: p50 of (10,20,30,40) = 25; p25 = 17.5
    assert(r.getDouble(2) == 25.0 && r.getDouble(3) == 17.5, r)
    assert(r.getString(4) == "b", r)
    // refusals: DESC order, out-of-range fraction
    intercept[IllegalArgumentException] {
      es.sql("SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v DESC) AS p FROM wg;")
    }
    intercept[IllegalArgumentException] {
      es.sql("SELECT PERCENTILE_CONT(1.5) WITHIN GROUP (ORDER BY v) AS p FROM wg;")
    }
  }

  test("SQL r17: BIT_AND/OR/XOR aggregates — exact folds, NULLs skipped") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE bt (k UINT32 PRIMARY KEY, v NULLABLE(UINT32));")
    es.sql("INSERT INTO bt VALUES (1, 6), (2, 3), (3, NULL);")
    val r = es.sql(
      """SELECT BIT_AND(v) AS a, BIT_OR(v) AS o, BIT_XOR(v) AS x,
        | BIT_XOR(v) FILTER (WHERE k = 1) AS xf
        |FROM bt;""".stripMargin).collect()(0)
    // 6&3=2, 6|3=7, 6^3=5; the NULL row is skipped; FILTER leaves only 6
    assert(r.getLong(0) == 2L && r.getLong(1) == 7L && r.getLong(2) == 5L &&
      r.getLong(3) == 6L, r)
  }

  test("SQL subqueries: lowering runs no Spark job for any subquery form") {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("c", Seq((1L, "ann"), (2L, "bo"), (3L, "cy")).toDF("ck", "nm"))
    es.register("o", Seq((10L, 1L, 30L), (11L, 1L, 40L), (12L, 2L, 10L))
      .toDF("ok", "ock", "amt"))
    Seq(
      "uncorrelated scalar" -> "SELECT ck FROM c WHERE ck < (SELECT MAX(ock) FROM o);",
      "IN" -> "SELECT ck FROM c WHERE ck IN (SELECT ock FROM o);",
      "EXISTS" -> "SELECT ck FROM c WHERE EXISTS (SELECT 1 FROM o WHERE ock = ck);",
      "correlated scalar" ->
        "SELECT ck, (SELECT SUM(amt) FROM o WHERE ock = ck) AS total FROM c;",
      "LATERAL" -> """SELECT x.ck AS ck, l.amt AS amt FROM c x, LATERAL (
        |  SELECT amt FROM o WHERE ock = x.ck ORDER BY amt DESC LIMIT 1) l;""".stripMargin,
      "ANY/ALL" -> "SELECT ck FROM c WHERE ck >= ALL (SELECT ock FROM o);"
    ).foreach { case (form, q) =>
      val (df, jobs) = jobsDuring(es.sql(q))
      assert(jobs.isEmpty, s"$form: lowering ran ${jobs.size} job(s): $jobs")
      assert(df.collect().nonEmpty, form)
    }
  }

  test("SQL WHERE: an unqualified name reads the source column before a SELECT alias") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE ab (id UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO ab VALUES (1, 1), (2, 3), (3, 5);")
    // ANSI (and DuckDB): v is ab.v, not the v + 10 alias
    assert(es.sql("SELECT id, v + 10 AS v FROM ab WHERE v < 4 ORDER BY id;").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L), (2L, 13L)))
    // a name no source column has still reads the alias (the README story)
    assert(es.sql("SELECT id, v @ 1 AS distance FROM ab WHERE distance < 1;")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // an aliased relation's column binds unqualified too: v is s.v, so the
    // step runs while s.v < 4 and the set is {1, 2, 3, 4}
    assert(es.sql(
      """WITH RECURSIVE seq AS (
        |  SELECT MIN(id) AS v FROM ab
        |  UNION
        |  SELECT s.v + 1 AS v FROM seq AS s WHERE v < 4)
        |SELECT COUNT(*) AS n FROM seq;""".stripMargin).collect().head.getLong(0) == 4L)
  }

  test("SQL PREPARE: only placeholder tokens bind, not ? or ' in quoted identifiers or comments") {
    GraftSession.prepare(spark)
    val es = new graft.sql.EmdriveSession(spark)
    es.sql("CREATE TABLE pq (id UINT32 PRIMARY KEY);")
    es.sql("INSERT INTO pq VALUES (1), (2), (3);")
    Seq(
      "SELECT id AS \"id?\" FROM pq WHERE id = ?;",
      "SELECT id FROM pq -- which one?\nWHERE id = ?;",
      "SELECT id AS \"it's\" FROM pq WHERE id = ?;"
    ).foreach { q =>
      es.sql(s"PREPARE one AS $q")
      assert(es.sql("EXECUTE one(2);").collect().map(_.getLong(0)).toSeq == Seq(2L), q)
    }
  }

  /** t(k, x, y) for the aggregate-expression specs below; expected rows
    * are DuckDB 1.0.0's answers to the same statements. */
  private def aggTable(): graft.sql.EmdriveSession = {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq(("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("b", 4, 5),
      ("c", 5, 7)).toDF("k", "x", "y"))
    es
  }

  private def byKey(es: graft.sql.EmdriveSession, q: String): Seq[(String, Any)] =
    es.sql(q).collect().map(r => (r.getString(0), r.get(1))).sortBy(_._1).toSeq

  test("SQL aggregates: CASE over an aggregate is an aggregating item") {
    assert(byKey(aggTable(),
      "SELECT k, CASE WHEN COUNT(*) > 1 THEN 'many' ELSE 'one' END AS sz FROM t GROUP BY k;") ==
      Seq(("a", "many"), ("b", "many"), ("c", "one")))
  }

  test("SQL aggregates: concatenation reads a group key beside a cast aggregate") {
    assert(byKey(aggTable(),
      "SELECT k, k || ':' || CAST(SUM(x) AS VARCHAR) AS s FROM t GROUP BY k;") ==
      Seq(("a", "a:3"), ("b", "b:7"), ("c", "c:5")))
  }

  test("SQL aggregates: HAVING filters on an aggregate the select list does not name") {
    val es = aggTable()
    val q = "SELECT k, SUM(x) AS s FROM t GROUP BY k HAVING MAX(y) > 10;"
    assert(byKey(es, q) == Seq(("a", 3L), ("b", 7L)))
    assert(es.sql(q).columns.toSeq == Seq("k", "s"))
  }

  test("SQL aggregates: ORDER BY an aggregate expression") {
    val out = aggTable().sql(
      "SELECT k, SUM(x) AS s FROM t GROUP BY k ORDER BY SUM(x) DESC;")
    assert(out.columns.toSeq == Seq("k", "s"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("b", 7L), ("c", 5L), ("a", 3L)))
  }

  test("SQL aggregates: ARG_MAX takes FILTER") {
    assert(byKey(aggTable(),
      "SELECT k, ARG_MAX(x, y) FILTER (WHERE y < 25) AS am FROM t GROUP BY k;") ==
      Seq(("a", 2), ("b", 4), ("c", 5)))
  }

  test("SQL aggregates: ARRAY_AGG takes FILTER") {
    assert(byKey(aggTable(),
      "SELECT k, ARRAY_AGG(x ORDER BY x) FILTER (WHERE y > 6) AS a FROM t GROUP BY k;") ==
      Seq(("a", Seq(1, 2)), ("b", Seq(3)), ("c", Seq(5))))
  }

  test("SQL aggregates: FILTER on an aggregate over an expression") {
    assert(byKey(aggTable(),
      "SELECT k, SUM(x * 2) FILTER (WHERE y > 6) AS s FROM t GROUP BY k;") ==
      Seq(("a", 6L), ("b", 6L), ("c", 10L)))
  }

  test("SQL aggregates: GROUP BY ALL keys on a CASE item") {
    assert(byKey(aggTable(),
      "SELECT CASE WHEN x > 2 THEN 'hi' ELSE 'lo' END AS b, COUNT(*) AS n FROM t GROUP BY ALL;") ==
      Seq(("hi", 3L), ("lo", 2L)))
  }

  /** t(k, x) = (a,1),(a,2),(b,3) for the GROUP BY specs below; expected
    * rows are DuckDB 1.0.0's answers to the same statements. */
  private def keyTable(): graft.sql.EmdriveSession = {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "x"))
    es
  }

  test("SQL aggregates: GROUP BY without an aggregate lists the keys") {
    val es = keyTable()
    assert(es.sql("SELECT k FROM t GROUP BY k;").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a", "b"))
  }

  test("SQL aggregates: a constant item beside an aggregate") {
    val es = keyTable()
    assert(es.sql("SELECT 'x' AS tag, COUNT(*) AS n FROM t;").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 3L)))
  }

  test("SQL aggregates: an uncorrelated scalar subquery item beside GROUP BY") {
    val es = keyTable()
    assert(es.sql(
      "SELECT k, (SELECT COUNT(*) FROM t) AS total, SUM(x) AS s FROM t GROUP BY k;")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq ==
      Seq(("a", 3L, 3L), ("b", 3L, 3L)))
  }

  /** t(k, g, v) for the window-operand specs below; expected rows are
    * DuckDB 1.0.0's answers to the same statements, in k order. */
  private def winTable(): graft.sql.EmdriveSession = {
    GraftSession.prepare(spark)
    val s = spark
    import s.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("t", Seq((1, "a", Some(10)), (2, "a", None), (3, "a", Some(7)),
      (4, "b", Some(20)), (5, "b", Some(5))).toDF("k", "g", "v"))
    es
  }

  private def byK(q: String): Seq[Any] =
    winTable().sql(q).collect().map(r => (r.getInt(0), r.get(1))).sortBy(_._1).map(_._2).toSeq

  test("SQL windows: arithmetic over LAG") {
    assert(byK("SELECT k, v - LAG(v) OVER (ORDER BY k) AS d FROM t;") ==
      Seq(null, null, null, 13, -15))
  }

  test("SQL windows: share of a partition total") {
    assert(byK("SELECT k, ROUND(v * 1.0 / SUM(v) OVER (PARTITION BY g), 6) AS s FROM t;") ==
      Seq(0.588235, null, 0.411765, 0.8, 0.2))
  }

  test("SQL windows: LAG over qualified names of an aliased relation") {
    assert(byK("SELECT e.k, LAG(e.v) OVER (PARTITION BY e.g ORDER BY e.k) AS p FROM t e;") ==
      Seq(null, 10, null, null, 20))
  }

  test("SQL windows: a cast ranking over a named window is an operand") {
    assert(byK("""SELECT k, CAST(ROW_NUMBER() OVER w AS INTEGER) * 10 AS r FROM t
                 |WINDOW w AS (PARTITION BY g ORDER BY k);""".stripMargin) ==
      Seq(10, 20, 30, 10, 20))
  }

  test("SQL windows: CASE over RANK") {
    assert(byK("""SELECT k, CASE WHEN RANK() OVER (PARTITION BY g ORDER BY v DESC) = 1
                 |  THEN 'top' ELSE 'rest' END AS c FROM t;""".stripMargin) ==
      Seq("top", "rest", "rest", "top", "rest"))
  }
}
