package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions.col

import graft.server.GraftServer
import graft.sql.EmdriveSession

/** The HTTP serving layer against the reference's front-door contract
  * (src/server/mod.rs): POST / executes SQL and answers a JSON array of
  * column-keyed objects; parse failures are 400 {"type":"parser"};
  * GET /?query= is read-only; results are capped at maxRows. */
class ServerSpec extends SparkTestBase {

  private val client = HttpClient.newHttpClient()

  private def withServer[T](maxRows: Int = 10000)(body: (GraftServer, String) => T): T = {
    GraftSession.prepare(spark)
    val es = new EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, sfDir))
    val server = new GraftServer(es, maxRows = maxRows)
    server.start()
    try body(server, s"http://127.0.0.1:${server.boundPort}")
    finally server.stop()
  }

  private def post(base: String, sql: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder().uri(URI.create(s"$base/"))
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(base: String, pathAndQuery: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder().uri(URI.create(s"$base$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST executes SQL and returns column-keyed JSON rows") {
    withServer() { (_, base) =>
      val resp = post(base, "SELECT source, COUNT(*) AS n FROM documents GROUP BY source ORDER BY source;")
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").orElse("") == "application/json")
      import SparkTestBase.spark.implicits._
      val got = spark.read.schema("source STRING, n BIGINT")
        .json(spark.createDataset(Seq(resp.body())))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = graft.sources.Tables.documents(spark, sfDir)
        .groupBy(col("source")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
  }

  test("index-backed metric_search and ann_search serve over HTTP (r9)") {
    GraftSession.prepare(spark)
    val es = new EmdriveSession(spark)
    import org.apache.spark.sql.functions.{call_function, split}
    es.register("doc_hashes", graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), call_function("simhash64",
        split(col("text"), " ")).as("h")))
    es.register("embeddings", graft.sources.Tables.embeddings(spark, sfDir))
    val server = new GraftServer(es, maxRows = 10000)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // the reference's README story, served from the persisted layout:
      // hash-radius search around doc 0 always finds doc 0 at dist 0
      val m = post(base,
        "SELECT doc_id, dist FROM metric_search(doc_hashes, doc_id, h, 0, 2) ORDER BY doc_id;")
      assert(m.statusCode() == 200, m.body())
      assert(m.body().contains("\"doc_id\":0") && m.body().contains("\"dist\":0"),
        m.body())
      // ANN top-10 from the persisted IVF layout: probe is its own
      // nearest neighbour at sim 1.0
      val a = post(base,
        "SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 0, 10) ORDER BY sim DESC, vec_id;")
      assert(a.statusCode() == 200, a.body())
      assert(a.body().contains("\"vec_id\":0") && a.body().contains("\"sim\":1.0"),
        a.body())
      // second query hits the SESSION-CACHED layout (no rebuild): same
      // answer, served again
      val a2 = post(base,
        "SELECT vec_id, sim FROM ann_search(embeddings, vec_id, embedding, 0, 10) ORDER BY sim DESC, vec_id;")
      assert(a2.statusCode() == 200 && a2.body() == a.body())
    } finally server.stop()
  }

  test("pipeline TVFs serve over HTTP (r15): es_stratified round-trip") {
    GraftSession.prepare(spark)
    val es = new EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, sfDir))
    val server = new GraftServer(es, maxRows = 10000)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // the per-language exact-k quality draw, SQL-in-rows-out — the
      // curation story a non-Scala client runs through the front door
      val r = post(base,
        "SELECT lang, rank, doc_id FROM es_stratified(documents, doc_id, lang, text, 3) ORDER BY lang, rank;")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"rank\":1") && r.body().contains("\"lang\":"),
        r.body())
      // deterministic: the same draw replays byte-identically
      val r2 = post(base,
        "SELECT lang, rank, doc_id FROM es_stratified(documents, doc_id, lang, text, 3) ORDER BY lang, rank;")
      assert(r2.statusCode() == 200 && r2.body() == r.body())
    } finally server.stop()
  }

  test("null columns are kept in the JSON (serde explicit-null contract)") {
    withServer() { (_, base) =>
      assert(post(base, "CREATE TABLE t (id UINT64 PRIMARY KEY, v NULLABLE(STRING));")
        .statusCode() == 200)
      assert(post(base, "INSERT INTO t (id, v) VALUES (1, NULL);").statusCode() == 200)
      val resp = post(base, "SELECT id, v FROM t;")
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("\"v\":null"), resp.body())
    }
  }

  test("parse failure is 400 with a parser-typed JSON error") {
    withServer() { (_, base) =>
      val resp = post(base, "SELEKT nothing;")
      assert(resp.statusCode() == 400)
      assert(resp.body().contains("\"type\":\"parser\""), resp.body())
    }
  }

  test("engine failure (unknown table) is 400, not a hung connection") {
    withServer() { (_, base) =>
      val resp = post(base, "SELECT x FROM no_such_table;")
      assert(resp.statusCode() == 400, resp.body())
    }
  }

  test("GET /?query= executes read-only SQL; writes are refused") {
    withServer() { (_, base) =>
      val q = java.net.URLEncoder.encode(
        "SELECT COUNT(*) AS n FROM documents;", "UTF-8")
      val ok = get(base, s"/?query=$q")
      assert(ok.statusCode() == 200)
      assert(ok.body().startsWith("[{\"n\":"), ok.body())
      // EVERY write-statement class is refused, not just CREATE/INSERT
      // (the r10 DML surface slipped through until r11)
      Seq(
        "CREATE TABLE z (id UINT64);",
        "INSERT INTO documents (doc_id) VALUES (1);",
        "UPDATE documents SET source = 'x' WHERE doc_id = 1;",
        "DELETE FROM documents WHERE doc_id = 1;",
        "CREATE TABLE z2 AS SELECT * FROM documents;",
        "INSERT INTO documents (doc_id) SELECT doc_id FROM documents;",
        "MERGE INTO documents AS a USING documents AS b ON a.doc_id = b.doc_id " +
          "WHEN MATCHED THEN DELETE;",
        // r14 catalog mutations: view DDL + DROP are writes too
        "CREATE VIEW zv AS SELECT doc_id FROM documents;",
        "DROP TABLE documents;",
        "DROP VIEW IF EXISTS zv;",
        // r16: COPY writes the filesystem (TO) or the catalog (FROM)
        "COPY documents TO '/tmp/graft_server_copy_refused' (FORMAT CSV);",
        "COPY documents FROM '/tmp/nowhere' (FORMAT CSV);").foreach { w =>
        val wr = get(base, "/?query=" + java.net.URLEncoder.encode(w, "UTF-8"))
        assert(wr.statusCode() == 400, s"GET accepted write: $w -> ${wr.body()}")
      }
      val missing = get(base, "/")
      assert(missing.statusCode() == 400)
    }
  }

  test("POST parameterized JSON queries substitute typed literals (r16)") {
    withServer() { (_, base) =>
      // positional ? placeholders, typed params
      val ok = post(base,
        """{"query": "SELECT COUNT(*) AS n FROM documents WHERE n_chars >= ? AND lang = ?;",
          | "params": [300, "en"]}""".stripMargin)
      assert(ok.statusCode() == 200, ok.body())
      val want = graft.sources.Tables.documents(spark, sfDir)
        .filter(col("n_chars") >= 300 && col("lang") === "en").count()
      assert(ok.body() == s"""[{"n":$want}]""", ok.body())
      // the injection case: a string param carrying quote syntax stays
      // ONE literal — it must match zero rows, never widen the predicate
      val inj = post(base,
        """{"query": "SELECT COUNT(*) AS n FROM documents WHERE lang = ?;",
          | "params": ["en' OR '1'='1"]}""".stripMargin)
      assert(inj.statusCode() == 200, inj.body())
      assert(inj.body() == """[{"n":0}]""", inj.body())
      // a ? inside a string literal of the query text is data, not a
      // placeholder
      val lit = post(base,
        """{"query": "SELECT COUNT(*) AS n FROM documents WHERE lang = '?';"}""")
      assert(lit.statusCode() == 200, lit.body())
      assert(lit.body() == """[{"n":0}]""", lit.body())
      // arity mismatches are parse-classified 400s, both directions
      Seq(
        """{"query": "SELECT ? AS a, ? AS b FROM documents;", "params": [1]}""",
        """{"query": "SELECT 1 AS a FROM documents;", "params": [1, 2]}""",
        """{"query": 42}""",
        """{not json""").foreach { bad =>
        val r = post(base, bad)
        assert(r.statusCode() == 400, s"$bad -> ${r.body()}")
      }
      // doubles whose toString is scientific notation substitute as
      // plain decimals (r16 ADVICE) — the predicate evaluates, it does
      // not die on a TNum+TWord mis-lex downstream
      val sci = post(base,
        """{"query": "SELECT COUNT(*) AS n FROM documents WHERE n_chars < ?;",
          | "params": [1e21]}""".stripMargin)
      assert(sci.statusCode() == 200, sci.body())
      val total = graft.sources.Tables.documents(spark, sfDir).count()
      assert(sci.body() == s"""[{"n":$total}]""", sci.body())
      val tiny = post(base,
        """{"query": "SELECT COUNT(*) AS n FROM documents WHERE n_chars < ?;",
          | "params": [2.5e-7]}""".stripMargin)
      assert(tiny.statusCode() == 200, tiny.body())
      assert(tiny.body() == """[{"n":0}]""", tiny.body())
    }
  }

  test("results are capped at maxRows (the serving materialization bound)") {
    withServer(maxRows = 5) { (_, base) =>
      val resp = post(base, "SELECT doc_id FROM documents;")
      assert(resp.statusCode() == 200)
      assert(resp.body().count(_ == '{') == 5, resp.body().take(200))
    }
  }

  test("a GET point read answers on the driver with the body Spark's job renders") {
    withServer() { (_, base) =>
      val read = "/?query=" + java.net.URLEncoder.encode(
        "SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id = 7;", "UTF-8")
      get(base, read)
      val (driver, jobs) = jobsDuring(get(base, read))
      assert(driver.statusCode() == 200, driver.body())
      assert(jobs.isEmpty, jobs)
      assert(driver.body().startsWith("""[{"doc_id":7,"""), driver.body())
      // a budget below the file's size: Spark's path, the same bytes
      val (forced, forcedJobs) = jobsDuring(
        scopedConf("spark.sql.files.openCostInBytes" -> "1")(get(base, read)))
      assert(forcedJobs.nonEmpty)
      assert(forced.statusCode() == 200 && forced.body() == driver.body())
    }
  }

  test("a GET GROUP BY … ORDER BY … LIMIT answers on the driver with the body Spark's jobs render") {
    withServer() { (_, base) =>
      val read = "/?query=" + java.net.URLEncoder.encode(
        "SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars, AVG(n_chars) AS avg_chars " +
          "FROM documents WHERE lang = 'en' AND n_chars > 100 " +
          "GROUP BY source ORDER BY total_chars DESC, source LIMIT 5;", "UTF-8")
      get(base, read)
      val (driver, jobs) = jobsDuring(get(base, read))
      assert(driver.statusCode() == 200, driver.body())
      assert(jobs.isEmpty, jobs)
      assert(driver.body().startsWith("""[{"source":"""), driver.body())
      val (forced, forcedJobs) = jobsDuring(
        scopedConf("spark.sql.files.openCostInBytes" -> "1")(get(base, read)))
      assert(forcedJobs.nonEmpty)
      assert(forced.statusCode() == 200 && forced.body() == driver.body())
    }
  }

  test("GET /health answers ok; unknown path is 404") {
    withServer() { (_, base) =>
      assert(get(base, "/health").statusCode() == 200)
      assert(get(base, "/nope").statusCode() == 404)
    }
  }

  test("boot-time durability: CREATE+INSERT survive a session AND server restart") {
    // the reference's EMDRIVE_DATA_DIRECTORY contract (config.rs:1-22,
    // main.rs boot): tables persisted by one process are served by the
    // next with NO manual attach. Simulated restart = a brand-new
    // EmdriveSession + GraftServer over the same data directory.
    GraftSession.prepare(spark)
    withTempDir("graft-durable-") { dir =>
      val es1 = new EmdriveSession(spark, Some(dir))
      es1.sql("""CREATE TABLE boats (
               |  id UINT32 PRIMARY KEY,
               |  name STRING(40),
               |  phash NULLABLE(UINT64) METRIC KEY);""".stripMargin)
      es1.sql("INSERT INTO boats (id, name, phash) VALUES (1, 'Dinghy', 17);")
      es1.sql("INSERT INTO boats (id, name, phash) VALUES (2, 'Sloop', 19);")
      // restart #1: fresh session, fresh server — catalog restored from disk
      val es2 = new EmdriveSession(spark, Some(dir))
      val server = new GraftServer(es2)
      server.start()
      val base = s"http://127.0.0.1:${server.boundPort}"
      try {
        val resp = post(base, "SELECT id, name FROM boats ORDER BY id;")
        assert(resp.statusCode() == 200, resp.body())
        assert(resp.body().contains("Dinghy") && resp.body().contains("Sloop"),
          resp.body())
        // DML over HTTP persists too; declared-type metadata survived the
        // round trip (domain validation still enforced on the restored table)
        assert(post(base, "INSERT INTO boats (id, name) VALUES (3, 'Ketch');")
          .statusCode() == 200)
        assert(post(base, "INSERT INTO boats (id, phash) VALUES (4, -1);")
          .statusCode() != 200, "restored UINT64 domain must still validate")
      } finally server.stop()
      // restart #2: the HTTP-inserted row is there; the failed insert is not
      val es3 = new EmdriveSession(spark, Some(dir))
      val rows = es3.sql("SELECT id FROM boats;").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(1L, 2L, 3L), rows.mkString(","))
      // PRIMARY KEY / METRIC KEY roles survive in system.columns
      val roles = es3.sql(
        "SELECT column_name, primary_key, metric_key FROM system.columns;")
        .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2)))
        .toMap
      assert(roles("id") == (true, false) && roles("phash") == (false, true), roles)
    }
  }

  test("GET /health answers without waiting out a delayed ACK (TCP_NODELAY)") {
    // headers and body go out as two writes; with Nagle on, the second
    // waits for the client's delayed ACK, ~40 ms per response
    withServer() { (_, base) =>
      val keepAlive = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      val req = HttpRequest.newBuilder().uri(URI.create(s"$base/health")).GET().build()
      def once(): Double = {
        val t0 = System.nanoTime()
        assert(keepAlive.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }
      once() // opens the connection the timed requests reuse
      val ms = Seq.fill(30)(once()).sorted
      assert(ms(15) < 20.0, f"median ${ms(15)}%.1f ms of ${ms.map(m => f"$m%.1f").mkString(", ")}")
    }
  }

  test("GraftConfig: env precedence and fail-fast on a bad port") {
    import graft.server.GraftConfig
    val d = GraftConfig.fromEnv(_ => None)
    assert(d.tcpListenPort == 8824 && d.tcpListenHost == "127.0.0.1"
      && d.dataDirectory == "/var/lib/graft/data")
    val c = GraftConfig.fromEnv(Map(
      "GRAFT_DATA_DIRECTORY" -> "/tmp/gd",
      "GRAFT_TCP_LISTEN_HOST" -> "0.0.0.0",
      "GRAFT_TCP_LISTEN_PORT" -> "9000").get)
    assert(c == GraftConfig("/tmp/gd", "0.0.0.0", 9000))
    intercept[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("GRAFT_TCP_LISTEN_PORT" -> "not-a-port").get)
    }
    intercept[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("GRAFT_TCP_LISTEN_PORT" -> "70000").get)
    }
  }

  test("concurrent clients all complete (bounded-pool backpressure)") {
    withServer() { (_, base) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val results = Await.result(
        Future.sequence((1 to 12).map { i => Future {
          post(base, s"SELECT COUNT(*) AS n FROM documents WHERE n_chars > $i;").statusCode()
        }}), 120.seconds)
      assert(results.forall(_ == 200))
    }
  }

  test("user errors answer 400: an unknown column, a scalar subquery with more than one row") {
    withServer() { (_, base) =>
      val unknown = post(base, "SELECT nosuch FROM documents;")
      assert(unknown.statusCode() == 400, unknown.body())
      assert(unknown.body().contains("\"type\":\"parser\""), unknown.body())
      val many = post(base,
        "SELECT doc_id FROM documents WHERE doc_id > (SELECT doc_id FROM documents);")
      assert(many.statusCode() == 400, many.body())
      assert(many.body().contains("SCALAR_SUBQUERY_TOO_MANY_ROWS"), many.body())
    }
  }

  test("POST params bind to placeholder tokens only: ? and ' in quoted identifiers and comments are inert") {
    withServer() { (_, base) =>
      assert(post(base, "CREATE TABLE t (id UINT32 PRIMARY KEY);").statusCode() == 200)
      assert(post(base, "INSERT INTO t VALUES (1), (2), (3);").statusCode() == 200)
      def withParam2(q: String) =
        post(base, s"""{"query": ${graft.Harness.json(q)}, "params": [2]}""")
      val quotedQ = withParam2("SELECT id AS \"id?\" FROM t WHERE id = ?;")
      assert(quotedQ.body() == """[{"id?":2}]""", quotedQ.body())
      val comment = withParam2("SELECT id FROM t -- which one?\nWHERE id = ?;")
      assert(comment.body() == """[{"id":2}]""", comment.body())
      val apostrophe = withParam2("SELECT id AS \"it's\" FROM t WHERE id = ?;")
      assert(apostrophe.body() == """[{"it's":2}]""", apostrophe.body())
    }
  }

  test("a read answers while a durable write's job is held open") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    GraftSession.prepare(spark)
    withTempDir("graft-rw-") { dir =>
      val es = new EmdriveSession(spark, Some(dir))
      es.register("documents", graft.sources.Tables.documents(spark, sfDir))
      es.sql("CREATE TABLE w (id UINT32 PRIMARY KEY);")
      val (entered, release) = (new CountDownLatch(1), new CountDownLatch(1))
      ServerSpec.gate = (entered, release)
      // one partition: the held task takes one of the four task slots
      val held = org.apache.spark.sql.functions.udf { (id: Long) =>
        val (e, r) = ServerSpec.gate
        e.countDown()
        r.await(60, TimeUnit.SECONDS)
        id
      }
      es.register("slow", spark.range(0, 3, 1, 1).select(held(col("id")).as("id")))
      val server = new GraftServer(es)
      server.start()
      val base = s"http://127.0.0.1:${server.boundPort}"
      try {
        val insert = Future(post(base, "INSERT INTO w SELECT id FROM slow;"))
        try {
          assert(entered.await(60, TimeUnit.SECONDS), "the write's job never started")
          val q = java.net.URLEncoder.encode(
            "SELECT doc_id FROM documents WHERE doc_id = 1;", "UTF-8")
          val read = client.send(
            HttpRequest.newBuilder().uri(URI.create(s"$base/?query=$q"))
              .timeout(java.time.Duration.ofSeconds(10)).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          assert(read.statusCode() == 200, read.body())
          assert(!insert.isCompleted, "the write finished before the read ran")
        } finally release.countDown()
        val inserted = Await.result(insert, 120.seconds)
        assert(inserted.statusCode() == 200, inserted.body())
        assert(es.sql("SELECT id FROM w;").count() == 3)
      } finally server.stop()
    }
  }
}

object ServerSpec {
  /** (entered, release) for the held UDF above: tasks run in this JVM and
    * reach the latches through this object, not through the closure. */
  @volatile var gate: (java.util.concurrent.CountDownLatch,
    java.util.concurrent.CountDownLatch) = _
}
