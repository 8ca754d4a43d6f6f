package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

import graft.sql.EmdriveSession

/** Serving-layer load harness: measured throughput and backpressure for
  * [[GraftServer]] under concurrent clients — the operational twin of
  * ServerSpec's correctness coverage (r7 verdict #6).
  *
  * Shape: one live server over the sf corpus, `Clients` client threads each
  * firing `PerClient` POSTs of a MIXED workload (r10 verdict #7): a
  * maxRows-capped scan, a grouped aggregate, a filtered projection, a
  * system-catalog read (iterating the catalog WHILE other clients mutate
  * it), and per-client DML — each client owns a `load_<c>` table it
  * CREATEs and INSERTs into, so catalog mutation runs genuinely
  * concurrent with reads (writes serialize inside the session).
  * Concurrency is set ABOVE the server's worker pool (8) so the bounded
  * queue + caller-runs overflow path — the reference's
  * MAX_IN_FLIGHT_REQUESTS analog — is actually exercised, not just
  * configured. The harness asserts every response is 200 with non-empty
  * JSON (backpressure must delay, never drop), that each client's DML
  * landed exactly (post-run row counts), and that the read-only GET
  * refuses every write-statement class; reports latency percentiles +
  * steady-state QPS as one JSON line (driver convention;
  * dev/server_load.json).
  *
  * Run: `sbt "runMain graft.Harness load"` (env: SPARK_GRAFT_SF_DIR).
  */
object ServerLoad {
  private val Clients = 32
  private val PerClient = 25

  def run(spark: SparkSession): Unit = {
    val sf = graft.Harness.sfDir("/root/testdata/sf0.01")
    val es = new EmdriveSession(spark)
    es.register("documents", graft.sources.Tables.documents(spark, sf))
    val server = new GraftServer(es, maxRows = 1000)
    server.start()
    val url = URI.create(s"http://127.0.0.1:${server.boundPort}/")

    // the serving mix: a maxRows-capped full scan (the LIMIT-cap contract
    // under load), a grouped aggregate, a filtered projection, and a
    // system-catalog read that iterates the catalog other clients mutate
    val queries = Seq(
      "SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id LIMIT 500;",
      "SELECT source, COUNT(*) AS n, SUM(n_chars) AS total FROM documents GROUP BY source ORDER BY source;",
      "SELECT doc_id, n_chars FROM documents WHERE lang = 'en' ORDER BY doc_id LIMIT 200;",
      "SELECT COUNT(*) AS n FROM system.columns;")

    val client = HttpClient.newHttpClient()
    def fire(q: String): (Int, String, Long) = {
      val t0 = System.nanoTime()
      val resp = client.send(
        HttpRequest.newBuilder(url)
          .POST(HttpRequest.BodyPublishers.ofString(q)).build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body(), System.nanoTime() - t0)
    }

    fire(queries.head) // warm the plan cache / JIT before timing

    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val bad = new AtomicInteger(0)
    val empty = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(Clients)
    val done = new CountDownLatch(Clients)
    val t0 = System.nanoTime()
    (0 until Clients).foreach { c =>
      pool.execute { () =>
        try {
          // each client owns a table: CREATE first, INSERT every 5th
          // request — catalog writes interleave with every read class
          val (cs, _, cdt) = fire(
            s"CREATE TABLE load_$c (k UINT32 PRIMARY KEY, v STRING(16));")
          if (cs != 200) bad.incrementAndGet(): Unit
          latencies.add(cdt): Unit
          (0 until PerClient).foreach { i =>
            val q =
              if (i % 5 == 4) s"INSERT INTO load_$c (k, v) VALUES ($i, 'w$i');"
              else queries((c + i) % queries.length)
            val (status, body, dt) = fire(q)
            if (status != 200) bad.incrementAndGet(): Unit
            if (body.length <= 2 && !q.startsWith("INSERT"))
              empty.incrementAndGet(): Unit // "[]" = dropped rows
            latencies.add(dt): Unit
          }
        } finally done.countDown()
      }
    }
    done.await(10, TimeUnit.MINUTES)
    val wall = (System.nanoTime() - t0) / 1e9
    pool.shutdownNow()

    // every client's DML landed exactly: no lost or duplicated writes
    // under the serialized-catalog contract
    val dmlBad = (0 until Clients).count { c =>
      val (status, body, _) = fire(s"SELECT COUNT(*) AS n FROM load_$c;")
      status != 200 || !body.contains(s""""n":${PerClient / 5}""")
    }
    // the read-only GET refuses every write-statement class (r10 gap:
    // only CREATE/INSERT were refused; UPDATE/DELETE/CTAS/MERGE now too)
    val writeStmts = Seq(
      "CREATE TABLE w (k UINT32 PRIMARY KEY);",
      "INSERT INTO load_0 (k, v) VALUES (999, 'x');",
      "UPDATE load_0 SET v = 'y' WHERE k = 4;",
      "DELETE FROM load_0 WHERE k = 4;",
      "CREATE TABLE w2 AS SELECT * FROM load_0;",
      "INSERT INTO load_0 (k, v) SELECT k + 1000, v FROM load_1;",
      "MERGE INTO load_0 AS a USING load_1 AS b ON a.k = b.k " +
        "WHEN MATCHED THEN UPDATE SET v = b.v;")
    val getAccepted = writeStmts.count { w =>
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(url.toString + "?query=" +
          java.net.URLEncoder.encode(w, java.nio.charset.StandardCharsets.UTF_8)))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      resp.statusCode() == 200
    }
    server.stop()

    val ls = latencies.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
    def pct(p: Double): Double =
      if (ls.isEmpty) 0.0 else ls(((ls.length - 1) * p).toInt) / 1e6
    val total = Clients * (PerClient + 1) // +1: each client's CREATE
    val line =
      f"""{"metric":"server_load","sf":"$sf","concurrency":$Clients,""" +
        f""""requests":$total,"non200":${bad.get()},"empty":${empty.get()},""" +
        f""""dml_clients_bad":$dmlBad,"get_writes_accepted":$getAccepted,""" +
        f""""wall_sec":$wall%.2f,"qps":${total / wall}%.1f,""" +
        f""""p50_ms":${pct(0.50)}%.1f,"p95_ms":${pct(0.95)}%.1f,"p99_ms":${pct(0.99)}%.1f}"""
    graft.Harness.emit(line, "SPARK_GRAFT_LOAD_OUT", "dev/server_load.json")
    // a dropped or errored response under saturation is a FAILURE of the
    // backpressure contract, not a statistic — and so is a lost write or
    // a write accepted by the read-only endpoint
    require(bad.get() == 0 && empty.get() == 0 && dmlBad == 0 && getAccepted == 0,
      s"load run violated the serving contract: non200=${bad.get()} " +
        s"empty=${empty.get()} dml_clients_bad=$dmlBad " +
        s"get_writes_accepted=$getAccepted")
  }
}
