package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.sql.{EmdriveSession, EmdriveSql}

/** HTTP query endpoint over an [[EmdriveSession]] — the serving layer the
  * reference ships as its front door (src/server/mod.rs:99-131 `echo`):
  *
  *   - `POST /` with a raw-SQL body → parse → execute → `200` with a JSON
  *     array of column-name-keyed objects (the reference's `QueryResult`
  *     serialization, executor/mod.rs:27-38 `NamedRow`); a user error —
  *     parse/validation failure, analysis error (unknown column …), or a
  *     data error with SQLSTATE class 21/22 (a scalar subquery with more
  *     than one row, an invalid cast …) → `400` with
  *     `{"type":"parser","message":…}`; anything else the engine throws →
  *     `500` with `{"type":"server","message":…}`.
  *   - `GET /?query=…` is the read-only path. The reference stubs it as an
  *     echo (mod.rs:67-93 TODO); here it executes, but refuses every
  *     write statement ([[EmdriveSql.writes]]) with `400` — the GET/POST
  *     read/write split the reference's route comments declare is
  *     enforced for real.
  *   - `GET /health` → `{"status":"ok"}` (operational endpoint; not in the
  *     reference, which has no liveness probe).
  *
  * Scale shape: the server is a thin driver-side boundary — planning stays
  * declarative (the SQL lowers to the same Catalyst plans as the library
  * calls), row rendering runs where the rows are read (`to_json(struct(*))`
  * runs inside codegen per partition and the driver concatenates strings;
  * a small read — projections, filters, aggregates, ORDER BY and limits
  * over parquet files within `spark.sql.files.openCostInBytes` — is read,
  * aggregated, sorted and rendered on the driver with no Spark job,
  * [[graft.plans.DriverCollect]]; aggregates and ORDER BY without LIMIT
  * take that path only in a session built with `GraftExtensions`), and
  * materialization is BOUNDED: every result passes through `LIMIT maxRows`
  * before the one driver-side collect a serving boundary cannot avoid. A
  * `SELECT` without `LIMIT` over a 100 TB table answers with the first
  * `maxRows` rows instead of an OOM — the cap is the contract, as in any
  * production query gateway. Concurrency mirrors the reference's bounded
  * mpsc executor queue (executor/mod.rs:19 `MAX_IN_FLIGHT_REQUESTS=100`):
  * a fixed worker pool over a bounded queue, with caller-runs overflow so
  * saturation backpressures the accept loop exactly like the reference's
  * awaited `send`. Requests share the session with no lock of their own:
  * reads never wait for a write, writes serialize inside the session, and
  * Spark jobs run concurrently — the scheduler is thread-safe.
  *
  * JSON value mapping is Spark's own (`to_json`): numbers bare, strings
  * escaped, null columns kept (`ignoreNullFields=false`, matching serde's
  * explicit nulls), binary as base64, arrays/structs nested.
  */
final class GraftServer(es: EmdriveSession, port: Int = 0,
    maxRows: Int = 10000, workers: Int = 8, host: String = "127.0.0.1") {

  // The JDK server writes headers and body as two sends; without
  // TCP_NODELAY the second waits for the client's delayed ACK (~40 ms per
  // response). The JDK reads its own switch once, when the first server is
  // built, so it is set before `create` unless the JVM already chose.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")
  private val http = HttpServer.create(new InetSocketAddress(host, port), 0)
  private val pool = new ThreadPoolExecutor(workers, workers, 60, TimeUnit.SECONDS,
    new LinkedBlockingQueue[Runnable](100),
    new ThreadPoolExecutor.CallerRunsPolicy())

  /** Bound port (useful when constructed with port 0 = ephemeral). */
  def boundPort: Int = http.getAddress.getPort

  def start(): Unit = {
    http.createContext("/", (ex: HttpExchange) => handle(ex))
    http.setExecutor(pool)
    http.start()
  }

  def stop(): Unit = {
    http.stop(0)
    pool.shutdownNow(): Unit
  }

  private def handle(ex: HttpExchange): Unit = {
    val (status, body) =
      try {
        (ex.getRequestMethod, ex.getRequestURI.getPath) match {
          case ("POST", "/") =>
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            // parameterized form (r16): {"query": "… ? …", "params":
            // [...]} — each parameter binds as one typed literal token, so
            // a string parameter is always one literal (quotes in the
            // value are data, never syntax — the injection case). A raw
            // SQL body (never '{'-initial) keeps working unchanged.
            if (body.dropWhile(_.isWhitespace).startsWith("{"))
              parseJsonQuery(body) match {
                case Right((q, params)) =>
                  run(EmdriveSql.parse(q, params), readOnly = false)
                case Left(msg) => (400, errJson("parser", msg))
              }
            else run(EmdriveSql.parse(body), readOnly = false)
          case ("GET", "/") =>
            queryParam(ex.getRequestURI.getRawQuery) match {
              case Some(q) => run(EmdriveSql.parse(q), readOnly = true)
              case None => (400, errJson("server", "missing 'query' parameter"))
            }
          case ("GET", "/health") => (200, """{"status":"ok"}""")
          case _ => (404, errJson("server", "not found"))
        }
      } catch {
        case e: Throwable if userError(e) => (400, errJson("parser", errMsg(e)))
        case e: Throwable => (500, errJson("server", errMsg(e)))
      }
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def run(stmt: EmdriveSql.Statement, readOnly: Boolean): (Int, String) = {
    if (readOnly && EmdriveSql.writes(stmt))
      return (400, errJson("server", "read-only endpoint: POST writes to /"))
    val df = es.sql(stmt)
    val rows = df.limit(maxRows)
      .select(to_json(struct(df.columns.toIndexedSeq.map(col): _*),
        java.util.Map.of("ignoreNullFields", "false")).as("j"))
      .collect().map(_.getString(0)) // bounded by maxRows: the serving cap
    (200, rows.mkString("[", ",", "]"))
  }

  /** A failure the request caused rather than the server: a malformed or
    * invalid statement, an analysis error, or a data error (SQLSTATE
    * class 21, cardinality violation; 22, data exception). */
  private def userError(e: Throwable): Boolean = e match {
    case _: IllegalArgumentException | _: org.apache.spark.sql.AnalysisException => true
    case s: org.apache.spark.SparkThrowable =>
      Option(s.getSqlState).exists(st => st.startsWith("21") || st.startsWith("22"))
    case _ => false
  }

  /** Parse `{"query": …, "params": […]}` (Jackson — already on the Spark
    * classpath) into the query text and one typed literal per parameter:
    * strings, numbers (as the exact decimal the caller sent), booleans and
    * null. */
  private[server] def parseJsonQuery(
      body: String): Either[String, (String, Seq[EmdriveSql.Value])] = {
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      catch { case e: Exception => return Left("bad JSON body: " + errMsg(e)) }
    val qNode = root.get("query")
    if (qNode == null || !qNode.isTextual)
      return Left("JSON body needs a string 'query' field")
    val p = root.get("params")
    if (p != null && !p.isArray) return Left("'params' must be an array")
    val params = Option(p).fold(Seq.empty[com.fasterxml.jackson.databind.JsonNode])(
      a => (0 until a.size).map(a.get))
    params.find(n => !(n.isTextual || n.isNumber || n.isBoolean || n.isNull)) match {
      case Some(n) => Left(s"unsupported parameter type: ${n.getNodeType}")
      case None => Right((qNode.asText(), params.map { n =>
        if (n.isTextual) EmdriveSql.VStr(n.asText())
        // plain decimal: BigDecimal round-trips int and float JSON numbers
        // losslessly, 1e21 included
        else if (n.isNumber)
          EmdriveSql.VNum(new java.math.BigDecimal(n.asText()).toPlainString)
        else if (n.isBoolean) EmdriveSql.VBool(n.asBoolean())
        else EmdriveSql.VNull
      }))
    }
  }

  private def queryParam(rawQuery: String): Option[String] =
    Option(rawQuery).iterator
      .flatMap(_.split("&").iterator)
      .map(_.split("=", 2))
      .collectFirst { case Array("query", v) =>
        java.net.URLDecoder.decode(v, UTF_8)
      }

  private def errMsg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  private def errJson(kind: String, message: String): String =
    s"""{"type":"$kind","message":${graft.Harness.json(message)}}"""
}

/** Standalone entry point: serve the testdata tables over HTTP.
  *
  * {{{
  *   sbt "runMain graft.server.Server /root/testdata/sf0.001 8765"
  *   curl -s -X POST --data "SELECT source, COUNT(*) AS n FROM documents GROUP BY source" \
  *     http://127.0.0.1:8765/
  * }}}
  */
object Server {
  def main(args: Array[String]): Unit = {
    graft.TempHygiene.sweepOrphans()
    // precedence: CLI args > GRAFT_* environment > reference defaults
    // (reference: src/config.rs from_env + src/main.rs boot order)
    val cfg = GraftConfig.fromEnv()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).flatMap(_.toIntOption).getOrElse(cfg.tcpListenPort)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.builder("graft-server")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // durable session over the configured data directory: every table
    // persisted by a previous server process is served again after a
    // restart, with no manual attach (boot-time durability)
    val es = new EmdriveSession(spark, Some(cfg.dataDirectory))
    // corpus registration must not shadow a durably-restored table of the
    // same name — otherwise DML against e.g. 'documents' persists, then
    // silently vanishes behind the corpus at the next restart (r11 ADVICE)
    graft.sources.Tables.all.foreach { name =>
      if (es.has(name))
        println(s"boot: '$name' restored from ${cfg.dataDirectory}; " +
          "corpus table of the same name NOT registered")
      else es.register(name, graft.sources.Tables(spark, dir, name))
    }
    val server = new GraftServer(es, port, host = cfg.tcpListenHost)
    server.start()
    println(cfg)
    println(s"graft server listening on " +
      s"http://${cfg.tcpListenHost}:${server.boundPort}/")
    Thread.currentThread().join()
  }
}
