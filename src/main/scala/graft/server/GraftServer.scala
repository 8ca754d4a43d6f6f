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
  *     serialization, executor/mod.rs:27-38 `NamedRow`); a parse/validation
  *     failure → `400` with `{"type":"parser","message":…}`; anything the
  *     engine throws → `500` with `{"type":"server","message":…}`.
  *   - `GET /?query=…` is the read-only path. The reference stubs it as an
  *     echo (mod.rs:67-93 TODO); here it executes, but refuses CREATE and
  *     INSERT with `400` — the GET/POST read/write split the reference's
  *     route comments declare is enforced for real.
  *   - `GET /health` → `{"status":"ok"}` (operational endpoint; not in the
  *     reference, which has no liveness probe).
  *
  * Scale shape: the server is a thin driver-side boundary — planning stays
  * declarative (the SQL lowers to the same Catalyst plans as the library
  * calls), row rendering is DISTRIBUTED (`to_json(struct(*))` runs Jackson
  * inside codegen per partition; the driver concatenates strings), and
  * materialization is BOUNDED: every result passes through `LIMIT maxRows`
  * before the one driver-side collect a serving boundary cannot avoid. A
  * `SELECT` without `LIMIT` over a 100 TB table answers with the first
  * `maxRows` rows instead of an OOM — the cap is the contract, as in any
  * production query gateway. Concurrency mirrors the reference's bounded
  * mpsc executor queue (executor/mod.rs:19 `MAX_IN_FLIGHT_REQUESTS=100`):
  * a fixed worker pool over a bounded queue, with caller-runs overflow so
  * saturation backpressures the accept loop exactly like the reference's
  * awaited `send`. Catalog mutation (CREATE/INSERT re-point the session's
  * table map) is serialized on a monitor; Spark job execution itself runs
  * unlocked and concurrent — the scheduler is thread-safe.
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
            // [...]} — substituted into TYPED SQL literals BEFORE parse,
            // so a string parameter is always one literal (quotes in the
            // value are data, never syntax — the injection case). A raw
            // SQL body (never '{'-initial) keeps working unchanged.
            if (body.dropWhile(_.isWhitespace).startsWith("{"))
              parseJsonQuery(body) match {
                case Right(q) => run(q, readOnly = false)
                case Left(msg) => (400, errJson("parser", msg))
              }
            else run(body, readOnly = false)
          case ("GET", "/") =>
            queryParam(ex.getRequestURI.getRawQuery) match {
              case Some(q) => run(q, readOnly = true)
              case None => (400, errJson("server", "missing 'query' parameter"))
            }
          case ("GET", "/health") => (200, """{"status":"ok"}""")
          case _ => (404, errJson("server", "not found"))
        }
      } catch { case e: Throwable => (500, errJson("server", errMsg(e))) }
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def run(sqlText: String, readOnly: Boolean): (Int, String) = {
    val stmt =
      try EmdriveSql.parse(sqlText)
      catch { case e: IllegalArgumentException => return (400, errJson("parser", errMsg(e))) }
    // EVERY catalog-mutating statement class is write-classified — the r10
    // DML surface (UPDATE/DELETE/CTAS/INSERT…SELECT/MERGE) must be refused
    // by the read-only GET exactly like CREATE/INSERT
    val isWrite = stmt match {
      case _: EmdriveSql.CreateTable | _: EmdriveSql.Insert |
           _: EmdriveSql.InsertSelect | _: EmdriveSql.CreateAs |
           _: EmdriveSql.Update | _: EmdriveSql.Delete |
           _: EmdriveSql.Merge |
           // r14: view DDL and DROP mutate the catalog (DROP TABLE also
           // deletes durable generations) — write-classified like every
           // other catalog mutation; PIVOT/UNPIVOT stay read-classified
           _: EmdriveSql.CreateView | _: EmdriveSql.DropStmt |
           // r15: schema evolution + truncate mutate the catalog too
           _: EmdriveSql.AlterAdd | _: EmdriveSql.AlterDrop |
           _: EmdriveSql.AlterRename | _: EmdriveSql.TruncateStmt |
           // r16: COPY writes either the filesystem (TO) or the catalog
           // (FROM) — both directions are writes
           _: EmdriveSql.CopyStmt => true
      case _ => false
    }
    if (readOnly && isWrite)
      return (400, errJson("server", "read-only endpoint: POST writes to /"))
    // catalog reads/writes are serialized; the jobs below run unlocked
    val df =
      try es.synchronized(es.sql(sqlText))
      catch {
        case e: IllegalArgumentException => return (400, errJson("parser", errMsg(e)))
      }
    val rows = df.limit(maxRows)
      .select(to_json(struct(df.columns.toIndexedSeq.map(col): _*),
        java.util.Map.of("ignoreNullFields", "false")).as("j"))
      .collect().map(_.getString(0)) // bounded by maxRows: the serving cap
    (200, rows.mkString("[", ",", "]"))
  }

  /** Parse `{"query": …, "params": […]}` (Jackson — already on the Spark
    * classpath) and substitute each positional `?` with a rendered typed
    * literal. Strings become '…' with the dialect's '' escaping — the
    * value can never terminate the literal, which is the whole injection
    * defense; numbers/booleans/null render as themselves. `?` inside a
    * string literal of the query text is data, not a placeholder. */
  private[server] def parseJsonQuery(body: String): Either[String, String] = {
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      catch { case e: Exception => return Left("bad JSON body: " + errMsg(e)) }
    val qNode = root.get("query")
    if (qNode == null || !qNode.isTextual)
      return Left("JSON body needs a string 'query' field")
    val q = qNode.asText()
    val params: Vector[com.fasterxml.jackson.databind.JsonNode] = {
      val p = root.get("params")
      if (p == null) Vector.empty
      else if (!p.isArray) return Left("'params' must be an array")
      else (0 until p.size).map(p.get).toVector
    }
    def render(n: com.fasterxml.jackson.databind.JsonNode): Either[String, String] =
      if (n.isTextual) Right("'" + n.asText().replace("'", "''") + "'")
      // plain-decimal rendering (r16 ADVICE): Double.toString puts 1e21 /
      // 2.5e-7 in scientific notation; the lexer now accepts exponents,
      // but the substituted literal should still read as the exact
      // decimal the caller sent (BigDecimal round-trips both int and
      // float JSON numbers losslessly)
      else if (n.isNumber)
        Right(new java.math.BigDecimal(n.asText()).toPlainString)
      else if (n.isBoolean) Right(if (n.asBoolean()) "TRUE" else "FALSE")
      else if (n.isNull) Right("NULL")
      else Left(s"unsupported parameter type: ${n.getNodeType}")
    val out = new StringBuilder
    var inStr = false
    var used = 0
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (c == '\'') { inStr = !inStr; out.append(c) }
      else if (c == '?' && !inStr) {
        if (used >= params.length)
          return Left(s"query has more ? placeholders than params (${params.length})")
        render(params(used)) match {
          case Right(s) => out.append(s); used += 1
          case Left(m) => return Left(m)
        }
      }
      else out.append(c)
      i += 1
    }
    if (used != params.length)
      return Left(s"query has $used ? placeholders but ${params.length} params")
    Right(out.toString)
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
