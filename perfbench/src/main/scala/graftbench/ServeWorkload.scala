package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sql.{EmdriveSession, EmdriveSql}
import graft.server.GraftServer

/** HTTP serving: a GraftServer with default workers over a durable
  * EmdriveSession, driven by a closed loop on `Conns` connections: each
  * connection sends its next seeded request as soon as the previous one
  * has answered, so the window measures the server at saturation. Writes
  * go to per-connection tables pre-loaded at set-up. */
final class ServeWorkload extends Workload {
  import ServeWorkload._

  private var s: SparkSession = _
  private var es: EmdriveSession = _
  private var server: GraftServer = _
  private var dataDir: String = _
  private var setupRep = 0
  def spark: SparkSession = s

  /** Expected table state per connection: id -> (v, tag). */
  private val expected = Array.fill(Conns)(mutable.LinkedHashMap.empty[Long, (Long, String)])
  private val done = new ConcurrentLinkedQueue[Done]()

  def setup(ctx: Ctx): Unit = {
    setupRep += 1
    s = ctx.newSpark()
    dataDir = ctx.dir(s"data-$setupRep")
    es = new EmdriveSession(s, Some(dataDir))
    graft.sources.Tables.all.foreach(t =>
      es.register(t, graft.sources.Tables(s, ctx.args.corpus, t)))
    Statements.register(es, s, ctx.args.corpus)
    // one durable table per connection, pre-loaded from the corpus
    (0 until Conns).foreach(c => es.sql(s"CREATE TABLE w$c AS SELECT $PreloadCols " +
      s"FROM documents WHERE doc_id < $Preload;"))
    server = new GraftServer(es)
    server.start()
  }

  def teardown(ctx: Ctx): Unit = {
    server.stop()
    ctx.stopSpark(s)
  }

  private def base = s"http://127.0.0.1:${server.boundPort}"

  private def request(r: Req): HttpRequest = r.kind match {
    case "health" => HttpRequest.newBuilder(URI.create(s"$base/health")).GET().build()
    case k if Writes(k) =>
      HttpRequest.newBuilder(URI.create(s"$base/"))
        .POST(HttpRequest.BodyPublishers.ofString(r.text)).build()
    case _ =>
      HttpRequest.newBuilder(URI.create(s"$base/?query=" +
        java.net.URLEncoder.encode(r.text, UTF_8))).GET().build()
  }

  /** One connection's seeded request stream: inserts take the
    * connection's next fresh id, updates add to a pre-loaded row. */
  private final class Source(conn: Int, seed: Long, docs: Int, vecs: Int) {
    private val rnd = new scala.util.Random(seed)
    private val gen = new Statements(seed ^ 0x5eedL, docs, vecs)
    private var nextId = Preload.toLong
    private var pos = conn * Mix.size / Conns

    def next(): Req = { pos += 1; make(Mix(pos % Mix.size)) }

    def make(kind: String): Req = kind match {
      case "insert" =>
        val id = nextId; nextId += 1
        val v = rnd.nextInt(1000).toLong
        Req(kind, conn, s"INSERT INTO w$conn (id, v, tag) VALUES ($id, $v, 'n$id');", "",
          Some((id, v)))
      case "update" =>
        val (id, d) = (rnd.nextInt(Preload).toLong, 1 + rnd.nextInt(9).toLong)
        Req(kind, conn, s"UPDATE w$conn SET v = v + $d WHERE id = $id;", "", Some((id, d)))
      case "health" => Req(kind, conn, "", "", None)
      case t =>
        val st = gen.make(t)
        Req(t, conn, st.text, st.oracle, None)
    }
  }

  private def send(client: HttpClient, r: Req, phase: Int, ctx: Ctx): Done = {
    val op = ctx.attempt()
    val sent = System.nanoTime()
    val startMs = Clock.ms()
    try {
      val resp = client.send(request(r), HttpResponse.BodyHandlers.ofString())
      val end = System.nanoTime()
      if (ctx.tracer.enabled && phase == Window)
        ctx.op(Span(ctx.tracer.newId(), ctx.rootSpan, "serve.req", startMs, Clock.ms()))
      Done(op, r, phase, sent, end, resp.statusCode(), resp.body())
    } catch { case e: Throwable =>
      Done(op, r, phase, sent, System.nanoTime(), -1, Util.cause(e))
    }
  }

  def measure(ctx: Ctx): Unit = {
    val (docs, vecs) = Statements.sizes(s, ctx.args.corpus)
    val sources = (0 until Conns).map(c => new Source(c, ctx.args.seed * Conns + c, docs, vecs))
    val clients = Array.fill(Conns)(HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build())
    // cold pass: one request of each kind, one at a time
    Kinds.zipWithIndex.foreach { case (k, i) =>
      val c = i % Conns
      val d = send(clients(c), sources(c).make(k), Cold, ctx)
      ctx.cold(k) = (d.end - d.sent) / 1e9
      done.add(d)
    }
    // closed loop: settling requests (checked, not timed: the JIT is still
    // compiling), then the window; a request belongs to the phase it was
    // sent in, and none is sent after the window closes
    val t0 = System.nanoTime()
    val windowStart = t0 + (SettleSeconds * 1e9).toLong
    val windowEnd = windowStart + ctx.args.seconds * 1000000000L
    val workers = (0 until Conns).map { c =>
      val th = new Thread(() => {
        var now = System.nanoTime()
        while (now < windowEnd) {
          done.add(send(clients(c), sources(c).next(), if (now < windowStart) Settle else Window,
            ctx))
          now = System.nanoTime()
        }
      }, s"perfbench-conn-$c")
      th.setDaemon(true)
      th.start()
      th
    }
    workers.foreach(_.join())
    val windowS = (math.max(windowEnd, done.asScala.map(_.end).max) - windowStart) / 1e9

    val all = done.asScala.toSeq
    def lat(d: Done) = (d.end - d.sent) / 1e6
    val measured = all.filter(d => d.phase == Window && d.req.kind != "health")
    ctx.latMs ++= measured.map(lat)
    measured.groupBy(_.req.kind).foreach { case (k, ds) =>
      ctx.warmOf(k) ++= ds.map(lat(_) / 1e3)
    }
    ctx.info("window_requests") = all.count(_.phase == Window)
    ctx.info("window_s") = windowS
    if (ctx.args.trace) {
      val o = ctx.layerOut
      val reads = measured.filter(d => !Writes(d.req.kind))
      val writes = measured.filter(d => Writes(d.req.kind))
      o("serve.read_p50_ms") = pct(reads.map(lat), 50)
      o("serve.read_p99_ms") = pct(reads.map(lat), 99)
      o("serve.write_p50_ms") = pct(writes.map(lat), 50)
      o("serve.write_p99_ms") = pct(writes.map(lat), 99)
      o("serve.max_qps") = all.count(_.phase == Window) / windowS
      o("server.health_ms") = Util.median(all.filter(d => d.phase == Window &&
        d.req.kind == "health").map(lat))
      val ok = all.filter(d => d.status == 200 && d.req.kind != "health")
      o("result.rows") = ok.map(d => d.body.count(_ == '{')).sum.toDouble / math.max(1, ok.size)
      o("result.bytes") = ok.map(_.body.length.toLong).sum.toDouble / math.max(1, ok.size)
      storeMetrics(ctx, all)
      replay(ctx, reads)
    }
  }

  /** Durable-write cost: table generations on disk per byte of written
    * statement text (each write rewrites a whole generation). */
  private def storeMetrics(ctx: Ctx, all: Seq[Done]): Unit = {
    val writes = all.filter(d => d.status == 200 && Writes(d.req.kind))
    val userBytes = writes.map(_.req.text.getBytes(UTF_8).length.toLong).sum
    val genBytes = (0 until Conns).map { c =>
      val dir = Paths.get(dataDir, s"w$c")
      val gens = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("gen-")).toSeq
      // the live generation's size prices every rewrite of that table
      val live = gens.map(Util.dirBytes).maxOption.getOrElse(0L)
      live * writes.count(_.req.conn == c)
    }.sum
    ctx.layerOut("store.generations") = writes.size.toDouble
    ctx.layerOut("store.bytes_per_user_byte") = genBytes.toDouble / math.max(1L, userBytes)
  }

  /** Server overhead: the same read texts run in-process through
    * `es.sql` and `collect`, against their HTTP latency. Also prices the
    * SQL front end, which runs inside the server. */
  private def replay(ctx: Ctx, reads: Seq[Done]): Unit = {
    val sample = reads.groupBy(_.req.text).toSeq.sortBy(_._1).take(ReplaySample)
    val rows = sample.map { case (text, ds) =>
      val http = Util.median(ds.map(d => (d.end - d.sent) / 1e6))
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        EmdriveSql.parse(text)
        val t1 = System.nanoTime()
        val df = es.synchronized(es.sql(text))
        val t2 = System.nanoTime()
        df.collect()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e6, (t2 - t1 - (t1 - t0)) / 1e6, (t3 - t1) / 1e6)
      }
      (http - Util.median(runs.map(_._3)), Util.median(runs.map(_._1)), Util.median(runs.map(_._2)))
    }
    ctx.layerOut("server.overhead_ms") = Util.median(rows.map(_._1))
    ctx.layerOut("sql.parse_ms") = Util.median(rows.map(_._2))
    ctx.layerOut("sql.lower_ms") = Util.median(rows.map(_._3))
  }

  def finish(ctx: Ctx): Unit = {
    val all = done.asScala.toSeq
    all.filter(_.status != 200).foreach(d =>
      ctx.fail(d.op, d.req.kind, s"HTTP ${d.status}: ${d.body.take(300)}"))
    // reads: bodies to the checker, with the oracle of each statement
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val lines = all.filter(d => d.status == 200 && !Writes(d.req.kind)).map(d =>
      mapper.writeValueAsString(Map("op" -> d.op, "kind" -> d.req.kind,
        "oracle" -> d.req.oracle, "body" -> d.body)))
    val path = Paths.get(ctx.args.work, "results", "serve_reads.jsonl")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    ctx.checks += Map("kind" -> "http", "name" -> "reads", "jsonl" -> path.toString,
      "preludes" -> Statements.preludes)
    // writes: the final table state must equal the pre-loaded rows plus
    // the accepted writes (updates commute: they add to a pre-loaded row)
    val preload = es.sql(s"SELECT $PreloadCols FROM documents WHERE doc_id < $Preload;")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
    expected.foreach { e => e.clear(); e ++= preload }
    all.filter(_.status == 200).foreach(d => d.req.write.foreach { case (id, x) =>
      val tbl = expected(d.req.conn)
      if (d.req.kind == "insert") tbl(id) = (x, s"n$id")
      else tbl(id) = (tbl(id)._1 + x, tbl(id)._2)
    })
    (0 until Conns).foreach { c =>
      val got = es.sql(s"SELECT id, v, tag FROM w$c;").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      if (got != expected(c).toMap) {
        val bad = (got.keySet ++ expected(c).keySet).count(k => got.get(k) != expected(c).get(k))
        all.filter(d => d.req.conn == c && Writes(d.req.kind) && d.status == 200)
          .foreach(d => ctx.fail(d.op, d.req.kind,
            s"table w$c final state differs from the accepted writes ($bad rows)"))
      }
    }
  }
}

object ServeWorkload {
  val Conns = 2
  val Preload = 64
  val PreloadCols = "doc_id AS id, n_chars AS v, lang AS tag"
  val ReplaySample = 12
  val SettleSeconds = 1.0
  val Cold = 0
  val Settle = 1
  val Window = 2
  val Writes: Set[String] = Set("insert", "update")
  /** Kinds of the cold pass. ann_search is sent cold only: its first
    * request writes the persisted IVF layout, the heaviest first request a
    * similarity-search client pays. */
  val Kinds: Seq[String] = Seq("point", "agg", "columns", "ann_search", "insert", "update",
    "health")
  /** Request mix, one cycle that every connection walks from its own
    * offset. The five timed kinds have equal shares, so each gets enough
    * window samples for its median, and the overall median falls inside
    * the middle kind's latencies rather than between kinds. metric_knn is
    * left out: it holds the catalog monitor for seconds (sql-interactive
    * prices it). */
  val Mix: Seq[String] = Seq("point", "insert", "agg", "update", "columns", "health")

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1).max(0))
    }
}

final case class Req(kind: String, conn: Int, text: String, oracle: String,
    write: Option[(Long, Long)])

final case class Done(op: Long, req: Req, phase: Int, sent: Long, end: Long, status: Int,
    body: String)
