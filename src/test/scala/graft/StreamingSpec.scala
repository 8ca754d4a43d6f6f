package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{lit, regexp_extract_all, regexp_replace, size}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{AttributionHit, ClosedSession, FunnelConversion, StreamEvent, StreamOps}

class StreamingSpec extends SparkTestBase {

  test("tumbling windowed counts with watermark (D4)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append).start()
    try {
      val h = 3600L * 1000
      input.addData(
        StreamEvent(1, new Timestamp(0 * h + 10), "click", 1.0),
        StreamEvent(2, new Timestamp(0 * h + 20), "click", 2.0),
        StreamEvent(1, new Timestamp(1 * h + 30), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first two windows
      input.addData(StreamEvent(9, new Timestamp(9 * h), "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select("window_start", "event_type", "n", "total_value").collect()
      val byKey = rows.map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(byKey((0L, "click")) == ((2L, 3.0)))
      assert(byKey((h, "view")) == ((1L, 5.0)))
    } finally q.stop()
  }

  test("exact per-window percentiles: append mode emits closed windows once, drops late rows (D28)") {
    // the PRODUCTION shape of q_stream_percentiles (r12 verdict item 5):
    // watermark + append — a window's multiset state lives only until the
    // watermark passes its end, the finalized window emits exactly once
    // with exact nearest-rank selections, and late data is dropped
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.windowedPercentiles(input.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("pctl_out")
      .outputMode(OutputMode.Append).start()
    try {
      val h = 3600L * 1000
      // hour 0: clicks 1..4 → n=4, p50 = v[ceil(.5*4)]=v[2]=2, p95=v[4]=4
      input.addData(
        StreamEvent(1, new Timestamp(0 * h + 10), "click", 2.0),
        StreamEvent(2, new Timestamp(0 * h + 20), "click", 4.0),
        StreamEvent(3, new Timestamp(0 * h + 30), "click", 1.0),
        StreamEvent(4, new Timestamp(0 * h + 40), "click", 3.0))
      q.processAllAvailable()
      // append mode: nothing emits while the window can still grow
      assert(spark.table("pctl_out").isEmpty,
        "open window emitted before watermark passed")
      // hour 2 event pushes the watermark past hour 0's end → hour 0
      // finalizes and emits; its state is evicted
      input.addData(StreamEvent(9, new Timestamp(2 * h), "click", 7.0))
      q.processAllAvailable()
      val closed = spark.table("pctl_out")
        .select($"start_ms", $"n", $"p50", $"p95").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      assert(closed.toSet == Set((0L, 4L, 2.0, 4.0)), closed.mkString(","))
      // a LATE hour-0 row (behind the watermark) must not resurrect the
      // closed window or change any emitted result
      input.addData(StreamEvent(5, new Timestamp(0 * h + 50), "click", 100.0))
      q.processAllAvailable()
      // close hour 2 as well: the late row contributed nothing anywhere
      input.addData(StreamEvent(9, new Timestamp(5 * h), "click", 0.0))
      q.processAllAvailable()
      val all = spark.table("pctl_out")
        .select($"start_ms", $"n", $"p50", $"p95").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      assert(all.toSet == Set((0L, 4L, 2.0, 4.0), (2 * h, 1L, 7.0, 7.0)),
        all.mkString(","))
    } finally q.stop()
  }

  test("sliding 7-day active users: window membership and sketch accuracy (D21)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.slidingActiveUsers(input.toDF())
      .writeStream.format("memory").queryName("wau_out")
      .outputMode(OutputMode.Append).start()
    try {
      val day = 86400L * 1000
      // 3 users on day 0, user 1 returns day 2, user 4 first seen day 9
      input.addData(
        StreamEvent(1, new Timestamp(0 * day + 10), "click", 1.0),
        StreamEvent(2, new Timestamp(0 * day + 20), "click", 1.0),
        StreamEvent(3, new Timestamp(0 * day + 30), "view", 1.0),
        StreamEvent(1, new Timestamp(2 * day + 10), "click", 1.0))
      q.processAllAvailable()
      // day 30 advances the watermark far enough to close the early windows
      input.addData(StreamEvent(4, new Timestamp(30 * day), "click", 0.0))
      q.processAllAvailable()
      val byEnd = spark.table("wau_out").collect()
        .map(r => r.getTimestamp(0).getTime / day -> r.getLong(1)).toMap
      // the window ending day 1 (covering day 0 only here) saw users 1,2,3;
      // the one ending day 3 additionally covers user 1's return (still 3
      // distinct); a revisit never double-counts
      assert(byEnd(1L) == 3L, byEnd.toString)
      assert(byEnd(3L) == 3L, byEnd.toString)
      // windows covering only day 2 see just the returning user
      assert(byEnd(9L) == 1L, byEnd.toString)
    } finally q.stop()
  }

  test("streaming minhash near-dup: cross-batch collision flagged, distinct text not") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    GraftSession.prepare(spark)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val input = MemoryStream[graft.streaming.StreamDoc]
    val q = StreamOps.nearDupCandidates(input.toDS())
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(graft.streaming.StreamDoc(1, new Timestamp(0), base))
      q.processAllAvailable()
      assert(spark.table("neardup_out").count() == 0)
      // near-identical doc in a later batch collides with stored bands
      input.addData(
        graft.streaming.StreamDoc(2, new Timestamp(1000), base + " ok"),
        graft.streaming.StreamDoc(3, new Timestamp(1000),
          "completely different words about nothing similar at all whatsoever"))
      q.processAllAvailable()
      val pairs = spark.table("neardup_out")
        .select("earlier_id", "later_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), pairs.toString)
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs.toString)
    } finally q.stop()
  }

  test("streaming embed near-dup vs static corpus: dup flagged, orthogonal not (D10)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    GraftSession.prepare(spark)
    val a = Array(0.9f, 0.1f, -0.3f, 0.5f, 0.2f, -0.7f, 0.4f, 0.1f)
    val corpus = Seq((100L, a), (101L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val input = MemoryStream[graft.streaming.StreamVec]
    val q = StreamOps.embedNearDupAgainstCorpus(input.toDS(), corpus)
      .writeStream.format("memory").queryName("embed_dup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // vec 1 is (nearly) the corpus vector 100; vec 2 is orthogonal to both
      input.addData(
        graft.streaming.StreamVec(1, new Timestamp(0), a.map(_ * 1.01f)),
        graft.streaming.StreamVec(2, new Timestamp(1),
          Array(0.1f, -0.9f, 0f, 0f, 0f, 0f, 0f, 0f)))
      q.processAllAvailable()
      val pairs = spark.table("embed_dup_out")
        .select("vec_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming embed near-dup SRP route (above-cutoff path, τ=0.5 sizing)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    GraftSession.prepare(spark)
    val a = Array(0.9f, 0.1f, -0.3f, 0.5f, 0.2f, -0.7f, 0.4f, 0.1f)
    val corpus = Seq((100L, a), (101L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val input = MemoryStream[graft.streaming.StreamVec]
    // routeMax=0 forces the SRP banding route on a tiny corpus; a
    // near-identical vector (cos≈1) collides in some band with
    // near-certainty at 192×12, the orthogonal one is cosine-rejected
    // even if a band collides
    val q = StreamOps.embedNearDupAgainstCorpus(input.toDS(), corpus,
        threshold = 0.5, routeMax = 0L)
      .writeStream.format("memory").queryName("embed_srp_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        graft.streaming.StreamVec(1, new Timestamp(0), a.map(_ * 1.01f)),
        graft.streaming.StreamVec(2, new Timestamp(1),
          Array(0.1f, -0.9f, 0f, 0f, 0f, 0f, 0f, 0f)))
      q.processAllAvailable()
      val pairs = spark.table("embed_srp_out")
        .select("vec_id", "corpus_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L)), s"got $pairs")
    } finally q.stop()
  }

  test("stream-static enrichment join is stateless and broadcast (D8)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.enrichWithDim(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamEvent(1, new Timestamp(100), "click", 1.0),
        StreamEvent(3, new Timestamp(200), "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enriched_out")
        .select("user_id", "segment").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(1L -> Some("gold"), 3L -> None)) // left join keeps unmatched
    } finally q.stop()
  }

  test("stream-stream interval join: follows within the window only (D9)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val views = MemoryStream[StreamEvent]
    val buys = MemoryStream[StreamEvent]
    val q = StreamOps.followWithin(views.toDS(), buys.toDS(),
      withinMs = 3600L * 1000, watermark = "10 seconds")
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode(OutputMode.Append).start()
    try {
      val h = 3600L * 1000
      val base = 86400000L // NOT epoch 0: a left row at event-time 0 sits on
                           // Spark's initial-watermark boundary and is evicted
      views.addData(StreamEvent(1, new Timestamp(base), "view", 0.0))
      buys.addData(
        StreamEvent(1, new Timestamp(base + h / 2), "purchase", 9.99), // within 1h: match
        StreamEvent(1, new Timestamp(base + 3 * h), "purchase", 5.0),  // too late: no match
        StreamEvent(2, new Timestamp(base + h / 2), "purchase", 1.0))  // no lead view: no match
      q.processAllAvailable()
      val rows = spark.table("attrib_out")
        .select("user_id", "follow_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((1L, 9.99)), rows.mkString(","))
    } finally q.stop()
  }

  test("gap sessionization via flatMapGroupsWithState (D5)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.sessionize(input.toDS(), gapMs = 1000L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamEvent(1, new Timestamp(100), "a", 1.0),
        StreamEvent(1, new Timestamp(300), "a", 2.0))
      q.processAllAvailable()
      // other user far in the future: watermark passes user 1's gap
      // timeout, closing their session via EventTimeTimeout
      input.addData(StreamEvent(2, new Timestamp(60000), "a", 7.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions_out").as[ClosedSession].collect()
      assert(sessions.length == 1, sessions.mkString(","))
      val s1 = sessions.head
      assert(s1.user_id == 1 && s1.start_ms == 100 && s1.n_events == 2 &&
        s1.value == 3.0 && s1.duration_ms == 200)
      // in-batch gap split for the same user
      input.addData(
        StreamEvent(2, new Timestamp(61000), "a", 1.0),
        StreamEvent(2, new Timestamp(70000), "a", 2.0))
      q.processAllAvailable()
      val s2 = spark.table("sessions_out").as[ClosedSession]
        .filter(_.user_id == 2).collect()
      assert(s2.length == 1 && s2.head.start_ms == 60000 && s2.head.n_events == 2)
    } finally q.stop()
  }

  test("hopping windowed counts: one event lands in length/hop = 4 windows (D14)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.hoppingCounts(input.toDF())
      .writeStream.format("memory").queryName("hopping_out")
      .outputMode(OutputMode.Append).start()
    try {
      // event at minute 40 of hour 0: covered by windows starting at
      // -0:15, 0:00, 0:15, 0:30
      input.addData(StreamEvent(1, new Timestamp(40 * 60000L), "click", 2.0))
      q.processAllAvailable()
      // advance the watermark far enough to close all four windows
      input.addData(StreamEvent(9, new Timestamp(10 * 3600000L), "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("hopping_out")
        .select($"window_start", $"n").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSet
      val expected = Set(-15L, 0L, 15L, 30L).map(m => (m * 60000L, 1L))
      assert(rows == expected, rows.mkString(","))
    } finally q.stop()
  }

  test("streaming attribution: first/last touch per purchase, batch-parity on first (D22)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.attribution(input.toDS())
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        // user 1: view → click → purchase: first=view, last=click
        StreamEvent(1, new Timestamp(100), "view", 0.0),
        StreamEvent(1, new Timestamp(200), "click", 0.0),
        StreamEvent(1, new Timestamp(300), "purchase", 1.0),
        // user 2: purchase with NO preceding touch → first=purchase, last=direct
        StreamEvent(2, new Timestamp(100), "purchase", 1.0))
      q.processAllAvailable()
      val hits1 = spark.table("attrib_out").as[AttributionHit].collect().toSet
      assert(hits1 == Set(
        AttributionHit(1, "view", "click", 300),
        AttributionHit(2, "purchase", "direct", 100)), hits1.mkString(","))
      // a SECOND purchase attributes to the latest touch before it, and
      // first_touch stays pinned to the opening event across batches
      input.addData(
        StreamEvent(1, new Timestamp(400), "error", 0.0),
        StreamEvent(1, new Timestamp(500), "purchase", 1.0))
      q.processAllAvailable()
      val hits2 = spark.table("attrib_out").as[AttributionHit].collect().toSet
      assert(hits2 == hits1 + AttributionHit(1, "view", "error", 500), hits2.mkString(","))
    } finally q.stop()
  }

  test("streaming funnel: in-window conversion emits, lapsed step resets, signup restarts (D13)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.funnel(input.toDS(), stepMs = 1000L)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        // user 1 completes each step inside the 1 s window → converts
        StreamEvent(1, new Timestamp(100), "signup", 0.0),
        StreamEvent(1, new Timestamp(600), "view", 0.0),
        StreamEvent(1, new Timestamp(1400), "purchase", 1.0),
        // user 2 views too late (1600 > 100 + 1000): funnel dead, the
        // later purchase must NOT convert
        StreamEvent(2, new Timestamp(100), "signup", 0.0),
        StreamEvent(2, new Timestamp(1600), "view", 0.0),
        StreamEvent(2, new Timestamp(1700), "purchase", 1.0),
        // user 3: out-of-order step (purchase before view) must not convert
        StreamEvent(3, new Timestamp(100), "signup", 0.0),
        StreamEvent(3, new Timestamp(300), "purchase", 1.0))
      q.processAllAvailable()
      val conv = spark.table("funnel_out").as[FunnelConversion].collect()
      assert(conv.toSeq == Seq(FunnelConversion(1, 100, 1400)), conv.mkString(","))
      // user 2's funnel restarts on a NEW signup and converts this time;
      // user 1 already converted (state removed) — a lone purchase does nothing
      input.addData(
        StreamEvent(2, new Timestamp(2000), "signup", 0.0),
        StreamEvent(2, new Timestamp(2500), "view", 0.0),
        StreamEvent(2, new Timestamp(3000), "purchase", 1.0),
        StreamEvent(1, new Timestamp(3000), "purchase", 1.0))
      q.processAllAvailable()
      val conv2 = spark.table("funnel_out").as[FunnelConversion].collect()
      assert(conv2.toSet ==
        Set(FunnelConversion(1, 100, 1400), FunnelConversion(2, 2000, 3000)),
        conv2.mkString(","))
    } finally q.stop()
  }

  test("native session_window: gap sessions close on watermark, late bridge merges (D19)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val m = 60L * 1000
    val q = StreamOps.sessionWindowAgg(input.toDF(), gap = "30 minutes",
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("sesswin_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then a 40-min gap
      // (new session); user 2: one event
      input.addData(
        StreamEvent(1, new Timestamp(0), "click", 1.0),
        StreamEvent(1, new Timestamp(10 * m), "click", 2.0),
        StreamEvent(1, new Timestamp(50 * m), "view", 3.0),
        StreamEvent(2, new Timestamp(5 * m), "click", 4.0))
      q.processAllAvailable()
      // advance the watermark far past every session's close
      input.addData(StreamEvent(9, new Timestamp(1000 * m), "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sesswin_out")
        .select("session_start", "user_id", "n_events", "total_value").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(rows((0L, 1L)) == ((2L, 3.0)), rows.toString)        // merged 0+10min
      assert(rows((50 * m, 1L)) == ((1L, 3.0)), rows.toString)    // gap > 30min
      assert(rows((5 * m, 2L)) == ((1L, 4.0)), rows.toString)
    } finally q.stop()
  }

  test("streaming debounce: previous-KEPT gap rule holds across batches (D18)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.debounce(input.toDS(), windowMs = 1000L)
      .writeStream.format("memory").queryName("debounce_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamEvent(1, new Timestamp(100), "click", 1.0),   // kept (first)
        StreamEvent(1, new Timestamp(600), "click", 2.0),   // dropped (500 ≤ 1s)
        StreamEvent(1, new Timestamp(700), "view", 3.0),    // kept (other type)
        StreamEvent(2, new Timestamp(650), "click", 4.0))   // kept (other user)
      q.processAllAvailable()
      // previous-KEPT semantics: 600 was dropped, so the clock for user 1
      // clicks still reads 100 — an 1150 arrival (1050 after the KEPT one,
      // but 550 after the DROPPED one) must be kept; the batch lag-based
      // variant would drop it
      input.addData(
        StreamEvent(1, new Timestamp(1150), "click", 5.0),  // kept (vs 100)
        StreamEvent(1, new Timestamp(1900), "click", 6.0))  // dropped (vs 1150)
      q.processAllAvailable()
      val kept = spark.table("debounce_out").as[StreamEvent].collect()
        .map(e => (e.user_id, e.event_type, e.ts.getTime)).toSet
      assert(kept == Set(
        (1L, "click", 100L), (1L, "view", 700L), (2L, "click", 650L),
        (1L, "click", 1150L)), kept.toString)
    } finally q.stop()
  }

  test("streaming inter-event gaps: batch-parity across micro-batches (D23)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.eventGaps(input.toDS())
      .writeStream.format("memory").queryName("gaps_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamEvent(1, new Timestamp(100), "click", 1.0),
        StreamEvent(1, new Timestamp(400), "click", 1.0),
        StreamEvent(1, new Timestamp(450), "view", 1.0),
        StreamEvent(2, new Timestamp(300), "click", 1.0))
      q.processAllAvailable()
      // the predecessor clock survives the micro-batch boundary
      input.addData(
        StreamEvent(1, new Timestamp(1400), "click", 1.0),
        StreamEvent(2, new Timestamp(301), "click", 1.0),
        StreamEvent(1, new Timestamp(2450), "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("gaps_out").as[graft.streaming.EventGap].collect()
        .map(g => (g.user_id, g.event_type, g.gap_ms)).toSet
      // exactly the gaps the batch lag window (q_event_gaps) derives
      assert(got == Set(
        (1L, "click", 300L), (1L, "click", 1000L),
        (2L, "click", 1L), (1L, "view", 2000L)), got.toString)
    } finally q.stop()
  }

  test("streaming prefix z-score: state survives batches, matches the sequential fold (D25)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamEvent]
    val q = StreamOps.prefixZscore(input.toDS())
      .writeStream.format("memory").queryName("zscore_out")
      .outputMode(OutputMode.Append).start()
    val batch1 = Seq(
      StreamEvent(1, new Timestamp(100), "click", 10.0),
      StreamEvent(2, new Timestamp(200), "click", 12.0),
      StreamEvent(1, new Timestamp(300), "view", 5.0))
    val batch2 = Seq(
      StreamEvent(3, new Timestamp(400), "click", 11.0),
      StreamEvent(1, new Timestamp(500), "click", 40.0), // the anomaly
      StreamEvent(2, new Timestamp(600), "view", 5.5))
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("zscore_out").as[graft.streaming.PrefixScore]
        .collect().map(p => (p.event_type, p.ts_ms) -> p.z).toMap
      // the oracle is the same fold run sequentially over the full stream
      val exp = scala.collection.mutable.Map.empty[(String, Long), Double]
      val st = scala.collection.mutable.Map.empty[String, (Long, Double, Double)]
      (batch1 ++ batch2).sortBy(e => e.ts.getTime).foreach { e =>
        val (n, sx, sxx) = st.getOrElse(e.event_type, (0L, 0.0, 0.0))
        val z =
          if (n < 2) 0.0
          else {
            val v = (sxx - sx * sx / n) / (n - 1)
            if (v <= 0) 0.0 else (e.value - sx / n) / math.sqrt(v)
          }
        exp((e.event_type, e.ts.getTime)) = z
        st(e.event_type) = (n + 1, sx + e.value, sxx + e.value * e.value)
      }
      assert(got == exp.toMap, got.toString)
      // the anomaly sticks out; pre-history scores are 0 by definition
      assert(got(("click", 500L)) > 3.0, got(("click", 500L)).toString)
      assert(got(("click", 100L)) == 0.0 && got(("click", 200L)) == 0.0)
    } finally q.stop()
  }

  test("streaming parquet file sink: checkpoint restart resumes exactly-once (D24)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withTempDir("graft-sink") { dir =>
      val (out, cp) = (s"$dir/data", s"$dir/cp")
      val input = MemoryStream[StreamEvent]
      def start() = input.toDS()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode(OutputMode.Append).start()
      val q1 = start()
      input.addData(StreamEvent(1, new Timestamp(100), "click", 1.0),
        StreamEvent(2, new Timestamp(200), "view", 2.0))
      q1.processAllAvailable(); q1.stop()
      // restart against the same checkpoint: the committed offset means
      // batch 1 is NOT re-emitted; the sink's _spark_metadata commit log
      // means readers see only finished files — exactly-once end to end
      val q2 = start()
      input.addData(StreamEvent(3, new Timestamp(300), "click", 3.0))
      q2.processAllAvailable(); q2.stop()
      val rows = spark.read.parquet(out).as[StreamEvent].collect()
        .map(e => (e.user_id, e.ts.getTime)).toSet
      assert(rows == Set((1L, 100L), (2L, 200L), (3L, 300L)), rows.toString)
    }
  }

  test("per-row batch ops are stream-transparent: PII scrub on a document stream (D16)") {
    // every shuffle-free per-row operator (scrubbing, quality, lang-id,
    // fingerprints) is a plain Column expression, so the SAME code runs on
    // a stream with no changes — this pins that property for the scrub
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[graft.streaming.StreamDoc]
    val pat = graft.operators.TextAnalysis.PiiEmailRe
    val q = input.toDF()
      .select($"doc_id",
        size(regexp_extract_all($"text", lit(pat), lit(0))).as("n_pii"),
        regexp_replace($"text", pat, "<EMAIL>").as("clean"))
      .writeStream.format("memory").queryName("scrub_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        graft.streaming.StreamDoc(1, new Timestamp(0), "write to bob@mail.com now"),
        graft.streaming.StreamDoc(2, new Timestamp(1), "no contact here"))
      q.processAllAvailable()
      val out = spark.table("scrub_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(out == Set((1L, 1, "write to <EMAIL> now"), (2L, 0, "no contact here")))
    } finally q.stop()
  }

  test("streaming LWW upsert: versions beat arrival order, replays are idempotent") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[graft.streaming.StreamUpdate]
    val q = StreamOps.lwwUpsert(input.toDS())
      .writeStream.format("memory").queryName("lww_out")
      .outputMode(OutputMode.Update).start()
    try {
      import graft.streaming.StreamUpdate
      input.addData(StreamUpdate(1, 2, "b"), StreamUpdate(2, 1, "x"))
      q.processAllAvailable()
      // out-of-order: a LOWER version for key 1 arrives later and must lose;
      // key 2 gets a genuine update
      input.addData(StreamUpdate(1, 1, "a"), StreamUpdate(2, 5, "y"))
      q.processAllAvailable()
      // replay of the current winner: state unchanged (idempotent)
      input.addData(StreamUpdate(2, 5, "y"))
      q.processAllAvailable()
      val last = spark.table("lww_out").as[StreamUpdate].collect()
        .groupBy(_.key).view.mapValues(_.maxBy(_.version)).toMap
      assert(last(1L) == StreamUpdate(1, 2, "b"), s"stale write won for key 1: ${last(1L)}")
      assert(last(2L) == StreamUpdate(2, 5, "y"))
    } finally q.stop()
  }

  test("streaming count-min sketch: grid folds across micro-batches (D21)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    GraftSession.prepare(spark)
    val input = MemoryStream[graft.streaming.StreamDoc]
    val q = StreamOps.termSketch(input.toDS())
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Complete).start()
    try {
      // 'hot' appears 6× in batch one, 4× more in batch two; the final
      // grid must reflect BOTH batches (state-store partial merge)
      input.addData(graft.streaming.StreamDoc(1, new Timestamp(0),
        "hot hot hot cold warm hot hot hot"))
      q.processAllAvailable()
      input.addData(graft.streaming.StreamDoc(2, new Timestamp(1000),
        "hot hot warm hot hot mild"))
      q.processAllAvailable()
      val sketch = spark.table("cms_out").collect().last.getAs[Array[Byte]]("sketch")
      import org.apache.spark.unsafe.types.UTF8String
      def est(t: String): Long =
        graft.functions.CountMin.estimate(sketch, UTF8String.fromString(t), 2048)
      // tiny vocabulary → zero collisions: estimates are exact
      assert(est("hot") == 10L, s"hot=${est("hot")}")
      assert(est("warm") == 2L)
      assert(est("cold") == 1L && est("mild") == 1L)
      assert(est("absent") == 0L)
    } finally q.stop()
  }
}
