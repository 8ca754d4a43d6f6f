package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionMemo
import graft.operators.EventTime
import graft.sources.Tables

/** Registered oracle keys for the Structured Streaming operator family.
  *
  * Until round 9 the streaming twins (StreamOps) were suite-checked only —
  * the driver's DuckDB gate never saw them, because a streaming query is
  * not a `DataFrame` the gate can collect. This module closes that gap:
  * each key runs a REAL streaming query (file source → StreamOps transform
  * → memory sink) to completion on the driver's bounded corpus, split into
  * event-time-ordered micro-batches so cross-batch state transitions are
  * genuinely exercised, and returns the sink's final table. The oracle is
  * the batch twin's SQL — a hash match is an end-to-end proof that replaying
  * the corpus through the streaming operator reproduces the batch answer
  * (the lambda-architecture contract).
  *
  * Determinism: chunks partition event time into contiguous ranges fed in
  * order, so the stream sees data in event-time order across batches; the
  * testdata has no (user, ms) or (type, ms) collisions at any SF, so every
  * keyed fold order is unique. Timestamps are normalized to epoch-ms before
  * staging, matching the oracle's `epoch_ms(ts)` truncation exactly.
  *
  * Scale shape: staging writes the corpus once per (session, table) and is
  * memoized (SessionMemo); the streaming plans themselves are the same
  * state-store shapes documented on each StreamOps operator — nothing here
  * collects unbounded data to the driver except the memory sink, which
  * holds exactly the query RESULT (the same rows the gate hashes).
  */
object StreamQueries {

  /** Events with `ts` truncated to epoch-ms (the oracle's granularity) and
    * an `ms` long for range chunking, in a fixed staging column order. */
  private def normalizedEvents(s: SparkSession, d: String): DataFrame =
    EventTime.withMs(Tables.events(s, d))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), timestamp_millis(col("ms")).as("ts"), col("ms"))

  /** Temp directories created by the replay harness, deleted recursively
    * on JVM exit (staged corpora are memoized and reused for the life of
    * the session, so eager per-run deletion would defeat the memo; the
    * watch/checkpoint dirs of finished runs are deleted eagerly). */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val cleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // symlink-safe shared delete (never follows links — r12 ADVICE)
      tempDirs.forEach(p => graft.TempHygiene.deleteRecursively(p))
    }))
  }

  /** Scratch base for the per-key replay dirs (watch/input/checkpoint/
    * result spill). Defaults to tmpfs (/dev/shm) when present: the replay
    * family's residual fixed cost is fsync — the HDFS-backed state store
    * fsyncs one delta file PER PARTITION PER MICRO-BATCH, plus the offset/
    * commit logs and the file-source metadata log per batch (~60 fsyncs
    * per replayed key at 8 partitions × ~6 batches), and on tmpfs an
    * fsync is free. A production deployment keeps checkpoints on durable
    * storage for exactly the reason a bounded replay doesn't need to: the
    * replay is re-runnable from its staged input, so checkpoint
    * durability buys nothing (r10/r11/r12 verdicts' ≤1 s/key target).
    * `SPARK_GRAFT_STREAM_SCRATCH` overrides (e.g. back to /tmp when a
    * stress-scale replay would double RAM with staged copies). */
  private lazy val scratchBase: Path = {
    val pick = sys.env.get("SPARK_GRAFT_STREAM_SCRATCH").map(Paths.get(_))
      .orElse(Some(Paths.get("/dev/shm"))
        .filter(p => Files.isDirectory(p) && Files.isWritable(p)))
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
    Files.createDirectories(pick)
    pick
  }

  /** Pid-tagged scratch dir (name ends `_p<pid>`): [[graft.TempHygiene]]
    * reaps these liveness-based — deleted exactly when the owning process
    * is dead — instead of by the >12 h mtime heuristic, which could reap
    * a long-lived JVM's memoized staged chunks out from under its live
    * SessionMemo (r13 ADVICE, medium). */
  private def tempDir(prefix: String, base: Path = scratchBase): Path = {
    cleanupHook
    val p = graft.TempHygiene.pidTaggedDir(base, prefix)
    tempDirs.add(p)
    p
  }

  /** List a directory's parquet files with the stream CLOSED (a bare
    * `Files.list(...).toArray` leaks one file descriptor per call). */
  private def listParquet(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally st.close()
  }

  /** Stage `batch` as `nChunks` single-file parquet chunks split by
    * contiguous ranges of long column `ordCol`; memoized per
    * (session, dir, stageKey) — stageKey names the STAGED RELATION, not
    * the consuming query, so every key replaying the same corpus shares
    * one staged copy (r13: the per-query memo staged the events corpus
    * 11 times across the stream family at ~1.2 s each — pure fixed cost
    * the sharing removes). Returns the chunk files in feed order plus
    * the read schema. */
  private def stageChunks(s: SparkSession, dir: String, stageKey: String,
      batch: DataFrame, ordCol: String, nChunks: Int): (Seq[Path], String) =
    SessionMemo.of(s, dir, s"stream_stage_${stageKey}_$nChunks") {
      val base = tempDir(s"graft_stage_$stageKey")
      val Array(lo, hi) = batch.agg(min(col(ordCol)), max(col(ordCol)))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val span = hi - lo + 1
      // ONE pass over the source: the chunk id is a derived partition
      // column, so a single partitionBy write emits every chunk file
      // (vs one filtered scan per chunk); the partition column lives in
      // the directory name only — the data files carry the original
      // schema the file stream expects
      val staged = base.resolve("staged").toString
      batch
        .withColumn("__chunk",
          ((col(ordCol) - lo) * nChunks / span).cast("int"))
        .repartition(1)
        .write.mode("overwrite").partitionBy("__chunk").parquet(staged)
      val files = (0 until nChunks).flatMap { i =>
        val cdir = Paths.get(staged, s"__chunk=$i")
        if (!Files.isDirectory(cdir)) Seq.empty else listParquet(cdir)
      }
      (files, batch.schema.json): (Seq[Path], String)
    }

  /** Run `build`'s streaming plan over the staged chunks, one chunk per
    * micro-batch in event-time order, then return the memory sink's final
    * table. `extra` frames (sentinels that advance the watermark so
    * event-time timeouts flush terminal state) are appended as further
    * single-file batches. */
  private def runChunked(s: SparkSession, dir: String, key: String,
      batch: DataFrame, ordCol: String, mode: String, nChunks: Int = 2,
      extra: Seq[DataFrame] = Nil, stageKey: String = null)(
      build: DataFrame => DataFrame): DataFrame = {
    val (chunks, schemaJson) = stageChunks(s, dir,
      Option(stageKey).getOrElse(key), batch, ordCol, nChunks)
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val watch = tempDir(s"graft_watch_$key")
    val extraFiles = extra.zipWithIndex.map { case (df, j) =>
      val out = watch.resolve(s"extra$j").toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      listParquet(Paths.get(out)).head
    }
    val in = watch.resolve("in")
    Files.createDirectories(in)
    // one batch per file, in deterministic order: all files are copied
    // UP FRONT with strictly increasing modification times (the file
    // source's ordering key), and maxFilesPerTrigger=1 re-creates the
    // same one-chunk-per-micro-batch boundaries a copy-then-drain loop
    // produced — at ONE processAllAvailable round-trip instead of one
    // per chunk (each drain is a driver-side poll + commit wait; this is
    // pure harness fixed cost, r10 verdict item 5)
    (chunks ++ extraFiles).zipWithIndex.foreach { case (f, i) =>
      val dst = in.resolve(f"batch$i%02d.parquet")
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      ()
    }
    val sink = s"${key}_${System.nanoTime()}"
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    // streaming state partitions: each micro-batch pays a fixed task +
    // state-store open/commit cost PER PARTITION, every batch. The r12
    // experiment bounded the range: 2 partitions tripled the interval
    // join (real per-row state work parallelizes), 8 paid double the
    // fixed cost on the small keys for no measurable speedup; 4 is the
    // measured middle (r13 family sweeps: ~10 % under the 8-partition
    // runs; r17 re-measured 2 vs 4 at parity).
    val streamParts = 4
    val shufKey = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val retainKey = "spark.sql.streaming.minBatchesToRetain"
    // The state store stays Spark's HDFS-backed default. Measured r18
    // (interleaved family A/B): RocksDB pays JNI + native store
    // open/commit per (partition × batch) and lost 1.24× on this bounded
    // replay's tiny batches.
    val prevShuffle = s.conf.get(shufKey)
    val prevNd = s.conf.get(ndKey)
    val prevRetain = s.conf.getOption(retainKey)
    // conf mutations live INSIDE the try whose finally restores them — a
    // failure between the two sets must not leak replay-scoped conf into
    // the rest of the session
    try {
      // replay-scoped shuffle partitions = streamParts (see its note
      // above). The partition count is pinned into the checkpoint at
      // first batch, so this scopes to the replay only (restored after),
      // and a production deployment sizes it to key cardinality the same
      // way. Parsed tolerantly: a non-numeric session value falls back
      // to the floor.
      s.conf.set(shufKey,
        prevShuffle.toIntOption.fold(streamParts)(math.min(streamParts, _)).toString)
      // every data batch here advances the watermark (chunks are
      // event-time-ordered and the sentinels exist precisely to drive
      // timeout processing as data), so the automatic no-data bookkeeping
      // batches after each watermark change are pure per-batch overhead in
      // this bounded replay — scoped off and restored with the shuffle conf
      s.conf.set(ndKey, "false")
      // the bounded replay keeps ≤ a handful of batches, so the minimal
      // retention floor costs nothing and trims per-batch log purges
      s.conf.set(retainKey, "2")
      // Trigger.AvailableNow: the query drains every staged file (still
      // one per micro-batch under maxFilesPerTrigger) and STOPS ITSELF —
      // no processAllAvailable poll loop and no extra empty-batch probe
      // at the end of the replay
      val q = build(stream).writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", watch.resolve("ckpt").toString)
        .start()
      try q.awaitTermination() finally q.stop()
    } finally {
      s.conf.set(shufKey, prevShuffle)
      s.conf.set(ndKey, prevNd)
      prevRetain.fold(s.conf.unset(retainKey))(s.conf.set(retainKey, _))
    }
    // The memory sink holds its rows on the DRIVER heap, and the
    // nanoTime-suffixed sink tables of past runs are otherwise never
    // dropped — a sweep that replays many keys (or one key at a stress
    // scale whose result is millions of rows) accumulates every result
    // until the driver OOMs (this killed the ×100 stress context once).
    // Small results hand back as a LocalRelation: the rows are ALREADY
    // driver-resident (that is what a memory sink is), so this is a
    // reference copy — no parquet write+read round-trip (the r12 spill
    // variant paid 0.3–0.8 s/key for one). ABOVE the threshold the
    // parquet spill returns (r13 ADVICE): a LocalRelation embeds the
    // full result into every downstream plan and the collect() copy
    // briefly doubles the driver-held bytes — exactly the ×100-scale
    // OOM pressure the spill originally fixed. The spill goes to real
    // disk (java.io.tmpdir), never the tmpfs scratch, so a large result
    // doesn't cost RAM twice.
    val localMax = 2000000
    // ONE driver read instead of count-then-collect (r17 optimization —
    // the count was a separate job per replayed key): probe localMax+1
    // rows; coming up short proves the full result fits the
    // LocalRelation path, otherwise fall through to the parquet spill.
    val rows = s.table(sink).limit(localMax + 1).collect()
    val result = if (rows.length <= localMax) {
      val outSchema = s.table(sink).schema
      s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
    } else {
      val spill = tempDir(s"graft_spill_$key",
        Paths.get(System.getProperty("java.io.tmpdir")))
      val out = spill.resolve("result").toString
      s.table(sink).write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }
    s.catalog.dropTempView(sink)
    // the manager's terminated-query bookkeeping pins the stopped query
    // (and through it the sink's rows) until reset
    s.streams.resetTerminated()
    result
  }

  private def eventStream(s: SparkSession, dir: String, key: String,
      mode: String, extra: Seq[DataFrame] = Nil)(
      build: DataFrame => DataFrame): DataFrame =
    runChunked(s, dir, key, normalizedEvents(s, dir), "ms", mode,
      extra = extra, stageKey = "events")(build)

  /** A one-row far-future event that only exists to advance the event-time
    * watermark (user_id −1 is filtered from every registered output). */
  private def sentinel(s: SparkSession, day: String): DataFrame =
    s.sql(s"""SELECT CAST(-1 AS BIGINT) AS event_id,
      CAST(-1 AS BIGINT) AS user_id, '__sentinel__' AS event_type,
      CAST(0.0 AS DOUBLE) AS value, TIMESTAMP'$day 00:00:00' AS ts,
      unix_millis(TIMESTAMP'$day 00:00:00') AS ms""")

  private def asEvents(df: DataFrame) = {
    import df.sparkSession.implicits._
    df.select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[StreamEvent]
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D4: tumbling windows, complete mode — the final window set equals the
    // batch hourly rollup; decimal accumulation makes the sums bitwise.
    "q_stream_tumbling" -> ((s, d) =>
      eventStream(s, d, "q_stream_tumbling", "complete")(
        StreamOps.tumblingCounts(_))
        .select(unix_millis(col("window_start")).as("hour_ms"),
          col("event_type"), col("n"), col("total_value"))),

    // D14: hopping 1h/15m windows — every event's 4 memberships survive the
    // stream/batch boundary.
    "q_stream_hopping" -> ((s, d) =>
      eventStream(s, d, "q_stream_hopping", "complete")(
        StreamOps.hoppingCounts(_))
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n"), col("total_value"))),

    // D28: streaming exact per-window percentiles — per (hour, type) the
    // values fold into a multiset and p50/p95 are exact nearest-rank
    // selections (ceil(q·n), identical double arithmetic in the oracle —
    // the 0.95 literal is CAST to DOUBLE there because DuckDB decimal
    // multiplication would round differently). The registered replay runs
    // the SHARED StreamOps.windowedPercentiles aggregation in complete
    // mode (every window visible at end-of-replay; the watermark is inert
    // there) — the production deployment runs the same operator in
    // watermark + APPEND mode, where state is evicted as windows close
    // and late rows drop; that path is spec-asserted in StreamingSpec
    // ("exact per-window percentiles", D28).
    "q_stream_percentiles" -> ((s, d) =>
      eventStream(s, d, "q_stream_percentiles", "complete")(
        StreamOps.windowedPercentiles(_))),

    // D23: per-(user,type) inter-event gaps emitted as events arrive; the
    // predecessor clock crosses micro-batch boundaries in the state store.
    "q_stream_event_gaps" -> ((s, d) =>
      eventStream(s, d, "q_stream_event_gaps", "append")(df =>
        StreamOps.eventGaps(asEvents(df)).toDF()
          .select(col("user_id"), col("event_type"), col("gap_ms")))),

    // D22: first/last-touch attribution at each purchase moment — state
    // pins the opening touch across batches.
    "q_stream_attribution" -> ((s, d) =>
      eventStream(s, d, "q_stream_attribution", "append")(df =>
        StreamOps.attribution(asEvents(df)).toDF())),

    // D25: prefix z-score anomalies. Registered output is the anomalous
    // rows' exact-typed columns (the z itself is float-folded and would
    // differ from DuckDB's windowed variance in final ulps; membership in
    // |z|>3 is ulp-stable for this corpus). The anomaly filter runs
    // INSIDE the stream (stateless post-filter on the operator's append
    // output — identical to filtering the final table) so the sink holds
    // the handful of anomalies, not every scored event: at stress scale
    // the unfiltered sink was 10M driver-held rows, the proximate OOM of
    // the first ×100 streaming sweep.
    "q_stream_prefix_z" -> ((s, d) =>
      eventStream(s, d, "q_stream_prefix_z", "append")(df =>
        StreamOps.prefixZscore(asEvents(df)).toDF()
          .filter(abs(col("z")) > 3.0)
          .select(col("user_id"), col("event_type"), col("ts_ms"),
            col("value")))),

    // D5: gap sessionization; two far-future sentinels advance the
    // watermark twice so event-time timeouts flush every user's terminal
    // session (timeout state set in batch N fires in batch N+1).
    "q_stream_sessionize" -> ((s, d) =>
      eventStream(s, d, "q_stream_sessionize", "append",
        extra = Seq(sentinel(s, "2030-01-01"), sentinel(s, "2030-01-02")))(
        df => StreamOps.sessionize(asEvents(df), 1800000L).toDF()
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("start_ms"), col("n_events"),
            col("duration_ms")))),

    // C16: streaming exact dedup on the md5 fingerprint — the first
    // arrival of each distinct text passes, duplicates across batches hit
    // the state store.
    "q_stream_dedup" -> ((s, d) =>
      runChunked(s, d, "q_stream_dedup",
        Tables.documents(s, d)
          .select(col("doc_id"), md5(col("text")).as("text_md5")),
        "doc_id", "append")(
        StreamOps.exactDedup(_, Seq("text_md5")))),

    // D8: stream-static enrichment — every micro-batch joins the
    // broadcast customer dim; stateless, the stream never shuffles.
    "q_stream_enrich" -> ((s, d) =>
      eventStream(s, d, "q_stream_enrich", "append")(df =>
        StreamOps.enrichWithDim(
          df.select(col("event_id"), col("user_id")),
          Tables.customer(s, d)
            .select(col("c_custkey").as("user_id"), col("c_name")),
          "user_id"))),

    // D9: stream-stream event-time interval join (view→purchase within
    // 1 h) — a watermarked self-join of the same source; inner matches
    // emit as both sides arrive, the range bounds the buffered state.
    "q_stream_interval_join" -> ((s, d) =>
      eventStream(s, d, "q_stream_interval_join", "append")(df =>
        StreamOps.followWithin(
          asEvents(df).filter(e => e.event_type == "view"),
          asEvents(df).filter(e => e.event_type == "purchase"),
          withinMs = 3600000L)
          .select(col("user_id"), unix_millis(col("lead_ts")).as("lead_ms"),
            unix_millis(col("follow_ts")).as("follow_ms"),
            col("follow_value")))),

    // D19: engine-native session windows (session_window aggregation) —
    // the declarative twin of the custom-state sessionizer; sentinels
    // advance the watermark so append mode finalizes terminal sessions.
    // The sentinel filter stays OUTSIDE the streaming plan: user_id is a
    // grouping key of the session_window aggregation, so an in-stream
    // filter is pushed below the EventTimeWatermark node and drops the
    // negative-user sentinel rows before they advance the clock — the
    // terminal sessions then never flush (34 rows short at sf0.01). The
    // custom-state keys can filter in-stream because their output columns
    // come out of flatMapGroupsWithState, which blocks pushdown; this
    // declarative one cannot. The spilled result is tiny (sessions, not
    // events), so the post-hoc filter costs nothing.
    "q_stream_session_window" -> ((s, d) =>
      eventStream(s, d, "q_stream_session_window", "append",
        extra = Seq(sentinel(s, "2030-01-01"), sentinel(s, "2030-01-02")))(
        df => StreamOps.sessionWindowAgg(df, "30 minutes"))
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"), col("n_events"))),

    // D10: streaming embedding near-dup vs a static corpus — the eval
    // slice (id-hash bucket ≥ 90) streams in and joins against the train
    // corpus (bucket < 90), cosine-verified in-stream; the stateless
    // stream-static join is the incremental-ingest twin of
    // q_embed_decontaminate and scale-routes like the batch family: the
    // gate corpus sits below NeardupRouteMax so the EXACT broadcast route
    // runs (recall 1.0 — the oracle brute-forces eval×train in DuckDB at
    // τ=0.4 and every pair must survive); SRP banding is the above-cutoff
    // route only. Candidate pairs can repeat (per colliding band on the
    // SRP route), so the spilled result dedups (vec_id, corpus_id)
    // batch-side before the contamination count.
    "q_stream_decontaminate" -> ((s, d) => {
      import org.apache.spark.sql.functions.broadcast
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val bucket = graft.operators.Sampling.bucketOf(col("vec_id"), 100)
      val corpus = e.filter(bucket < 90)
      val pairs = runChunked(s, d, "q_stream_decontaminate",
        e.filter(bucket >= 90), "vec_id", "append")(df => {
        import df.sparkSession.implicits._
        StreamOps.embedNearDupAgainstCorpus(
          df.withColumn("ts", timestamp_millis(lit(0L))).as[StreamVec],
          broadcast(corpus))
      })
      pairs.select(col("vec_id"), col("corpus_id")).distinct()
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_contaminated"))
    }),

    // D16: stream-transparent per-row ops — the batch PII scrub transform
    // runs UNCHANGED on a document stream (pure per-row codegen
    // expressions: no state, no shuffle, no watermark), and the replayed
    // output must hash-match the batch key's oracle. This is the claim
    // that per-row cleaning stages need no streaming rewrite at all.
    "q_stream_pii" -> ((s, d) =>
      runChunked(s, d, "q_stream_pii",
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "append", stageKey = "docs_text")(
        graft.operators.TextAnalysis.piiScrubOf)),

    // D26: streaming count-min sketch — cms_agg's counter grid folds
    // across micro-batches via the same partial-merge path batch
    // aggregation uses (counter addition is commutative), so the final
    // STREAMED grid must answer the batch accuracy contract exactly:
    // probe it with the exact top-20 terms (batch side) and assert the
    // CMS bounds the batch q_cms_vocab key asserts. State is the one d×w
    // grid regardless of stream length — the O(d·w) answer to
    // O(vocabulary) streaming term-count state.
    "q_stream_cms" -> ((s, d) => {
      val grid = runChunked(s, d, "q_stream_cms",
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "complete", stageKey = "docs_text")(df =>
        df.select(explode(split(col("text"), " ")).as("term"))
          .groupBy()
          .agg(call_function("cms_agg", col("term"), lit(4), lit(2048))
            .as("sketch")))
      val tok = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
      val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term")).limit(20)
      val total = tok.agg(count(lit(1)).as("n_tok"))
      exact.crossJoin(broadcast(grid)).crossJoin(broadcast(total))
        .select(col("term"), col("n_exact"),
          (call_function("cms_estimate", col("sketch"), col("term"),
            lit(2048)) >= col("n_exact")).as("no_underestimate"),
          (call_function("cms_estimate", col("sketch"), col("term"),
            lit(2048)) <= col("n_exact") +
            ceil(lit(0.005) * col("n_tok")).cast("long")).as("eps_bounded"))
    }),

    // D13: streaming funnel — the per-user signup→view→purchase state
    // machine (flatMapGroupsWithState, event-time timeout eviction) runs
    // over the chunked replay, conversions emitted the moment the
    // purchase arrives, state crossing micro-batch boundaries. The
    // streaming operator's restart semantics (a dead funnel re-enters on
    // a later signup) have no batch twin, so the REGISTERED output is
    // the first-funnel-entry subset — conversions whose signup is the
    // user's FIRST signup event — which the streaming machine processes
    // identically to the batch q_funnel min-chain (greedy first view in
    // window, first purchase after it): the DuckDB oracle replays that
    // chain. Restart conversions stay suite-covered (StreamingSpec D13).
    "q_stream_funnel" -> ((s, d) => {
      val conv = eventStream(s, d, "q_stream_funnel", "append")(df =>
        StreamOps.funnel(asEvents(df), stepMs = 86400000L).toDF())
      val firstSignup = normalizedEvents(s, d)
        .filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ms")).as("first_signup_ms"))
      conv.join(firstSignup,
          conv("user_id") === firstSignup("user_id") &&
            conv("signup_ms") === firstSignup("first_signup_ms"))
        .select(conv("user_id"), col("signup_ms"), col("convert_ms"))
    }),

    // D21: sliding 7-day active users — the 1-day-slide HLL distinct
    // sketch folds across micro-batches through the same partial-merge
    // path batch uses, so the STREAMED per-window estimates must answer
    // the sketch's accuracy contract against the exact batch WAU (the
    // q_stream_cms pattern: the oracle is the exact count plus the bound
    // booleans as literals). rsd=0.02; the bound below is ~5σ + slack —
    // deterministic per corpus, verified at all three SFs.
    "q_stream_wau" -> ((s, d) => {
      val wins = eventStream(s, d, "q_stream_wau", "complete")(df =>
        StreamOps.slidingActiveUsers(df))
        .select(unix_millis(col("window_end")).as("window_end_ms"),
          col("active_users"))
      val exact = {
        val ud = normalizedEvents(s, d)
          .select(col("user_id"), expr("ms div 86400000").as("day"))
          .distinct()
        ud.select(col("user_id"),
            explode(sequence(col("day"), col("day") + lit(6))).as("wday"))
          .distinct()
          .groupBy(col("wday")).agg(count(lit(1)).as("wau"))
      }
      wins
        .select((expr("window_end_ms div 86400000") - 1L).as("wday"),
          col("active_users"))
        .join(exact, "wday")
        .select(col("wday"), col("wau"),
          (abs(col("active_users") - col("wau")) <=
            ceil(col("wau") * lit(0.05)) + lit(5)).as("sketch_ok"))
    }),

    // D7: streaming MinHash-LSH near-dup — arriving docs' 16 band hashes
    // (the same minhash_bands kernel as batch) key a state store of
    // bucket members; collisions emit candidates immediately, across
    // micro-batch boundaries. The replay passes the BATCH hot-bucket cap
    // (Dedup.LshMaxPerBucket) so candidate recall matches the batch
    // operator at gate scale (the production 64-member cap — bounded
    // state under boilerplate floods — stays suite-tested); candidates
    // then exact-verify batch-side at τ=0.5 over the same word-3-shingle
    // sets, reproducing q_minhash_lsh's output — so the oracle is the
    // SAME exact pair graph, and a hash match proves the stream's
    // candidate recall end-to-end (the q_stream_decontaminate pattern).
    "q_stream_minhash" -> ((s, d) => {
      val sh = Tables.documents(s, d).select(col("doc_id"),
        call_function("word_shingles", col("text"), lit(3)).as("sh"))
      val cands = runChunked(s, d, "q_stream_minhash",
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "append", stageKey = "docs_text")(df => {
        import df.sparkSession.implicits._
        StreamOps.nearDupCandidates(
          df.withColumn("ts", timestamp_millis(lit(0L))).as[StreamDoc],
          maxPerBucket = graft.operators.Dedup.LshMaxPerBucket).toDF()
      })
      cands.select(col("earlier_id").as("id_a"), col("later_id").as("id_b"))
        .distinct()
        .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("id_b") === col("sb.doc_id"))
        .withColumn("raw_j",
          size(array_intersect(col("sa.sh"), col("sb.sh"))) * lit(1.0) /
            size(array_union(col("sa.sh"), col("sb.sh"))))
        .filter(col("raw_j") >= 0.5)
        .select(col("id_a"), col("id_b"), col("raw_j").as("jaccard"))
    }),

    // D18: streaming debounce (r14 promotion, the D22/D23 sentinel-free
    // shape) — an event is emitted only when it arrives more than 1 h
    // after the last EMITTED event of its (user, type): the stronger
    // previous-KEPT rule, a greedy chain the batch lag-window cannot
    // express. Kept events emit the moment they arrive (the event-time
    // timeout only evicts state), so no watermark sentinels are needed.
    // The oracle replays the same greedy chain per key as a recursive
    // CTE: first event kept, then per iteration the earliest event
    // > last-kept + window (ms is collision-free per (user, type) at
    // every SF, so the chain is unique).
    "q_stream_debounce" -> ((s, d) =>
      eventStream(s, d, "q_stream_debounce", "append")(df =>
        StreamOps.debounce(asEvents(df), 3600000L).toDF()
          .select(col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ms")))),

    // D27: last-write-wins upsert as a continuously-maintained view; the
    // sink's per-batch winner snapshots collapse to the final winner.
    "q_stream_upsert" -> ((s, d) =>
      eventStream(s, d, "q_stream_upsert", "update")(df => {
        import df.sparkSession.implicits._
        StreamOps.lwwUpsert(
          df.select(col("user_id").as("key"), col("ms").as("version"),
            col("event_type").as("payload")).as[StreamUpdate]).toDF()
      })
        .groupBy(col("key"))
        .agg(max(col("version")).as("version"),
          max_by(col("payload"), col("version")).as("payload")))
  )

  def oracles: Map[String, String] = Map(
    "q_stream_tumbling" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        | count(*) AS n,
        | CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_stream_hopping" ->
      """SELECT ((epoch_ms(ts) // 900000) - i) * 900000 AS window_start_ms,
        | event_type, count(*) AS n,
        | CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |   AS total_value
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS i)
        |GROUP BY 1, 2""".stripMargin,
    "q_stream_percentiles" ->
      """WITH l AS (
        | SELECT event_type, date_trunc('hour', ts) AS h,
        |  list_sort(list(value)) AS vs
        | FROM events GROUP BY 1, 2)
        |SELECT CAST(epoch_ms(h) AS BIGINT) AS start_ms, event_type,
        | CAST(len(vs) AS BIGINT) AS n,
        | vs[GREATEST(1, CAST(ceil(CAST(0.5 AS DOUBLE) * len(vs)) AS INTEGER))] AS p50,
        | vs[GREATEST(1, CAST(ceil(CAST(0.95 AS DOUBLE) * len(vs)) AS INTEGER))] AS p95
        |FROM l""".stripMargin,
    "q_stream_event_gaps" ->
      """SELECT user_id, event_type, gap_ms FROM (
        | SELECT user_id, event_type,
        |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
        |    PARTITION BY user_id, event_type ORDER BY epoch_ms(ts)) AS gap_ms
        | FROM events)
        |WHERE gap_ms IS NOT NULL""".stripMargin,
    "q_stream_attribution" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |w AS (
        | SELECT user_id, event_type, ms,
        |  first_value(event_type) OVER (PARTITION BY user_id ORDER BY ms)
        |    AS first_touch,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_touch
        | FROM e)
        |SELECT user_id, first_touch,
        | COALESCE(prev_touch, 'direct') AS last_touch, ms AS purchase_ms
        |FROM w WHERE event_type = 'purchase'""".stripMargin,
    "q_stream_prefix_z" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_ms(ts) AS ms, value FROM events),
        |w AS (
        | SELECT user_id, event_type, ms, value,
        |  avg(value) OVER pre AS m, var_samp(value) OVER pre AS v,
        |  count(*) OVER pre AS np
        | FROM e WINDOW pre AS (PARTITION BY event_type ORDER BY ms
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_type, ms AS ts_ms, value FROM w
        |WHERE np >= 2 AND v > 0 AND abs((value - m) / sqrt(v)) > 3.0""".stripMargin,
    "q_stream_sessionize" ->
      """WITH e AS (
        | SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |flagged AS (
        | SELECT *, CASE WHEN ms - lag(ms) OVER w > 1800000 OR
        |   lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |sess AS (
        | SELECT user_id, ms, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |   ORDER BY ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS seq
        | FROM flagged)
        |SELECT user_id, min(ms) AS start_ms, count(*) AS n_events,
        | CAST(max(ms) - min(ms) AS BIGINT) AS duration_ms
        |FROM sess GROUP BY user_id, seq""".stripMargin,
    "q_stream_dedup" ->
      "SELECT DISTINCT md5(text) AS text_md5 FROM documents",
    // the batch q_funnel min-chain, per user: first signup, greedy first
    // view within a day, first purchase within a day of that view — the
    // exact rows the streaming machine emits for first funnel entries
    "q_stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |t1 AS (SELECT user_id, min(ms) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(ms) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'view'
        |         AND ms > t1 AND ms <= t1 + 86400000 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(ms) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase'
        |         AND ms > t2 AND ms <= t2 + 86400000 GROUP BY 1)
        |SELECT user_id, t1 AS signup_ms, t3 AS convert_ms
        |FROM t3 JOIN t1 USING (user_id)""".stripMargin,
    // the SAME exact pair graph as q_minhash_lsh: the df-cut word-shingle
    // Jaccard ≥ 0.5 pairs (streamed candidates must recall all of them)
    "q_stream_minhash" ->
      s"""WITH ${graft.operators.Dedup.wordPairCtes}
         |SELECT id_a, id_b,
         | inter * 1.0 / (ca.n + cb.n - inter) AS jaccard
         |FROM p
         |JOIN cnt ca ON id_a = ca.doc_id
         |JOIN cnt cb ON id_b = cb.doc_id
         |WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5""".stripMargin,
    // exact WAU per window-end day + the sketch-accuracy booleans as
    // literals (the q_stream_cms contract shape)
    "q_stream_wau" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |uw AS (
        | SELECT DISTINCT user_id, day + g.i AS wday
        | FROM ud CROSS JOIN (SELECT unnest(range(7)) AS i) g)
        |SELECT wday, count(*) AS wau, true AS sketch_ok
        |FROM uw GROUP BY wday""".stripMargin,
    // brute-force eval×train replay in DuckDB (the q_embed_decontaminate
    // oracle shape): SRP candidate recall at τ=0.4 is part of the
    // contract, not just the verified-pair arithmetic
    "q_stream_decontaminate" ->
      """WITH ev AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  ((vec_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 AS b
        | FROM embeddings),
        |p AS (
        | SELECT e.vec_id, round(list_cosine_similarity(e.v, c.v), 6) AS sim
        | FROM ev e JOIN ev c ON e.b >= 90 AND c.b < 90)
        |SELECT vec_id, count(*) AS n_contaminated
        |FROM p WHERE sim >= 0.4 GROUP BY vec_id""".stripMargin,
    // identical to the batch q_pii_scrub oracle — the stream must
    // reproduce the batch scrub byte for byte
    "q_stream_pii" ->
      """WITH inj AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' contact user' || doc_id || '@example.com now'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\.[a-z]+'))
        |    AS INTEGER) AS n_pii,
        |  regexp_replace(text, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g')
        |    AS clean_text
        |FROM inj""".stripMargin,
    // same contract as the batch q_cms_vocab oracle: the bound booleans
    // must come out TRUE from the STREAMED grid
    "q_stream_cms" ->
      """WITH tok AS (
        | SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |exact AS (
        | SELECT term, count(*) AS n_exact FROM tok GROUP BY term
        | ORDER BY n_exact DESC, term LIMIT 20)
        |SELECT term, n_exact, true AS no_underestimate, true AS eps_bounded
        |FROM exact""".stripMargin,
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_name
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
    "q_stream_interval_join" ->
      """WITH v AS (
        | SELECT user_id, epoch_ms(ts) AS lead_ms FROM events
        | WHERE event_type = 'view'),
        |p AS (
        | SELECT user_id AS pu, epoch_ms(ts) AS follow_ms, value
        | FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, lead_ms, follow_ms, value AS follow_value
        |FROM v JOIN p ON v.user_id = pu
        | AND follow_ms >= lead_ms AND follow_ms <= lead_ms + 3600000""".stripMargin,
    "q_stream_session_window" ->
      """WITH e AS (
        | SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |flagged AS (
        | SELECT *, CASE WHEN ms - lag(ms) OVER w > 1800000 OR
        |   lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |sess AS (
        | SELECT user_id, ms, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |   ORDER BY ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS seq
        | FROM flagged)
        |SELECT user_id, min(ms) AS start_ms,
        | max(ms) + 1800000 AS end_ms, count(*) AS n_events
        |FROM sess GROUP BY user_id, seq""".stripMargin,
    // the greedy previous-KEPT chain per (user, type): base = first
    // event per key; step = earliest event strictly more than the
    // window after the last kept one (aggregation in the recursive term
    // is DuckDB-supported; each iteration advances every live chain by
    // exactly one kept event)
    "q_stream_debounce" ->
      """WITH RECURSIVE e AS (
        | SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |kept AS (
        | SELECT user_id, event_type, min(ms) AS ms FROM e GROUP BY 1, 2
        | UNION ALL
        | SELECT e.user_id, e.event_type, min(e.ms) AS ms
        | FROM e JOIN kept k ON e.user_id = k.user_id
        |  AND e.event_type = k.event_type AND e.ms > k.ms + 3600000
        | GROUP BY 1, 2)
        |SELECT user_id, event_type, ms FROM kept""".stripMargin,
    "q_stream_upsert" ->
      """SELECT key, version, payload FROM (
        | SELECT user_id AS key, epoch_ms(ts) AS version,
        |  event_type AS payload,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts) DESC) AS rn
        | FROM events)
        |WHERE rn = 1""".stripMargin
  )
}
