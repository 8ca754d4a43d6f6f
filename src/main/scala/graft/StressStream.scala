package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.EventTime
import graft.sources.Tables
import graft.streaming.{StreamDoc, StreamEvent, StreamOps}

/** Streaming scale-stress harness: the D-section operators measured at
  * event volume, not just spec-asserted at toy batch sizes.
  *
  * Two stateful operators carry the load argument for the whole streaming
  * surface, one per state regime:
  *  - D7 streaming MinHash near-dup — state keyed by LSH bucket, NoTimeout
  *    (grows with distinct buckets, bounded by bands × docs and the
  *    per-bucket cap);
  *  - D13 streaming funnel — state keyed by user, event-time timeout
  *    (bounded by users inside an open step window; the watermark is the
  *    eviction mechanism under test).
  *
  * Method mirrors graft.Stress: the sf0.1 corpus is fed through a
  * MemoryStream in a fixed number of micro-batches at ×1, then at ×N
  * volume (documents per-copy token-renamed so near-dup density stays
  * constant; event copies are user-shifted tenants at the original
  * timestamps, fed in global event-time order as a real replay would be).
  * Reported per scale: wall, rows/s, sink rows, and the state-store size
  * (last and max `numRowsTotal` across progress reports). The harness
  * HARD-ASSERTS the state bounds — a leak (eviction regression, unbounded
  * bucket growth) fails the run, not just a number in a report.
  *
  * This is a harness mode, not library code: it materializes the feed
  * corpus on the driver because it IS the stream generator (MemoryStream
  * is driver-fed by construction) — the measured operators never collect.
  */
object StressStream {

  private case class RunStats(rows: Long, sec: Double, outRows: Long,
      stateLast: Long, stateMax: Long) {
    def rowsPerSec: Double = rows / math.max(sec, 1e-9)
    def json: String =
      f"""{"rows":$rows,"sec":$sec%.2f,"rows_per_sec":${rowsPerSec.round},""" +
        s""""out_rows":$outRows,"state_rows":$stateLast,"state_rows_max":$stateMax}"""
  }

  /** Run on a session with `spark.sql.streaming.metricsEnabled` (see
    * [[Harness.main]]). */
  def run(spark: SparkSession): Unit = {
    val n = sys.env.get("SPARK_GRAFT_STRESS_N").flatMap(_.toIntOption).getOrElse(10)
    val src = Harness.sfDir("/root/testdata/sf0.1")
    val chunks = 20 // same micro-batch COUNT at both scales: per-batch
                    // overhead constant, batch SIZE carries the ×N
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ---- feeds (driver-side by MemoryStream construction) ----
    val docs: Array[(Long, String)] = Tables.documents(spark, src)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val events: Array[(Long, Long, String, Double)] = EventTime.withMs(Tables.events(spark, src))
      .select(col("user_id"), col("ms"), col("event_type"), col("value"))
      .orderBy(col("ms"), col("user_id"))
      .as[(Long, Long, String, Double)].collect()
    val nUsers = events.map(_._1).distinct.length

    var runId = 0
    def measure[T](feed: Iterator[Seq[T]], total: Long,
        start: (MemoryStream[T], String) => org.apache.spark.sql.streaming.StreamingQuery)(
        implicit enc: org.apache.spark.sql.Encoder[T]): RunStats = {
      runId += 1
      val name = s"stress_stream_$runId"
      val input = MemoryStream[T]
      val q = start(input, name)
      try {
        val t0 = System.nanoTime()
        feed.foreach { batch =>
          input.addData(batch)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val states = q.recentProgress.toSeq
          .map(_.stateOperators.map(_.numRowsTotal).sum).filter(_ > 0)
        RunStats(total, sec, spark.table(name).count(),
          states.lastOption.getOrElse(0L),
          if (states.isEmpty) 0L else states.max)
      } finally q.stop()
    }

    /** D7 feed: `copies` token-renamed copies of the corpus (constant
      * near-dup density — the Stress.rename doctrine), chunked. */
    def docFeed(copies: Int): (Iterator[Seq[StreamDoc]], Long) = {
      val all = (0 until copies).iterator.flatMap { c =>
        docs.iterator.map { case (id, t) =>
          StreamDoc(id + c * Stress.CopyOffset, new Timestamp(0L),
            if (c == 0) t else t.split(' ').map(w => s"${w}_$c").mkString(" "))
        }
      }
      val total = docs.length.toLong * copies
      (all.grouped(math.max(1, (total / chunks).toInt)), total)
    }

    /** D13 feed: each event fans out to `copies` user-shifted tenants at
      * its original timestamp; global event-time order is preserved so the
      * watermark advances monotonically, exactly like a replay. */
    def eventFeed(copies: Int): (Iterator[Seq[StreamEvent]], Long) = {
      val all = events.iterator.flatMap { case (u, ms, et, v) =>
        (0 until copies).iterator.map(c =>
          StreamEvent(u + c * Stress.CopyOffset, new Timestamp(ms), et, v))
      }
      val total = events.length.toLong * copies
      (all.grouped(math.max(1, (total / chunks).toInt)), total)
    }

    def runNearDup(copies: Int): RunStats = {
      val (feed, total) = docFeed(copies)
      measure(feed, total, (in: MemoryStream[StreamDoc], name: String) =>
        StreamOps.nearDupCandidates(in.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append).start())
    }

    def runFunnel(copies: Int): RunStats = {
      val (feed, total) = eventFeed(copies)
      measure(feed, total, (in: MemoryStream[StreamEvent], name: String) =>
        // 1-day step window — the batch q_funnel's stepMs, so conversion
        // counts are comparable across the batch/streaming twins
        StreamOps.funnel(in.toDS(), stepMs = 86400000L)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append).start())
    }

    // warmup (codegen/state-store init), then measured ×1 and ×N
    runNearDup(1); runFunnel(1)
    val nd1 = runNearDup(1)
    val ndN = runNearDup(n)
    val fn1 = runFunnel(1)
    val fnN = runFunnel(n)

    // ---- hard state bounds ----
    // near-dup state rows are (band, bucket) keys: ≤ bands × docs ever seen
    val ndBound = 16L * docs.length * n
    require(ndN.stateMax <= ndBound,
      s"near-dup state ${ndN.stateMax} exceeds bands×docs bound $ndBound")
    // funnel keeps ≤1 record per user inside an open step window: ≤ users
    val fnBound = nUsers.toLong * n
    require(fnN.stateMax <= fnBound,
      s"funnel state ${fnN.stateMax} exceeds user bound $fnBound")

    Harness.emit(
      s"""{"metric":"stress_stream","n":$n,"src":"$src","chunks":$chunks,""" +
        s""""d7_neardup":{"x1":${nd1.json},"x$n":${ndN.json},""" +
        f""""throughput_ratio":${ndN.rowsPerSec / nd1.rowsPerSec}%.2f,""" +
        s""""state_bound":$ndBound,"state_ok":true},""" +
        s""""d13_funnel":{"x1":${fn1.json},"x$n":${fnN.json},""" +
        f""""throughput_ratio":${fnN.rowsPerSec / fn1.rowsPerSec}%.2f,""" +
        s""""state_bound":$fnBound,"state_ok":true}}""",
      "SPARK_GRAFT_STRESS_OUT", "STRESS_STREAM_OUT.json")
  }
}
