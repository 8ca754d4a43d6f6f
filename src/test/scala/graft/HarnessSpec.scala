package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The shared measurement core: the timed-key loop and Bench's rendered
  * lines. Runs on the suite's shared session, which it never stops. */
class HarnessSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()
  private def fields(line: String): Seq[String] =
    mapper.readTree(line).fieldNames().asScala.toSeq

  test("the timed-key loop reports the min of each key's per-rep times") {
    val keys = Seq("q_pricing_summary", "q_knn_cosine")
    val results = Harness.timeKeys(spark, sfDir, Harness.resolve(keys), reps = 2)
    assert(results.map(_.key) == keys)
    results.foreach { r =>
      val t = r.timing.fold(c => fail(s"${r.key} failed: $c"), identity)
      assert(t.secs.size == 2)
      assert(r.value == t.secs.min)
      assert(t.rows > 0)
    }
  }

  test("a key that fails every rep yields -1 and keeps its cause") {
    val boom: Harness.Query = (_, _) => throw new IllegalStateException("boom")
    val Seq(r) = Harness.timeKeys(spark, sfDir, Seq("q_boom" -> boom), reps = 2)
    assert(r.value == -1.0)
    assert(r.timing == Left("IllegalStateException: boom"))
    assert(Harness.errors(Seq(r)) == """{"q_boom":"IllegalStateException: boom"}""")
  }

  test("Bench's stdout lines keep the driver's key order and the summary comes last") {
    val ok = Harness.Keyed("q_a", 1L, Right(Harness.Timed(Seq(0.5, 0.25), 3L)))
    val bad = Harness.Keyed("q_b", 2L, Left("IllegalStateException: boom"))
    val (stdout, fileLine) = Bench.render(Seq(ok, bad), "/sf", "4", "BENCH_OUT_c4.json")
    val Seq(line, summary) = stdout
    assert(fields(line) == Seq("metric", "value", "unit", "queries", "sf"))
    assert(mapper.readTree(line).get("queries").get("q_a").asDouble == 0.25)
    assert(mapper.readTree(line).get("queries").get("q_b").asDouble == -1.0)
    assert(fields(summary) == Seq("metric", "value", "unit", "sf", "n_queries",
      "failed", "slowest", "queries_full"))
    assert(mapper.readTree(summary).get("queries_full").asText == "BENCH_OUT_c4.json")
    // the stdout lines as they were before the file dump gained cold_total
    assert(line == """{"metric":"total","value":0.25,"unit":"sec",""" +
      """"queries":{"q_a":0.25,"q_b":-1.0},"sf":"/sf"}""")
    assert(summary == """{"metric":"total","value":0.25,"unit":"sec","sf":"/sf",""" +
      """"n_queries":2,"failed":["q_b"],"slowest":{"q_a":0.250},""" +
      """"queries_full":"BENCH_OUT_c4.json"}""")
    assert(fields(fileLine) == Seq("metric", "value", "unit", "queries",
      "started_ms", "reps", "cold_total", "cpus", "sf", "errors"))
    assert(mapper.readTree(fileLine).get("errors").get("q_b").asText ==
      "IllegalStateException: boom")
    assert(mapper.readTree(fileLine).get("cold_total").asDouble == 0.5)
  }

  test("Bench's cold_total sums each key's first rep and leaves out keys whose first rep failed") {
    val a = Harness.Keyed("q_a", 1L, Right(Harness.Timed(Seq(2.0, 0.5), 3L)))
    val b = Harness.Keyed("q_b", 2L, Right(Harness.Timed(Seq(0.25), 3L, firstFailed = true)))
    val c = Harness.Keyed("q_c", 3L, Left("IllegalStateException: boom"))
    val d = Harness.Keyed("q_d", 4L, Right(Harness.Timed(Seq(1.0, 0.75), 3L)))
    val (_, fileLine) = Bench.render(Seq(a, b, c, d), "/sf", "4", "BENCH_OUT_c4.json")
    assert(mapper.readTree(fileLine).get("cold_total").asDouble == 3.0)
    assert(mapper.readTree(fileLine).get("value").asDouble == 1.5)
    // a first rep that throws is not a cold time: the key's cold is None
    var n = 0
    val flaky: Harness.Query = (s, _) => { n += 1; if (n == 1) sys.error("cold boom") else s.range(1).toDF() }
    val Right(t) = Harness.timeKey(spark, sfDir, flaky, reps = 2)
    assert(t.firstFailed && t.cold.isEmpty && t.secs.size == 1)
  }
}
