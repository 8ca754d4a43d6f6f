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
    assert(fields(fileLine) == Seq("metric", "value", "unit", "queries",
      "started_ms", "reps", "cpus", "sf", "errors"))
    assert(mapper.readTree(fileLine).get("errors").get("q_b").asText ==
      "IllegalStateException: boom")
  }
}
