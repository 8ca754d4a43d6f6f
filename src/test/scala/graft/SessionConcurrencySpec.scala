package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import graft.sql.EmdriveSession

/** One EmdriveSession shared by several threads, with no lock of the
  * callers' own: a statement's names (its CTEs, the views it is resolving)
  * are its own, so concurrent statements never see each other's, and
  * writes to one table serialize without losing an update. */
class SessionConcurrencySpec extends SparkTestBase {

  private def inParallel[T](bodies: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(bodies.size)
    try bodies.map(b => pool.submit(new Callable[T] { def call(): T = b() }))
      .map(_.get(300, TimeUnit.SECONDS))
    finally pool.shutdownNow(): Unit
  }

  test("four threads share one session: every read equals its single-threaded answer") {
    GraftSession.prepare(spark)
    val es = new EmdriveSession(spark)
    es.sql("CREATE TABLE base (k UINT32 PRIMARY KEY, v UINT32);")
    es.sql("INSERT INTO base VALUES (1, 10), (2, 20), (3, 30);")
    es.sql("CREATE VIEW vb AS SELECT k, v FROM base;")
    (0 until 4).foreach(i => es.sql(s"CREATE TABLE own$i (r UINT32 PRIMARY KEY);"))
    val reads = Seq(
      "WITH base AS (SELECT k, v FROM base WHERE k = 1) SELECT k, v FROM base;",
      "SELECT k, v FROM vb ORDER BY k;",
      "SELECT table_name, n_columns FROM system.tables ORDER BY table_name;")
    def answer(q: String): Seq[String] = es.sql(q).collect().map(_.toString).toSeq
    val expected = reads.map(q => q -> answer(q)).toMap
    val mismatches = inParallel((0 until 4).map { i => () =>
      (1 to 25).flatMap { round =>
        val bad = reads.map(q => q -> answer(q)).filter { case (q, got) => got != expected(q) }
        es.sql(s"INSERT INTO own$i VALUES ($round);")
        bad
      }
    }).flatten
    assert(mismatches.isEmpty, mismatches.take(5).mkString("\n"))
    (0 until 4).foreach(i => assert(es.sql(s"SELECT r FROM own$i;").count() == 25))
  }

  test("two concurrent UPDATE loops on one durable table lose no update") {
    GraftSession.prepare(spark)
    withTempDir("graft-updates-") { dir =>
      val es = new EmdriveSession(spark, Some(dir))
      es.sql("CREATE TABLE cnt (k UINT32 PRIMARY KEY, v UINT32);")
      es.sql("INSERT INTO cnt VALUES (1, 0);")
      inParallel(Seq(1, 100).map { d => () =>
        (1 to 10).foreach(_ => es.sql(s"UPDATE cnt SET v = v + $d WHERE k = 1;"))
      })
      val v = es.sql("SELECT v FROM cnt;").collect().map(_.getAs[Number](0).longValue)
      assert(v.toSeq == Seq(1010L))
    }
  }
}
