package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The session artifact registry ([[SessionMemo]]): one key per (session,
  * artifact), one snapshot rule, supersession on a newer snapshot, and
  * the release of what a superseded or evicted entry holds. */
class RegistrySpec extends SparkTestBase {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  private def layoutDirs(prefix: String): Set[String] = {
    val st = Files.list(tmp)
    try st.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSet
    finally st.close()
  }

  /** Copy the ten corpus tables of `from` into `to`. */
  private def copyCorpus(from: String, to: String): Unit =
    graft.sources.Tables.all.foreach { t =>
      Files.copy(Paths.get(from, s"$t.parquet"), Paths.get(to, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

  test("prepare on an extension-built session installs each optimizer rule once") {
    GraftSession.prepare(spark)
    GraftSession.prepare(spark)
    val batches = spark.sessionState.optimizer.batches
      .filter(_.rules.contains(graft.plans.MetricPrefixPruning)).map(_.name)
    // the extension's two operator-optimization batches, and no third
    assert(batches.size == 2, batches.mkString(", "))
  }

  test("two sessions from newSession() do not share entries") {
    val other = spark.newSession()
    val name = s"isolation_${System.nanoTime()}"
    var builds = 0
    def build() = { builds += 1; new Object }
    val a = SessionMemo.of(spark, sfDir, name)(build())
    val b = SessionMemo.of(other, sfDir, name)(build())
    assert(builds == 2)
    assert(!(a eq b))
    assert(SessionMemo.of(spark, sfDir, name)(build()) eq a)
    assert(SessionMemo.of(other, sfDir, name)(build()) eq b)
    assert(builds == 2)
  }

  test("after evictAll a repeated metric_search writes its layout again") {
    GraftSession.prepare(spark)
    val s2 = spark
    import s2.implicits._
    val es = new graft.sql.EmdriveSession(spark)
    es.register("evict_hashes",
      Seq.tabulate(200)(i => (i.toLong, i * 0x9E3779B97F4A7C15L)).toDF("doc_id", "h"))
    val stmt = "SELECT doc_id, dist FROM metric_search(evict_hashes, doc_id, h, 0, 8);"
    val before = layoutDirs("graft_metric_idx")
    val first = es.sql(stmt).collect().map(_.toString).sorted.toSeq
    val built = layoutDirs("graft_metric_idx") -- before
    assert(built.size == 1, built)
    val (warm, warmJobs) = jobsDuring(es.sql(stmt).collect().map(_.toString).sorted.toSeq)
    assert(warm == first)

    SessionMemo.evictAll()
    // the registry owns the layout directory: eviction deletes it
    assert((layoutDirs("graft_metric_idx") intersect built).isEmpty)
    val (again, jobs) = jobsDuring(es.sql(stmt).collect().map(_.toString).sorted.toSeq)
    assert(again == first)
    // the layout is written again (a new directory, plus its write and
    // read-back jobs on top of the warm statement's)
    assert((layoutDirs("graft_metric_idx") -- before).size == 1)
    assert(jobs.size > warmJobs.size,
      s"${jobs.size} jobs after evictAll vs ${warmJobs.size} warm:\n${jobs.mkString("\n")}")
  }

  test("an in-place corpus rewrite is served fresh by postings, persisted and layout keys") {
    GraftSession.prepare(spark)
    val keys = Seq("q_dedup_jaccard", "q_tfidf", "q_metric_index")
    def run(dir: String): Map[String, Seq[String]] = keys.map { k =>
      k -> SparkEntry.queries(k)(spark, dir).collect().map(_.toString).sorted.toSeq
    }.toMap
    withTempDir("graft-rewrite") { live =>
      withTempDir("graft-rewrite-fresh") { fresh =>
        copyCorpus(sfDir, live)
        val old = run(live)
        // the new corpus: every document, plus verbatim copies of the
        // first ten under new ids (new near-dup pairs, new term counts,
        // new metric-search hits around probe doc 0)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val grown = docs.unionByName(
          docs.filter(col("doc_id") < 10).withColumn("doc_id", col("doc_id") + 1000000L))
        val staged = s"$fresh/staged"
        grown.coalesce(1).write.parquet(staged)
        val part = Files.list(Paths.get(staged)).iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        copyCorpus(sfDir, fresh)
        Files.copy(part, Paths.get(fresh, "documents.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val want = run(fresh)
        keys.foreach(k => assert(want(k) != old(k), s"$k: the rewrite changes nothing"))

        // rewrite the live corpus in place: same path, new bytes
        Files.copy(part, Paths.get(live, "documents.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val got = run(live)
        val stale = keys.filter(k => got(k) != want(k))
        assert(stale.isEmpty, s"served rows of the old corpus: ${stale.mkString(", ")}")
      }
    }
  }

  test("a durable INSERT loop over a METRIC KEY table keeps at most two layouts") {
    GraftSession.prepare(spark)
    withTempDir("graft-layout-loop") { dir =>
      val es = new graft.sql.EmdriveSession(spark, Some(dir))
      es.sql("CREATE TABLE loop_t (id UINT32 PRIMARY KEY, h UINT64 METRIC KEY);")
      val before = layoutDirs("graft_metric_idx")
      (1 to 8).foreach { i =>
        es.sql(s"INSERT INTO loop_t (id, h) VALUES ($i, ${i * 7919L});")
        val hits = es.sql(
          "SELECT id, dist FROM metric_search(loop_t, id, h, 1, 64);").collect()
        assert(hits.length == i)
      }
      val left = layoutDirs("graft_metric_idx") -- before
      assert(left.size <= 2, s"${left.size} layouts left: $left")
    }
  }

  test("a metric_search planned before a superseding INSERT still collects") {
    GraftSession.prepare(spark)
    withTempDir("graft-layout-planned") { dir =>
      val es = new graft.sql.EmdriveSession(spark, Some(dir))
      es.sql("CREATE TABLE plan_t (id UINT32 PRIMARY KEY, h UINT64 METRIC KEY);")
      es.sql("INSERT INTO plan_t (id, h) VALUES (1, 11), (2, 12), (3, 13);")
      val stmt = "SELECT id, dist FROM metric_search(plan_t, id, h, 1, 64);"
      val planned = es.sql(stmt)
      es.sql("INSERT INTO plan_t (id, h) VALUES (4, 14);")
      // the next search supersedes the layout `planned` reads
      assert(es.sql(stmt).collect().length == 4)
      assert(planned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    }
  }
}
