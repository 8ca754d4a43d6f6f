package graft

import org.apache.spark.sql.functions._

import graft.sources.{PairStore, Tables}

/** The persisted pair-graph artifact (r9): write-once per corpus version,
  * read-everywhere — the IvfStore pattern applied to the similarity graph
  * that 14 embedding-family consumers share. */
class PairStoreSpec extends SparkTestBase {

  test("readOrBuild writes once, then serves reads; content identical to build") {
    GraftSession.prepare(spark)
    withTempDir("pairstore") { root =>
      val old = PairStore.root
      try {
        PairStore.root = root
        var builds = 0
        def build() = {
          builds += 1
          Tables.embeddings(spark, sfDir).limit(50)
            .select(col("vec_id").as("id_a"), (col("vec_id") + 1).as("id_b"),
              lit(0.5).as("sim"))
        }
        val first = PairStore.readOrBuild(spark, sfDir, "t", "embeddings")(build())
          .collect().map(_.toString).sorted
        val second = PairStore.readOrBuild(spark, sfDir, "t", "embeddings")(build())
          .collect().map(_.toString).sorted
        assert(builds == 1, s"second call must read the artifact, not rebuild ($builds)")
        assert(first.toSeq == second.toSeq, "artifact read ≠ build output")
        // the second call plans a parquet scan of the artifact, not the build
        val plan = PairStore.readOrBuild(spark, sfDir, "t", "embeddings")(build())
          .queryExecution.executedPlan.toString
        assert(plan.contains("parquet") || plan.contains("Parquet"), plan)
      } finally PairStore.root = old
    }
  }

  test("fingerprint is stable per corpus and distinct across corpora") {
    val a1 = SessionMemo.fingerprint(spark, Seq(s"$sfDir/embeddings.parquet"))
    val a2 = SessionMemo.fingerprint(spark, Seq(s"$sfDir/embeddings.parquet"))
    val b = SessionMemo.fingerprint(spark, Seq("/root/testdata/sf0.01/embeddings.parquet"))
    assert(a1 == a2, "same corpus must fingerprint identically")
    assert(a1 != b, "different corpora must not share an artifact")
    // a missing table gets a sentinel fingerprint, not an exception
    assert(SessionMemo.fingerprint(spark, Seq("/nonexistent/embeddings.parquet")).nonEmpty)
  }

  test("in-place rewrite of a NESTED data file re-keys the artifact " +
      "(recursive fingerprint)") {
    import java.nio.file.{Files, Paths}
    withTempDir("pairstore-fp") { tmp =>
      val base = java.nio.file.Paths.get(tmp)
      // nested layout: emb.parquet/sub/part-0 — a top-level listStatus sees
      // only the `sub` directory entry, whose (name, len, mtime) does NOT
      // change when the file inside is rewritten in place (only
      // create/delete touches a parent dir); the recursive walk folds the
      // inner file itself
      val inner = base.resolve("emb.parquet/sub")
      Files.createDirectories(inner)
      Files.write(inner.resolve("part-0.parquet"), "generation-one".getBytes)
      val fp1 = SessionMemo.fingerprint(spark, Seq(s"$base/emb.parquet"))
      Thread.sleep(5) // off the mtime granularity edge
      Files.write(inner.resolve("part-0.parquet"), "generation-TWO".getBytes)
      val fp2 = SessionMemo.fingerprint(spark, Seq(s"$base/emb.parquet"))
      assert(fp1 != fp2,
        "in-place nested rewrite aliased the old artifact fingerprint")
      // and the artifact path also carries the build tag, so a pair-build
      // semantics change re-keys even an unchanged corpus
      assert(PairStore.BuildTag.nonEmpty)
    }
  }

  test("q_embed_neardup through the persisted artifact matches a fresh build") {
    GraftSession.prepare(spark)
    withTempDir("pairstore2") { root =>
      val old = PairStore.root
      try {
        PairStore.root = root
        SessionMemo.evictAll()
        val viaStore = graft.operators.Similarity.queries("q_embed_neardup")(spark, sfDir)
          .collect().map(_.toString).sorted
        // second session-shaped pass: artifact already on disk, memo evicted
        SessionMemo.evictAll()
        val viaRead = graft.operators.Similarity.queries("q_embed_neardup")(spark, sfDir)
          .collect().map(_.toString).sorted
        PairStore.root = "off" // disabled → raw in-session build
        SessionMemo.evictAll()
        val viaBuild = graft.operators.Similarity.queries("q_embed_neardup")(spark, sfDir)
          .collect().map(_.toString).sorted
        assert(viaStore.toSeq == viaBuild.toSeq, "artifact path diverged from raw build")
        assert(viaRead.toSeq == viaBuild.toSeq, "re-read artifact diverged from raw build")
      } finally {
        PairStore.root = old
        SessionMemo.evictAll()
      }
    }
  }
}
