package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Data-exercised guards for every candidate-volume knob.
  *
  * The df cuts (WordMaxDf / NgramMaxDf / WindowMaxDf) and the LSH bucket
  * cap are what keep near-dup candidate volume linear at 100 TB, but the
  * driver corpora never cross them — on test data they are "exercised
  * structurally but change nothing". Each test here synthesizes a corpus
  * that CROSSES one threshold and asserts (a) candidates are actually
  * pruned and (b) the surviving results match the cut-mirrored semantics
  * (post-cut set sizes in Jaccard denominators, bucket-capped recall),
  * so silently dropping a cut — or breaking its semantics — fails a spec
  * instead of surfacing as an OOM at scale.
  */
class CutRecallSpec extends SparkTestBase {
  import org.apache.spark.sql.SparkSession

  override def spark: SparkSession = SparkTestBase.spark

  /** Write a synthetic corpus with the driver documents schema into a temp
    * dir laid out like a testdata SF dir, so production queries run on it
    * unmodified via SparkEntry.queries(name)(spark, dir); the dir is
    * deleted once `body` returns. */
  private def withDocs[T](rows: Seq[(Long, String)])(body: String => T): T =
    withTempDir("graft_cut") { dir =>
      val s = spark
      import s.implicits._
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("synth"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      body(dir)
    }

  test("WordMaxDf: boilerplate shingle over the cut is pruned; survivors use post-cut denominators") {
    GraftSession.prepare(spark)
    // 1050 docs share the boilerplate shingles "shared boilerplate phrase" /
    // "boilerplate phrase here" (df = 1052 > WordMaxDf = 1000 → cut); the
    // rest of each doc is unique. Two genuine near-dup pairs: one clean
    // (2000/2001) and one that ALSO carries the boilerplate (3000/3001), so
    // its Jaccard changes under the cut: uncut 5/7 ≈ 0.714, post-cut
    // sets {phrase here pq, here pq pr, pq pr ps, pr ps pt|pu} give
    // inter 3 / union 5 = 0.6 — asserting 0.6 proves the denominator is
    // the post-cut set size, exactly the semantics the DuckDB oracle mirrors.
    val boiler = (0L until 1050L).map(i =>
      i -> s"shared boilerplate phrase here u${i}a u${i}b u${i}c")
    val docs = boiler ++ Seq(
      2000L -> "alpha beta gamma delta epsilon zeta",
      2001L -> "alpha beta gamma delta epsilon eta",
      3000L -> "shared boilerplate phrase here pq pr ps pt",
      3001L -> "shared boilerplate phrase here pq pr ps pu")
    withDocs(docs) { dir =>
      val got = SparkEntry.queries("q_dedup_jaccard")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == Set((2000L, 2001L), (3000L, 3001L)), s"pairs: ${got.keySet}")
      assert(math.abs(got((2000L, 2001L)) - 0.6) < 1e-12)
      assert(math.abs(got((3000L, 3001L)) - 0.6) < 1e-12, // NOT 5/7: cut semantics
        s"post-cut jaccard ${got((3000L, 3001L))}")

      // Candidate pruning is real, not cosmetic: at threshold 0 the cut
      // leaves exactly the 2 genuine pairs, while uncut the two boilerplate
      // shingles connect all 1052 carriers pairwise (1052·1051/2 pairs) plus
      // the clean pair.
      val shingled = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), call_function("word_shingles", col("text"), lit(3)).as("sh"))
      assert(Dedup.jaccardPairs(shingled, 0.0).count() == 2L)
      assert(Dedup.jaccardPairs(shingled, 0.0, maxDf = Int.MaxValue).count() ==
        1052L * 1051L / 2 + 1)
    }
  }

  /** In-test oracle: char-n-gram Jaccard over df-pruned gram sets — an
    * independent plain-Scala restatement of the operator's defined
    * semantics (same shape the DuckDB oracle uses at driver time). */
  private def ngramCutOracle(docs: Seq[(Long, String)], n: Int, maxDf: Int,
      thr: Double): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, t) =>
      id -> (if (t.length < n) Set.empty[String]
             else (0 to t.length - n).map(i => t.substring(i, i + n)).toSet)
    }
    val df = sets.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
    val pruned = sets.map { case (id, sh) => id -> sh.filter(df(_) <= maxDf) }
    (for {
      ((a, sa), i) <- pruned.zipWithIndex; (b, sb) <- pruned.drop(i + 1)
      inter = (sa & sb).size if inter > 0
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= thr
    } yield (a, b) -> j).toMap
  }

  test("NgramMaxDf: char-5-gram cut crossed by data; result equals the cut-mirrored oracle") {
    GraftSession.prepare(spark)
    val prefix = "the quick brown fox jumps over the lazy dog again and again "
    val boiler = (0L until 120L).map(i => i -> f"$prefix%sx$i%03d")
    val docs = boiler ++ Seq(
      7000L -> (prefix + "zzzz aaaa bbbb cccc"),
      7001L -> (prefix + "zzzz aaaa bbbb dddd"))
    withDocs(docs) { dir =>
      val expected = ngramCutOracle(docs, n = 5, maxDf = 100, thr = 0.5)
      val expectedUncut = ngramCutOracle(docs, n = 5, maxDf = Int.MaxValue, thr = 0.5)
      // the synthetic boilerplate really crosses the threshold and really
      // changes outcomes — otherwise this test would prove nothing
      assert(expected != expectedUncut)
      val got = SparkEntry.queries("q_dedup_ngram")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == expected.keySet,
        s"spark=${got.keySet.size} oracle=${expected.keySet.size} " +
          s"diff=${expected.keySet.diff(got.keySet).take(5)}")
      got.foreach { case (k, j) => assert(math.abs(j - expected(k)) < 1e-12, s"$k: $j") }
    }
  }

  test("WindowMaxDf: boilerplate 15-token window over the cut yields no pairs; unique runs do") {
    GraftSession.prepare(spark)
    // 110 docs embed the same 15-token paragraph (window df = 110 > 100 →
    // cut); every other window in them contains a per-doc unique token.
    // Docs 5000/5001 share a unique 16-token run → exactly 2 shared
    // 15-token windows below the cut.
    val para = (1 to 15).map(k => s"b$k").mkString(" ")
    val run = (1 to 16).map(k => s"r$k").mkString(" ")
    val docs = (0L until 110L).map(i => i -> s"u$i $para v$i") ++ Seq(
      5000L -> s"p5000 $run", 5001L -> s"q5001 $run")
    withDocs(docs) { dir =>
      val got = SparkEntry.queries("q_window_dedup")(spark, dir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      // if the cut were dropped, the boilerplate window alone would add
      // 110·109/2 = 5995 pairs here
      assert(got == Map((5000L, 5001L) -> 2L), s"got $got")
    }
  }

  test("LshMaxPerBucket: a 1010-doc identical-text bucket is skipped; exact dedup owns it") {
    GraftSession.prepare(spark)
    // 1010 identical docs put every one of their 16 MinHash band buckets
    // over the 1000 cap → zero candidates from that group BY DESIGN (the
    // documented division of labor: byte-identical mass is exact dedup's
    // job; LSH skipping the bucket is what bounds candidates at
    // bands·docs·cap). A genuine near-dup pair (Jaccard 17/19 ≈ 0.895)
    // lives in small buckets and must still be found.
    val same = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val base = (1 to 20).map(k => s"w$k").mkString(" ")
    val docs = (0L until 1010L).map(i => i -> same) ++ Seq(
      6000L -> base,
      6001L -> ((1 to 19).map(k => s"w$k").mkString(" ") + " wX"))
    withDocs(docs) { dir =>
      val got = SparkEntry.queries("q_minhash_lsh")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == Set((6000L, 6001L)), s"pairs: ${got.keySet}")
      assert(math.abs(got((6000L, 6001L)) - 17.0 / 19.0) < 1e-12)
      // ...and the identical mass is indeed caught by the exact path
      val exact = SparkEntry.queries("q_dedup_exact")(spark, dir).collect()
      assert(exact.exists(_.getLong(1) == 1010L))
    }
  }

  test("banded range join equals the naive quadratic join on a dense synthetic corpus") {
    GraftSession.prepare(spark)
    // days chosen to pepper band boundaries (30-day bands): same-customer
    // orders at gaps 0, 1, 29, 30, 31, 59, 60 days across band edges —
    // the banding must neither drop an in-window pair that spans a band
    // boundary nor double-count one that shares two bands
    withTempDir("graft_range") { dir =>
      val s2 = spark
      import s2.implicits._
      val rows = for {
        cust <- 0L until 40L
        k <- 0 until 6
      } yield (cust * 10 + k, cust,
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(1995, 1, 1)
            .plusDays(cust * 3 + Seq(0, 1, 29, 30, 31, 60)(k))
            .atStartOfDay()))
      rows.toDF("o_orderkey", "o_custkey", "o_orderdate")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val got = SparkEntry.queries("q_range_join")(spark, dir)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val naive = (for {
        (ka, ca, ta) <- rows; (kb, cb, tb) <- rows
        if ca == cb && ka < kb
        gap = math.abs(ta.getTime - tb.getTime) / 86400000L if gap <= 30
      } yield (ka, kb, gap)).toSet
      assert(got == naive, s"got=${got.size} naive=${naive.size} " +
        s"missing=${naive.diff(got).take(5)} extra=${got.diff(naive).take(5)}")
    }
  }

  test("SRP-LSH recall floor vs brute-force exact cosine pairs at sf0.001") {
    GraftSession.prepare(spark)
    // Exact reference: all 500·499/2 pairs, cosine via the same codegen
    // kernel the operator's verify step uses. SRP theory for 192 bands ×
    // 12 bits (p_bit = 1 − acos(s)/π): recall ≈ 0.54 at s = 0.4, ≈ 0.77
    // at 0.5 — near-threshold recall is the scheme's known price for
    // 4096-bucket selectivity (the chooser table in Similarity.scala).
    // Floors sit just under the values measured on this fixed corpus
    // (everything is deterministic: hash-derived hyperplanes, no RNG), so
    // a band/bit/cap regression — e.g. the 16-bit bands that collapse
    // recall to ~1% — fails here instead of landing silently.
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        call_function("cosine_sim", col("a.embedding"), col("b.embedding")).as("sim"))
      .filter(col("sim") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // force the SRP path directly: q_embed_neardup routes to the exact
    // flat scan at this corpus size now, but the SRP configuration still
    // backs the bounded-state STREAMING near-dup and keeps its floor here
    val lsh = graft.operators.Similarity
      .embedNeardupPairs(e, 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact.keySet), // exact-verify step ⇒ no false positives
      s"false positives: ${lsh.diff(exact.keySet).take(5)}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.55, s"overall recall $recall (${lsh.size}/${exact.size})")
    // secondary tier: only 7 exact pairs sit at >=0.45 in this corpus, so
    // the floor is coarse (granularity 1/7, measured 4/7) — the overall
    // floor above is the decisive regression guard
    val hi = exact.filter(_._2 >= 0.45).keySet
    val hiRecall = hi.count(lsh).toDouble / hi.size
    assert(hiRecall >= 0.5, s"recall at cosine>=0.45: $hiRecall (of ${hi.size})")
  }

  test("clustered near-dup (the routed >8k path), forced on sf0.1: recall floor vs brute force") {
    GraftSession.prepare(spark)
    // The clustered path never runs organically at driver SFs (routing
    // engages past 8192 vectors), so this spec FORCES it on the largest
    // driver corpus (2000 vectors) against the exhaustive cosine ground
    // truth — the same guard shape as the SRP floor above. Everything is
    // deterministic (seeded KMeans on fixed data), so the floors sit just
    // under the measured values; a regression in the clustering blocking
    // (cell count, seeds, cap, verify) fails here, not at the ×100 stress.
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select(col("vec_id"), col("embedding"))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        call_function("cosine_sim", col("a.embedding"), col("b.embedding")).as("sim"))
      .filter(col("sim") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = graft.operators.Similarity
      .embedNeardupClustered(e, 0.4, n = 2000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact.keySet), // exact verify ⇒ no false positives
      s"false positives: ${got.diff(exact.keySet).take(5)}")
    val recall = got.size.toDouble / exact.size
    info(f"clustered recall: $recall%.3f (${got.size}/${exact.size})")
    // measured 0.984 (905/920) with 4 clusterings × top-2 multi-assignment
    // — far ABOVE the SRP path's own near-threshold recall (theory ≈0.54
    // at s=0.4): the route trades nothing away. Multi-assignment is what
    // holds it at scale too (0.762 measured at ×10 / 20k vectors, where
    // single-assignment had decayed to 0.39). The floor sits under the
    // measured value only by the last-ulp wobble KMeans center sums can
    // pick up from aggregation order.
    assert(recall >= 0.9, s"clustered recall $recall (${got.size}/${exact.size})")
    val hi = exact.filter(_._2 >= 0.5).keySet
    val hiRecall = hi.count(got).toDouble / hi.size
    info(f"clustered recall at cosine>=0.5: $hiRecall%.3f (of ${hi.size})")
    assert(hiRecall >= 0.8, s"recall at cosine>=0.5: $hiRecall (of ${hi.size})")
  }
}
