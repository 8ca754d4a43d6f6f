package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // reap other (dead) processes' orphan scratch before measuring — disk
    // pressure from accumulated orphans is the r11 stall's diagnosed cause
    TempHygiene.sweepOrphans()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: absorbs one-time JVM/codegen/parquet-reader init so
    // per-query timings reflect steady state, not class loading.
    try {
      SparkEntry.queries("q_pricing_summary")(spark, sfDir).count()
      SparkEntry.queries("q_knn_cosine")(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // two timed reps per query, report the min: steady-state cost without
    // one-off shuffle-file/codegen-cache effects
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(2))
    // optional args: bench only the named queries (dev iteration loop)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // wall-clock start of the key, for post-hoc stall attribution: the
      // r11 driver bench showed a contiguous alphabetical band ~10-60×
      // slower than the settle runs with no plan change — without
      // timestamps the stall could not be located in time, only in key
      // order (r11 verdict item 3)
      val at = System.currentTimeMillis()
      val times: Seq[Double] = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }
      // the Stress harness's per-key GC discipline: let the ContextCleaner
      // reclaim the finished key's shuffle files between keys, so 335 keys
      // of shuffle/layout debris never stack up into the page-cache/disk
      // pressure suspected in the r11 h→l stall. Outside the timed reps —
      // per-query seconds stay pure plan cost.
      System.gc()
      // -1 marks a query that failed every rep, instead of a fast-looking
      // time-to-throw polluting the totals
      (name, if (times.nonEmpty) times.min else -1.0, at, times)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-key wall-clock starts (epoch ms) ride only in the file dump —
    // the stdout line keeps the exact shape the driver parses
    val starts = results.map { case (k, _, at, _) => s"\"" + k + "\":" + at }
      .mkString("{", ",", "}")
    // per-rep raw times (file dump only, r18): rep1 − rep2 prices every
    // registry/layout build per key — min-of-reps semantics and the timed
    // action are UNCHANGED; this only makes the build-vs-steady-state
    // split visible (r17 verdict "what's wrong" #1 / next-round #4)
    val repsDump = results.map { case (k, _, _, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // stdout through sbt is [info]-prefixed and interleaved with Spark INFO
    // noise, which broke the driver's parse in round 1 — also persist the
    // line to a file the driver (or a human) can read unambiguously.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    val fileLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"started_ms":$starts,"reps":$repsDump,"cpus":$cpus,"sf":"$sfDir"}"""
    def writeOut(p: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    writeOut(outPath)
    // ALSO write a cpu-count-suffixed copy next to the default dump: the
    // driver's 8-cpu scaling run overwrites BENCH_OUT.json after the
    // 32-cpu run (single shared path), which emptied PERF_r17's per-query
    // comparison — the suffixed file survives both runs, so it is the
    // dump the summary line's queries_full names. BENCH_OUT.json and the
    // env override behave as before.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_OUT_c$cpus.json")
    if (fullPath != outPath) writeOut(fullPath)
    // The driver keeps only a ~2000-char stdout tail; with 140+ queries the
    // full line overflows it and arrives front-truncated (unparseable,
    // BENCH_r{3..6}.json "parsed": null). Emit a complete compact summary
    // LAST so a whole JSON line always sits inside the tail window: total,
    // failures, the 10 slowest queries, and a pointer to the full dump.
    val failed = results.collect { case (k, v, _, _) if v < 0 => s"\"$k\"" }
    val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _, _) => f""""$k":${v}%.3f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"failed":[${failed.mkString(",")}],"slowest":$slow,"queries_full":"$fullPath"}""")
    spark.stop()
    // end-of-run temp hygiene: drop THIS process's layout/index scratch
    // (pathTag embeds the pid, so other concurrent runs' files are never
    // touched) — the r11 driver bench left tens of thousands of temp files
    // across /tmp, the prime suspect for the h→l stall's disk pressure
    cleanOwnTempDirs()
  }

  /** Delete graft_* directories under the scratch roots (/tmp,
    * java.io.tmpdir, …) stamped with this process's pid by
    * [[SessionMemo.pathTag]]. Best-effort: a failure to clean must never
    * fail the bench. */
  private[graft] def cleanOwnTempDirs(): Unit = {
    val pidTag = s"_p${ProcessHandle.current().pid()}"
    TempHygiene.scratchRoots.foreach { root =>
      val tmp = java.nio.file.Paths.get(root)
      try {
        val st = java.nio.file.Files.list(tmp)
        try st.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("graft_") && n.endsWith(pidTag))
            try TempHygiene.deleteRecursively(p) catch { case _: Throwable => () }
        } finally st.close()
      } catch { case _: Throwable => () }
    }
  }
}
