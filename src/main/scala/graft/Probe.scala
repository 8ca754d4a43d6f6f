package graft

import org.apache.spark.sql.SparkSession

/** Dev-only measurement probes (round-18 tail-floor investigation). Not
  * part of the driver contract; Bench is untouched.
  *
  * Mode 1 (default): time the named keys under several runtime-conf
  * variants INTERLEAVED in one JVM (mode rotation per round), min-of-N per
  * (mode, key) — box load and JIT warmup cancel across modes, which a
  * sequential pair of bench runs cannot do.
  *
  * Mode 2 (SPARK_GRAFT_PROBE_DECOMP=1): decompose each key's cost into
  * dataframe-construction time (plan build + analysis) vs action time,
  * and count jobs/stages/tasks plus summed task run time during the
  * action — locates the 0.13 s/key tail floor (driver fixed cost vs
  * scheduling vs real work).
  */
object Probe {
  private val modes: Seq[(String, Map[String, String])] = Seq(
    "base" -> Map.empty,
    "noPF" -> Map(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"),
    "noAQE" -> Map("spark.sql.adaptive.enabled" -> "false")
  )

  private val defaultKeys = Seq(
    "q_topk_per_group", "q_transitions", "q_vocab", "q_wau", "q_zipf",
    "q_user_entropy", "q_union", "q_tumbling", "q_supplier_hhi",
    "q_token_entropy", "q_ttr", "q_trade_flows", "q_vocab_overlap",
    "q_top_supplier", "q_cooccurrence", "q_weighted_median")

  private class Counter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null)
        taskNanos.addAndGet(
          (e.taskInfo.finishTime - e.taskInfo.launchTime) * 1000000L): Unit
    }
    def snap: (Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, taskNanos.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val rounds = sys.env.get("SPARK_GRAFT_PROBE_ROUNDS")
      .flatMap(_.toIntOption).getOrElse(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val keys = if (args.nonEmpty) args.toSeq else defaultKeys
    try {
      SparkEntry.queries("q_pricing_summary")(spark, sfDir).count()
      SparkEntry.queries("q_knn_cosine")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    if (sys.env.contains("SPARK_GRAFT_PROBE_DECOMP")) decompose(spark, sfDir, keys, rounds)
    else abModes(spark, sfDir, keys, rounds)
    spark.stop()
    Bench.cleanOwnTempDirs()
  }

  private def decompose(spark: SparkSession, sfDir: String,
      keys: Seq[String], rounds: Int): Unit = {
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    // per key: min build time, min action time, plus job/stage/task counts
    // and summed task time observed during the MIN action round
    val best = collection.mutable.Map.empty[String, (Double, Double, Long, Long, Long, Double)]
    (1 to rounds).foreach { _ =>
      keys.foreach { key =>
        try {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(key)(spark, sfDir)
          val t1 = System.nanoTime()
          val before = c.snap
          df.count()
          val t2 = System.nanoTime()
          val after = c.snap
          val build = (t1 - t0) / 1e9
          val act = (t2 - t1) / 1e9
          val cur = best.get(key)
          // the two minima are tracked independently: a new minimum
          // action time must not replace a smaller build time seen earlier
          val minBuild = cur.fold(build)(c => math.min(c._1, build))
          if (cur.forall(_._2 > act))
            best(key) = (minBuild, act, after._1 - before._1,
              after._2 - before._2, after._3 - before._3,
              (after._4 - before._4) / 1e9)
          else best(key) = cur.get.copy(_1 = minBuild)
        } catch { case e: Throwable =>
          System.err.println(s"[probe] $key FAILED: ${e.getMessage}")
        }
      }
      System.gc()
    }
    val json = keys.flatMap(k => best.get(k).map { case (b, a, j, st, t, tt) =>
      f""""$k":{"build":$b%.4f,"action":$a%.4f,"jobs":$j,"stages":$st,"tasks":$t,"task_s":$tt%.4f}"""
    }).mkString("{", ",", "}")
    emit(json)
  }

  private def abModes(spark: SparkSession, sfDir: String,
      keys: Seq[String], rounds: Int): Unit = {
    val best = collection.mutable.Map.empty[(String, String), Double]
    (1 to rounds).foreach { _ =>
      modes.foreach { case (mode, confs) =>
        val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toSeq
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try keys.foreach { key =>
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(key)(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            val mk = (mode, key)
            if (!best.contains(mk) || dt < best(mk)) best(mk) = dt
          } catch { case e: Throwable =>
            System.err.println(s"[probe] $mode/$key FAILED: ${e.getMessage}")
          }
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        System.gc()
      }
    }
    val json = modes.map { case (mode, _) =>
      val per = keys.map(k => s"\"$k\":${best.getOrElse((mode, k), -1.0)}")
        .mkString("{", ",", "}")
      val tot = keys.map(k => best.getOrElse((mode, k), 0.0)).sum
      s"\"$mode\":{\"total\":$tot,\"queries\":$per}"
    }.mkString("{", ",", "}")
    emit(json)
  }

  private def emit(json: String): Unit = {
    println(json)
    sys.env.get("SPARK_GRAFT_PROBE_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
  }
}
