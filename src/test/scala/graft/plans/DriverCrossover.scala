package graft.plans

import org.apache.spark.sql.SparkSession

import graft.{Harness, TempHygiene}

/** Driver path against Spark's path for a GROUP BY … ORDER BY … LIMIT over
  * a 4-file parquet table of about 1, 4 and 16 MiB, in a session with the
  * graft extension (a bare session leaves adaptive roots to Spark). Each
  * size alternates a driver-path statement (the chain evaluated on the
  * driver whatever the budget says) and a Spark-path one (a session whose
  * budget is 1 byte), 15 warm statements each after 3 warm-ups, and prints
  * one JSON line of the sizes and the median wall ms (SQL text to
  * collected rows) per path. The numbers behind
  * [[DriverCollectExec.GroupOrSortBudget]]; run with
  * `SPARK_GRAFT_CPUS=4 sbt -batch "Test/runMain graft.plans.DriverCrossover"`. */
object DriverCrossover {

  def main(args: Array[String]): Unit =
    Harness.run("spark.sql.extensions" -> "graft.plans.GraftExtensions")(crossover)

  private def crossover(spark: SparkSession): Unit = {
    val reps = 15
    val dir = java.nio.file.Files.createTempDirectory("graft-crossover").toString
    def table(rows: Long, path: String): Long = {
      spark.range(rows).selectExpr("concat('src', id % 997) AS source",
        "CAST(id % 5 AS INT) AS lang", "(id * 7919) % 100003 AS n_chars")
        .repartition(4).write.mode("overwrite").parquet(path)
      org.apache.commons.io.FileUtils.sizeOf(new java.io.File(path))
    }
    val perRow = table(200000L, s"$dir/probe").toDouble / 200000L
    val stmt = "SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars, " +
      "AVG(n_chars) AS avg_chars FROM crossover_t WHERE lang = 1 AND n_chars > 100 " +
      "GROUP BY source ORDER BY total_chars DESC, source LIMIT 5"
    // one session per path, so the driver's reader is not rebuilt for a
    // conf change at every switch
    val sparkPath = spark.newSession()
    sparkPath.conf.set("spark.sql.files.openCostInBytes", "1")
    val paths = Seq(spark, sparkPath)
    def timed(s: SparkSession): Double = {
      val t0 = System.nanoTime()
      val df = s.sql(stmt)
      if (s eq spark) df.queryExecution.executedPlan match {
        case root @ DriverCollectExec(child) =>
          DriverCollectExec.run(DriverCollectExec.chain(child).get, Int.MaxValue, root.output)
        case other => sys.error(s"no DriverCollect root: $other")
      }
      else df.collect()
      (System.nanoTime() - t0) / 1e6
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val rows = try Seq(1, 4, 16).map { mib =>
      val path = s"$dir/t$mib"
      val bytes = table((mib * 1048576L / perRow).toLong, path)
      paths.foreach(_.read.parquet(path).createOrReplaceTempView("crossover_t"))
      (1 to 3).foreach(_ => paths.foreach(timed))
      val runs = (1 to reps).map(_ => paths.map(timed))
      Harness.obj(Seq("mib" -> f"${bytes / 1048576.0}%.2f",
        "driver_ms" -> f"${median(runs.map(_(0)))}%.1f",
        "spark_ms" -> f"${median(runs.map(_(1)))}%.1f"))
    } finally TempHygiene.deleteRecursively(java.nio.file.Paths.get(dir))
    println(rows.mkString("{\"crossover\":[", ",", "]}"))
  }
}
