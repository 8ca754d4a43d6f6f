package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (session startup ~5s). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the engine's pid-tagged scratch (index layouts, copy targets) goes
    // with the suite's JVM, as it does at the end of every graft tool
    sys.addShutdownHook(TempHygiene.cleanOwn()): Unit
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sfDir: String = SparkTestBase.sfDir

  /** A fresh `java.io.tmpdir/<prefix><random>` directory for `body`,
    * deleted recursively afterwards whether `body` succeeds or throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally TempHygiene.deleteRecursively(dir)
  }

  /** `body` with the session conf `pairs` set, each restored afterwards. */
  def scopedConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` and returns its value with the (description, stage
    * names) of every Spark job it started. A sentinel job marks the end:
    * the listener bus delivers events in order, so once the sentinel is
    * seen every earlier job has been counted. */
  def jobsDuring[T](body: => T): (T, Seq[(String, String)]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val sentinel = s"sentinel-${System.nanoTime()}"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""),
          e.stageInfos.map(_.name).mkString(";")))
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val out = body
      spark.sparkContext.setJobDescription(sentinel)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.asScala.exists(_._1 == sentinel) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    (out, jobs.asScala.toSeq.filterNot(_._1 == sentinel))
  }
}
