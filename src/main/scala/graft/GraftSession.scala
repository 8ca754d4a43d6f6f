package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Design notes (100 TB target):
  *  - AQE on: runtime partition coalescing + skew-join splitting.
  *  - shuffle partitions from env (32 locally; ~2-3x cores on a cluster).
  *  - `nanosAsLong`: legacy driver drops carried `events.ts` as parquet
  *    TIMESTAMP(NANOS), which Spark only reads as epoch-nanos LongType
  *    under this flag; current drops use timestamp[us]. Harmless for the
  *    latter, and `operators.EventTime` resolves whichever encoding the
  *    scan actually produced.
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  }

  /** Apply graft settings/functions to an externally-created session (the
    * driver's Verify/Bench build their own session without our extension).
    * Physical rules cannot be added after the session is built, so such a
    * session runs without [[graft.plans.ParameterizeLiterals]]; the
    * optimizer rules are added only where the extension did not already
    * inject them.
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Runtime SQL conf, so it CAN be pinned post-hoc: the driver's bare
    // session reaches queries only through prepare(), and the event-time
    // family casts TIMESTAMP_NTZ wall-clocks via the session zone — on a
    // non-UTC host every event-time query would shift by the zone offset
    // against the tz-independent epoch-ms oracle (round-7 ADVICE).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.plans.GraftExtensions.registerFunctions(spark)
    // a session built with the extension already runs the rules in its
    // operator-optimization batches; installing them again as extra
    // optimizations would run each one in a third batch
    val extra = spark.experimental.extraOptimizations
    val have = extra ++ spark.sessionState.optimizer.extendedOperatorOptimizationRules
    spark.experimental.extraOptimizations =
      extra ++ graft.plans.GraftExtensions.optimizerRules.filterNot(have.contains)
    spark
  }
}
