package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    Harness.run() { spark =>
      new java.io.File(outDir).mkdirs()
      // dev-only subset run (comma-separated keys): restricts BOTH the query
      // dump and the oracle json so dev/oracle_check.py grades just the
      // subset. The driver never sets this — full surface by default.
      val only: Option[Set[String]] =
        sys.env.get("SPARK_GRAFT_VERIFY_KEYS").map(_.split(",").map(_.trim).toSet)
      def keep(name: String): Boolean = only.forall(_.contains(name))
      val failed = SparkEntry.queries.filter(kv => keep(kv._1)).toSeq.flatMap { case (name, fn) =>
        Harness.attempt(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")).left.toOption.map { cause =>
          System.err.println(s"[verify] $name failed: $cause")
          name
        }
      }
      // a throwing query must not be silently absent from the compare (the
      // round-6 events regression hid exactly this way): persist the failure
      // list for dev/oracle_check.py to turn into a hard gate failure
      Files.writeString(Paths.get(s"$outDir/failed.txt"),
        failed.sorted.mkString("", "\n", if (failed.isEmpty) "" else "\n"))
      val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
        .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
  }
}
