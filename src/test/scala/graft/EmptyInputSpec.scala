package graft

/** Degenerate-input robustness: every registered query must EXECUTE on a
  * corpus of empty (zero-row, correctly-typed) tables — returning zero
  * rows is fine, throwing is not. Real deployments hit this shape
  * constantly (a fresh partition, a filter that matched nothing, a new
  * tenant), and it exercises the paths small-SF data never does: empty
  * aggregations, empty join sides, empty RDD fixpoints, scalar
  * pre-passes over zero rows.
  *
  * Exception: global-aggregate queries legitimately return rows on empty
  * input (count(*) = 0 etc.) — the assertion is only "no throw".
  */
class EmptyInputSpec extends SparkTestBase {

  test("every registered query executes on zero-row tables") {
    GraftSession.prepare(spark)
    withTempDir("graft_empty") { dir =>
      graft.sources.Tables.all.foreach { t =>
        graft.sources.Tables(spark, sfDir, t).limit(0)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        try { SparkEntry.queries(name)(spark, dir).count(); None }
        catch { case e: Exception =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
        }
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    }
  }
}
