package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.Io

class IoSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", StringType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  test("csv roundtrip with explicit schema") {
    withTempDir("graft-io") { dir =>
      Files.writeString(java.nio.file.Paths.get(s"$dir/data.csv"),
        "id,grp,v\n1,a,1.5\n2,b,2.5\n3,a,3.5\n")
      val df = Io.readCsv(spark, s"$dir/data.csv", schema)
      assert(df.schema.fieldNames.toSeq == Seq("id", "grp", "v"))
      assert(df.count() == 3)
      assert(df.filter("grp = 'a'").agg(Map("v" -> "sum")).head().getDouble(0) == 5.0)
    }
  }

  test("json read with explicit schema") {
    withTempDir("graft-io") { dir =>
      Files.writeString(java.nio.file.Paths.get(s"$dir/data.json"),
        """{"id":1,"grp":"x","v":9.0}
          |{"id":2,"grp":"y","v":1.0}""".stripMargin)
      val df = Io.readJson(spark, s"$dir/data.json", schema)
      assert(df.count() == 2 && df.filter("grp = 'x'").head().getDouble(2) == 9.0)
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    withTempDir("graft-io") { tmp =>
      val dir = tmp + "/t"
      val s = spark
      import s.implicits._
      val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "grp", "v")
      Io.writeParquet(df, dir, partitionCols = Seq("grp"))
      assert(new java.io.File(s"$dir/grp=a").isDirectory)
      val back = spark.read.parquet(dir).filter($"grp" === "a")
      assert(back.count() == 2)
      // partition pruning visible in the plan: only grp=a files scanned
      val plan = back.queryExecution.executedPlan.toString
      assert(!plan.contains("grp=b"))
    }
  }

  test("readTextLines: one doc per line, content-hash ids collapse identical lines") {
    withTempDir("graft-io") { dir =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/corpus.txt"),
        "alpha beta\nsecond line\nalpha beta\n".getBytes("UTF-8"))
      val df = Io.readTextLines(spark, s"$dir/corpus.txt")
      assert(df.columns.toSeq == Seq("doc_id", "text", "n_chars"))
      assert(df.count() == 3)
      // identical lines share a doc_id (exact dedup's grouping key)
      assert(df.select("doc_id").distinct().count() == 2)
      val row = df.filter(df("text") === "second line").head()
      assert(row.getLong(2) == 11L)
      // ids are content-derived: a re-read (any split/partitioning) agrees
      val again = Io.readTextLines(spark, s"$dir/corpus.txt").repartition(3)
      assert(again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
        df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    }
  }

  test("orc roundtrip keeps values, partition pruning, and filter pushdown") {
    withTempDir("graft-io") { tmp =>
      val dir = tmp + "/t"
      val s = spark
      import s.implicits._
      val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "grp", "v")
      Io.writeOrc(df, dir, partitionCols = Seq("grp"))
      assert(new java.io.File(s"$dir/grp=a").isDirectory)
      val back = Io.readOrc(spark, dir).filter($"grp" === "a" && $"id" > 1)
      assert(back.collect().map(_.getLong(0)).toSeq == Seq(3L))
      val plan = back.queryExecution.executedPlan.toString
      assert(!plan.contains("grp=b")) // partition pruned
      assert(plan.contains("PushedFilters") && plan.contains("id"), plan) // pushdown reaches ORC
    }
  }

  test("insertRows appends to an existing table") {
    withTempDir("graft-io") { tmp =>
      val dir = tmp + "/t"
      Io.insertRows(spark, dir, schema, Seq(Row(1L, "a", 1.0)))
      Io.insertRows(spark, dir, schema, Seq(Row(2L, "b", 2.0), Row(3L, "a", null)))
      val back = spark.read.parquet(dir)
      assert(back.count() == 3)
      assert(back.filter("v IS NULL").count() == 1)
    }
  }

  test("readEvolved merges schemas across file generations") {
    withTempDir("graft-evolve") { tmp =>
      val dir = tmp + "/t"
      // generation 1: (id); generation 2 adds a column
      spark.createDataFrame(
        java.util.List.of(Row(1L)),
        StructType(Seq(StructField("id", LongType)))).write.parquet(dir)
      spark.createDataFrame(
        java.util.List.of(Row(2L, "fresh")),
        StructType(Seq(StructField("id", LongType), StructField("tag", StringType))))
        .write.mode("append").parquet(dir)
      val merged = Io.readEvolved(spark, dir)
      assert(merged.columns.toSet == Set("id", "tag"))
      val byId = merged.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(byId == Map(1L -> None, 2L -> Some("fresh")))
    }
  }

  test("schemaDiff reports added, removed, and type-changed columns from footers") {
    withTempDir("graft-drift") { base =>
      spark.createDataFrame(
        java.util.List.of(Row(1L, "a", 1.0)),
        StructType(Seq(StructField("id", LongType), StructField("tag", StringType),
          StructField("v", DoubleType)))).write.parquet(base + "/old")
      spark.createDataFrame(
        java.util.List.of(Row(1L, 5, "x")),
        StructType(Seq(StructField("id", LongType), StructField("v", IntegerType),
          StructField("extra", StringType)))).write.parquet(base + "/new")
      val diff = Io.schemaDiff(spark, base + "/old", base + "/new")
        .collect().map(r => (r.getString(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3)))).toSet
      assert(diff == Set(
        ("extra", "added", None, Some("STRING")),
        ("tag", "removed", Some("STRING"), None),
        ("v", "type_changed", Some("DOUBLE"), Some("INT"))), diff.toString)
    }
  }

  test("compact rewrites a many-file table into the target file count") {
    withTempDir("graft-compact") { tmp =>
      val dir = tmp + "/t"
      import org.apache.spark.sql.functions.col
      spark.range(0, 1000).select(col("id")).repartition(40).write.parquet(dir)
      def parquetFiles = new java.io.File(dir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(parquetFiles == 40)
      val n = Io.compact(spark, dir, targetBytes = 1L * 1024 * 1024 * 1024)
      assert(n == 1 && parquetFiles == 1)
      val back = spark.read.parquet(dir)
      assert(back.count() == 1000)
      assert(back.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 499500L)
    }
  }
}
