package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.functions.BitKernels
import graft.sources.{Clustering, Tables}

/** Z-order layout: a 2-D box query over the clustered file must SKIP most
  * row groups via parquet min/max stats (observable locally with small
  * block sizes), with zero result difference vs. a plain scan. */
class ClusteringSpec extends SparkTestBase {

  private def boxRowsRead(path: String): (Long, Long) = {
    val df = spark.read.parquet(path)
      .filter(col("o_custkey").between(100, 200) &&
        col("o_totalprice").between(100000, 200000))
    val n = df.count()
    val scan = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    (n, scan.metrics("numOutputRows").value)
  }

  test("zorder2 interleaves bits; orders like a space-filling curve") {
    assert(BitKernels.interleave2(0L, 0L) == 0L)
    assert(BitKernels.interleave2(1L, 0L) == 1L) // a bit 0 -> code bit 0
    assert(BitKernels.interleave2(0L, 1L) == 2L) // b bit 0 -> code bit 1
    assert(BitKernels.interleave2(3L, 3L) == 15L)
    // keys outside the 31-bit domain are rejected, not silently aliased
    intercept[IllegalArgumentException](BitKernels.interleave2(1L << 31, 0L))
    intercept[IllegalArgumentException](BitKernels.interleave2(0L, -1L))
    assert(BitKernels.interleave2((1L << 31) - 1, (1L << 31) - 1) == -1L >>> 2)
    // codegen path through the registry agrees with the kernel
    GraftSession.prepare(spark)
    val r = spark.sql("SELECT zorder2(5L, 9L) AS z").head().getLong(0)
    assert(r == BitKernels.interleave2(5L, 9L))
  }

  test("2-D box query skips row groups on the z-ordered layout") {
    GraftSession.prepare(spark)
    val orders = Tables.orders(spark, "/root/testdata/sf0.01")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    withTempDir("graft-zorder") { base =>
      // small row groups so test-sized data spans many of them
      Clustering.writeZOrdered(orders, s"$base/zord",
        col("o_custkey"), (col("o_totalprice") / 1000).cast("long"),
        numFiles = 4, blockSize = 32 * 1024)
      orders.orderBy(col("o_orderkey")) // key-ordered = unclustered for the box dims
        .repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").option("parquet.block.size", (32 * 1024).toString)
        .parquet(s"$base/linear")

      val (nZ, readZ) = boxRowsRead(s"$base/zord")
      val (nL, readL) = boxRowsRead(s"$base/linear")
      assert(nZ == nL, s"layouts must agree on results: $nZ vs $nL")
      assert(nZ > 0)
      // the clustered layout reads a fraction of what the linear one does
      assert(readZ * 2 <= readL,
        s"expected >=2x row-group skipping: zordered read $readZ rows, linear $readL")
    }
  }
}
