package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the TPC-H-ish test corpus.
  *
  * Reads are plain parquet scans so Catalyst keeps full pushdown/pruning:
  * filters and projections land in `PushedFilters` / `ReadSchema` of the
  * scan node. At cluster scale the same loaders work on a directory of many
  * files; nothing here assumes a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized in the session registry: `spark.read.parquet` pays a
    * driver-side file listing plus a footer read for schema inference on
    * EVERY call, and the bench surface makes ~2-3 such calls per key ×
    * 400+ keys — pure fixed cost with zero data dependence (r17
    * optimization, guide §1.2/§6). The resolved relation is catalog
    * metadata, exactly what a registered table would hold, and like every
    * registry entry it is rebuilt when the corpus snapshot moves, so an
    * in-place rewrite is never read through a stale file index. Execution
    * still scans parquet on every action — nothing here caches data. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.SessionMemo.of(spark, dir, s"src_table_$name") {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
