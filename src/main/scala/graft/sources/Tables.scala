package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the TPC-H-ish test schema. The schema
  * is read from the table's footer on the driver ([[ParquetFooters]]),
  * so a load submits no job.
  *
  * At cluster scale these reads are plain columnar scans: Catalyst
  * pushes filters/projections into the parquet reader, so operators
  * should express selection declaratively and never pre-collect.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fact/corpus tables whose scans are re-spread across the session's
    * cores when `spark.graft.parallelizeScans` is on (set by
    * [[graft.GraftSession.local]], NOT by the cluster builder): the
    * driver-generated test parquet is ONE row group per file, so a
    * file-split scan can never parallelize past one task — and a
    * scan→explode pipeline (shingles, tokens, frames) then runs its
    * 10-100× amplification single-threaded on a 32-thread session.
    * One round-robin exchange of the raw rows (KB-MB here) buys full
    * parallelism on the amplified stage; predicates and column pruning
    * still push through the Repartition into the scan. A real cluster
    * leaves this off: production writers emit many row groups /
    * files, and a blanket reshuffle of a 100 TB scan is pure waste.
    * Dimension tables never re-spread (they broadcast).
    */
  private val RespreadTables =
    Set("orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = ParquetFooters.read(spark, Seq(s"$dir/$name.parquet"))
    if (RespreadTables(name) &&
        spark.conf.get("spark.graft.parallelizeScans", "false").toBoolean)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
