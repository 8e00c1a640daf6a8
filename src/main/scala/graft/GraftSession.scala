package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession construction for the engine's entry points
  * (Verify, Bench, tests). Centralizes the confs every graft plan
  * assumes so no operator needs session-mutating side effects:
  *
  *  - `nanosAsLong`: the events table is parquet TIMESTAMP(NANOS),
  *    which Spark only reads as a long via this legacy conf;
  *  - shuffle partitions sized to the local core count (the 100 TB
  *    deployment overrides this per-cluster; AQE coalesces down);
  *  - UTC so date/timestamp formatting matches the DuckDB oracle;
  *  - local sessions only: partition directories listed on the driver
  *    (no listing job, see [[builder]]).
  */
object GraftSession {
  /** The semantic confs every graft plan assumes, master-agnostic. */
  private def withGraftConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing stays at its parallelismFirst=true default —
      // MEASURED both ways (r16): with parallelismFirst=false (the
      // byte-based §2.2 "fewer, larger partitions" posture) the 8-key
      // heavy board ran 88.1s at local[32] vs 47.5s at default — this
      // engine's hot stages (kNN kernels, wedge joins, sparse-dot
      // rescores) are CPU-DENSE PER BYTE, so coalescing their few-MB
      // exchanges to one 64 MB-advisory task serializes the compute.
      // Byte-based coalescing is only right when stage cost tracks
      // bytes; a 100 TB deployment tunes advisoryPartitionSizeInBytes
      // against its own CPU-per-byte profile instead.

  def builder(cores: String): SparkSession.Builder =
    withGraftConfs(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // the driver-generated test parquet is one row group per file —
      // unsplittable — so local sessions re-spread fact scans
      // (Tables.RespreadTables) to engage all threads; cluster
      // sessions (clusterBuilder) never set this
      .config("spark.graft.parallelizeScans", "true")
      // the driver lists partition directories itself, however many:
      // past the default threshold (32) a read lists them in a Spark
      // job, one task per directory, and a 64-bucket index segment
      // paid one such job per read. Under local[N] those tasks run in
      // this JVM against the same filesystem, so the job is pure
      // scheduling overhead. Cluster sessions keep Spark's default,
      // where executors list a remote store in parallel.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      .config("spark.ui.enabled", "false")

  /** Builder for spark-submit onto a REAL cluster: the same semantic
    * confs (UTC, nanos-as-long events, extensions, AQE) with no
    * master and no shuffle-partition override — the cluster's
    * spark-defaults size the shuffle (AQE coalesces at runtime).
    * `GraftExtensions` rides along, so the custom expressions, the
    * intersect-count rewrite and `minhash_union` register wherever
    * the session lands.
    */
  def clusterBuilder(): SparkSession.Builder =
    withGraftConfs(SparkSession.builder())

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession =
    builder(cores).getOrCreate()
}
