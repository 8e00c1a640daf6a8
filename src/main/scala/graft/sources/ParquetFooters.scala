package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet reads whose data schema is resolved on the driver, so they
  * submit no job. A plain `spark.read.parquet` infers the schema in a
  * one-task job that reads a footer on an executor. Here the same
  * schema comes from Spark's own footer-to-schema conversion under the
  * session conf, run on the driver over the footer of the first data
  * file of `paths`. With `mergeSchema` it merges every data file's
  * footer instead. The schema goes to `spark.read.schema`, and the
  * partition columns are still inferred from directory names.
  *
  * Data files are the visible ones ([[SegmentedStore.dataFiles]]):
  * underscore- and dot-prefixed entries below a path (side tables,
  * manifests, markers, checksums) are skipped, as Spark's own listing
  * skips them. A read that finds no data file is handed to the plain
  * reader, which fails as loudly as it always has.
  */
private[graft] object ParquetFooters {
  def read(spark: SparkSession, paths: Seq[String], mergeSchema: Boolean = false,
           options: Map[String, String] = Map.empty): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = paths.iterator.flatMap { p =>
      val path = new Path(p)
      SegmentedStore.dataFiles(path.getFileSystem(conf), path)
    }
    val footers = if (mergeSchema) files.toSeq.sortBy(_.getPath.toString) else files.take(1).toSeq
    val schema = if (footers.isEmpty) None else GraftFooterSchema.of(spark, conf, footers)
    val reader = spark.read.options(options)
    schema.fold(reader)(reader.schema).parquet(paths: _*)
  }
}
