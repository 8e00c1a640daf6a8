package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own parquet schema resolution, called on the driver.
  * [[ParquetFileFormat.readSchema]] is package-private, so this object
  * lives in its package. It is what a `spark.read.parquet` schema
  * inference job computes inside its one task: each file's footer
  * (row groups skipped), turned into a Spark schema under the session
  * conf and merged. Here the footers are read on the calling thread,
  * one after another, and no job runs. `graft.sources.ParquetFooters`
  * is the one caller.
  */
object GraftFooterSchema {
  def of(spark: SparkSession, conf: Configuration, files: Seq[FileStatus]): Option[StructType] =
    ParquetFileFormat.readSchema(files.map { f =>
      new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    }, spark)
}
