package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The footer-to-schema step of Spark's parquet schema inference, run on
  * the driver instead of in a Spark job: reads the footers of `files` and
  * converts them with Spark's own `ParquetFileFormat.readSchema`. It lives
  * in this package because the footer reader is package-private. Used by
  * [[graft.sources.Tables.readParquet]]. */
object GraftFooters {
  def schema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(spark.sessionState.newHadoopConf(),
        files, spark.sessionState.conf.ignoreCorruptFiles),
      spark)
}
