package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The footer-to-schema step of Spark's parquet schema inference, run on
  * the driver instead of in a Spark job: reads the footers of `files` and
  * converts them with Spark's own `ParquetFileFormat.readSchema`. It lives
  * in this package because the footer reader is package-private. Used by
  * [[graft.sources.Tables.readParquet]] and [[graft.sources.Tables.footerRows]]. */
object GraftFooters {
  def schema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(spark.sessionState.newHadoopConf(),
        files, spark.sessionState.conf.ignoreCorruptFiles),
      spark)

  /** The rows `files` hold, summed over their footers' row groups. The
    * footers are read whole: the schema read above skips row groups. */
  def rows(spark: SparkSession, files: Seq[FileStatus]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.map(f => ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum).sum
  }
}
