package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Etl

/** D3: keyed-merge streaming sink — the reference's batched BigQuery MERGE
  * (/root/reference/app/services/etl_service.py:252-293) applied per
  * micro-batch via `foreachBatch` (SURVEY.md §2 D3).
  *
  * Each micro-batch is first collapsed to one row per key (latest wins by
  * `versionCol`, deterministic), then merged latest-wins into the parquet
  * target with Etl.merge — one shuffle on the key per batch.
  *
  * The swap is write-new → directory rename through the Hadoop `FileSystem`
  * API, so the sink works on any supported filesystem (local, HDFS, S3A…).
  * Rename is atomic on HDFS/local; on S3A it is copy-based, which is one of
  * the reasons the production shape of this sink is a lakehouse MERGE
  * (Delta/Iceberg row-level merge with file pruning) — full-snapshot rewrite
  * is the portable, dependency-free stand-in; the per-batch dedup + keyed
  * merge logic is identical either way.
  */
object UpsertSink {

  /** Merge `batch` into the parquet snapshot at `targetDir` (latest wins). */
  def mergeBatch(batch: DataFrame, key: String, versionCol: String,
                 targetDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val dedupBatch = batch.withColumn("_vrn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col(versionCol).desc, col(key))))
      .filter(col("_vrn") === 1).drop("_vrn")
    val target = new Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(target))
        Etl.merge(graft.sources.Tables.readParquet(spark, targetDir), dedupBatch, key)
      else dedupBatch
    val tmp = new Path(targetDir + ".tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val old = new Path(targetDir + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      sys.error(s"could not stage out $targetDir")
    if (!fs.rename(tmp, target))
      sys.error(s"could not publish $tmp")
    fs.delete(old, true): Unit
  }

  /** Start the streaming upsert: every micro-batch merges into targetDir. */
  def start(updates: DataFrame, key: String, versionCol: String,
            targetDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, key, versionCol, targetDir)
      }
      .start()
}
