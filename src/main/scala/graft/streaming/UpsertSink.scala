package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Etl
import graft.sources.Export

/** D3: keyed-merge streaming sink — the reference's batched BigQuery MERGE
  * (/root/reference/app/services/etl_service.py:252-293) applied per
  * micro-batch via `foreachBatch` (SURVEY.md §2 D3).
  *
  * Each micro-batch is first collapsed to one row per key (latest wins by
  * `versionCol`, deterministic), then merged latest-wins into the parquet
  * target with Etl.merge — one shuffle on the key per batch.
  *
  * The merged table is staged under a `_`-prefixed sibling and swapped in
  * with [[graft.sources.Export.publish]]'s write-new → rename publish
  * (Hadoop `FileSystem` API — local, HDFS, S3A alike). Rename is atomic on
  * HDFS/local; on S3A it is copy-based, which is one of the reasons the
  * production shape of this sink is a lakehouse MERGE (Delta/Iceberg
  * row-level merge with file pruning) — full-snapshot rewrite is the
  * portable, dependency-free stand-in; the per-batch dedup + keyed merge
  * logic is identical either way.
  *
  * Crash recovery: `foreachBatch` is AT-LEAST-ONCE, and a crash between
  * the publish's two renames leaves the target absent with the previous
  * table parked under `_<name>.old`. Each batch first restores such a
  * stranded target ([[graft.sources.Export.restoreStranded]]), so the
  * replayed batch merges into the full table; latest-wins by version
  * makes the replay ≡ the first write.
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
    Export.restoreStranded(fs, target): Unit
    val merged =
      if (fs.exists(target))
        Etl.merge(graft.sources.Tables.readParquet(spark, targetDir), dedupBatch, key)
      else dedupBatch
    val tmp = new Path(target.getParent, "_" + target.getName + ".staging")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    Export.publish(fs, tmp, target)
  }

  /** Start the streaming upsert: every micro-batch merges into targetDir. */
  def start(updates: DataFrame, key: String, versionCol: String,
            targetDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.start(updates, checkpointDir, trigger, "update") { (batch, _) =>
      mergeBatch(batch, key, versionCol, targetDir)
    }
}
