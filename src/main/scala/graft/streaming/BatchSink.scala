package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The micro-batch sink every `foreachBatch` writer in this package runs
  * through: one `writeStream` shell ([[start]]) and one idempotent
  * per-epoch parquet write ([[epochParquet]]). */
private[streaming] object BatchSink {

  /** Run `body` on every micro-batch of `input` (with its epoch id),
    * checkpointed under `checkpointDir`. */
  def start(input: DataFrame, checkpointDir: String, trigger: Trigger,
      outputMode: String)(body: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** The epoch write (D24): each micro-batch's `plan` output lands under
    * `targetDir` with its epoch id as a `batch_id` column, one
    * `batch_id=N` directory per epoch.
    *
    * Idempotence: `foreachBatch` is AT-LEAST-ONCE. A crash between the
    * sink write and the checkpoint commit replays the micro-batch with
    * the SAME epoch id, and a blind append would then double that epoch's
    * rows. The write is therefore partitioned by `batch_id` with DYNAMIC
    * partition overwrite scoped to this writer: a replayed epoch rewrites
    * exactly its own `batch_id=N` directory and every other epoch's
    * output is untouched, so replay ≡ first write (StreamingSpec pins it
    * for every caller by dropping a commit marker and restarting). */
  def epochParquet(input: DataFrame, targetDir: String,
      checkpointDir: String, trigger: Trigger)(
      plan: DataFrame => DataFrame): StreamingQuery =
    start(input, checkpointDir, trigger, "append") { (batch, epoch) =>
      plan(batch)
        .withColumn("batch_id", lit(epoch))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(targetDir)
    }
}
