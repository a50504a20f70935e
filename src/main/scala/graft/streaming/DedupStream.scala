package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D4: streaming twin of DedupOps.dedupExact — continuous exact content
  * dedup of a document stream, the online half of the reference's
  * no-duplicate-loads guarantee (/root/reference/app/services/
  * etl_service.py:252-293) applied to content instead of keys.
  *
  * Scale design: state is keyed on the 16-byte md5 of the normalized text —
  * never the text itself — so the state store holds O(distinct hashes ×
  * 16 B) regardless of document size, and
  * `dropDuplicatesWithinWatermark` lets the watermark evict hashes once no
  * late duplicate can still arrive, bounding state to the horizon instead of
  * the full history. A 100 TB/day stream dedups with per-executor state
  * proportional to the horizon's distinct-hash count only.
  */
object DedupStream {

  /** First occurrence per normalized content hash within the watermark
    * horizon. Input needs (`textCol`, `tsCol`: timestamp); emits the input
    * columns plus `norm_hash`. Works on a streaming or batch DataFrame (on
    * batch it degrades to a plain dropDuplicates on the hash). */
  def dedup(docs: DataFrame, textCol: String = "text", tsCol: String = "ts",
            watermark: String = "10 minutes"): DataFrame = {
    val hashed = docs.withColumn("norm_hash",
      md5(lower(trim(col(textCol))).cast("binary")))
    if (docs.isStreaming)
      hashed.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark("norm_hash")
    else hashed.dropDuplicates("norm_hash")
  }

  /** D18: streaming incremental dedup — C58's triage in its DEPLOYED
    * shape: each micro-batch of today's crawl is screened against a
    * FROZEN standing-corpus index (built batch-side by
    * `DedupOps.buildIncrementalIndex` — in production the bucketed
    * parquet index written by last night's run, here passed in as static
    * relations). Unlike [[dedup]] (which dedups the stream against
    * ITSELF and must hold watermark state), scoring against a frozen
    * index is STATELESS: every verdict completes inside its micro-batch
    * via two static-side joins, no state store entry outlives the batch
    * — the D16 pattern. Vehicle: [[BatchSink.epochParquet]] (idempotent
    * per-epoch writes) running the SAME `incrementalTriage` plan as batch
    * C58; two-batch union ≡ batch C58 is spec-pinned. */
  def incremental(docs: DataFrame, indexHash: DataFrame,
      coldIndexSigs: DataFrame, targetDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(docs, targetDir, checkpointDir, trigger)(
      graft.operators.DedupOps.incrementalTriage(_, indexHash, coldIndexSigs))
}
