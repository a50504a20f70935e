package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D27: streaming decontamination gate — C84's Bloom screen in its DEPLOYED
  * shape: incoming documents are screened per micro-batch against a FROZEN
  * Bloom filter (trained batch-side by `Pipeline.bloomBuild` over the
  * benchmark corpus — in production the filter last night's eval-prep job
  * wrote) plus the exact benchmark gram set as a static relation for the
  * confirm join. This is how benchmark decontamination runs in continuous
  * ingest: the benchmark suite does NOT update with the stream, so the gate
  * is STATELESS — each doc's grams explode, probe the 32 KiB filter inside
  * the scan (no join, no shuffle for the clean bulk), only Bloom survivors
  * reach the stream-static confirm join, and every verdict completes inside
  * its micro-batch. No state store entry outlives the batch (state O(0)).
  *
  * Vehicle: [[BatchSink.epochParquet]] running the SAME
  * `Pipeline.bloomScreen` plan as batch C84 (single-batch union ≡ batch
  * verdicts is spec-pinned).
  */
object BloomGateStream {

  /** Start the gate: screens `docs` (doc_id, source, text) micro-batches,
    * appends per-doc verdicts (doc_id, source, n_hits, contaminated,
    * batch_id) under `targetDir`. */
  def gate(docs: DataFrame, benchGrams: DataFrame, words: Array[Long],
           targetDir: String, checkpointDir: String,
           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(docs, targetDir, checkpointDir, trigger)(
      graft.operators.Pipeline.bloomScreen(_, benchGrams, words))
}
