package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D32: streaming RRF retrieval serving — C96's continuous-query shape:
  * the two ANN indexes (sign-LSH buckets + IVF cells) are derived from a
  * FROZEN corpus (production: last night's index build), and probe
  * vectors arrive as a stream; each micro-batch's probes get their fused
  * top-10 ([[graft.operators.EmbeddingOps.retrievalRrfServe]]) written to
  * the serving sink. This is the retrieval half of a RAG loop run as a
  * standing query instead of a request/response service — the same plan,
  * the same arithmetic, just driven by arrival.
  *
  * Stateless by construction (the D19 pattern): the corpus relation is
  * static, every window/join completes inside the micro-batch (probe
  * sides broadcast — bounded by arrival), and no state store entry
  * outlives the batch. Index refresh is a batch-side rebuild + corpus
  * swap, exactly as D19 models codebook retraining.
  *
  * Idempotent per-epoch writes through [[BatchSink.epochParquet]]. */
object AnnStream {

  /** Continuous fused-top-10 serving of a probe stream (probe_id,
    * embedding) against a frozen corpus relation (vec_id, embedding). */
  def serve(probes: DataFrame, corpus: DataFrame, targetDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(probes, targetDir, checkpointDir, trigger)(
      graft.operators.EmbeddingOps.retrievalRrfServe(corpus, _))
}
