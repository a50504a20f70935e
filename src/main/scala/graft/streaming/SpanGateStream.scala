package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D28: streaming span-level decontamination — C87's surgical screen in its
  * DEPLOYED shape: incoming documents are checked per micro-batch against
  * the FROZEN benchmark gram set (a static relation, like D27's filter and
  * D16's language model), and each contaminated doc's maximal token
  * islands are emitted so the downstream writer excises spans instead of
  * dropping docs. STATELESS: a document arrives whole inside one
  * micro-batch, so every island completes inside its batch — no state
  * store entry outlives it. A deployment chains this AFTER D27's Bloom
  * gate: the cheap filter drops the clean bulk, only flagged docs reach
  * the positioned-gram join here.
  *
  * Vehicle: [[BatchSink.epochParquet]] running the SAME
  * `Pipeline.spanScreen` plan as batch C87 (union-of-batches ≡ batch
  * spans is spec-pinned).
  */
object SpanGateStream {

  /** Start the gate: screens `docs` (doc_id, source, text) micro-batches,
    * appends per-span rows (doc_id, span_id, start_tok, end_tok,
    * n_gram_hits, tokens_excised, batch_id) under `targetDir`. */
  def gate(docs: DataFrame, benchGrams: DataFrame,
           targetDir: String, checkpointDir: String,
           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(docs, targetDir, checkpointDir, trigger)(
      graft.operators.Pipeline.spanScreen(_, benchGrams))
}
