package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D34: streaming span-mask planning — C106 in its INCREMENTAL deployment:
  * arriving documents (a crawl feed) are checked per micro-batch against
  * the FROZEN dup-span index built from the standing corpus (C73's
  * span_hash relation — a static side, like D27's Bloom filter and D28's
  * gram set), and every hit is emitted as a loss-mask coordinate row. No
  * keeper election happens in-stream: the canonical occurrence already
  * lives in the STANDING corpus the index was built from, so every
  * arriving occurrence is maskable — C58's batch-vs-index triage applied
  * at span granularity. Index refresh is a batch rebuild + swap (the D19
  * codebook device). STATELESS: a document arrives whole inside one
  * micro-batch and the join side is frozen, so nothing outlives a batch.
  *
  * A deployment chains this AFTER D27's Bloom gate and D28's
  * decontamination gate: exact-substring masking is the cheapest of the
  * three text screens per row but the only one needing the span index
  * resident, so the cheap gates shed volume first.
  *
  * Vehicle: [[BatchSink.epochParquet]] running the SAME
  * `DedupOps.spanMaskAgainst` plan as batch C106's incremental form
  * (union-of-batches ≡ one batch run over the whole feed is spec-pinned,
  * as is the self-indexed reconciliation against C106 + C79).
  */
object MaskStream {

  /** Start the planner: screens `docs` (doc_id, text) micro-batches
    * against `spanIndex` (1 column `span_hash`), appends mask rows
    * (doc_id, span_start, span_tokens, span_hash, batch_id) under
    * `targetDir`. */
  def plan(docs: DataFrame, spanIndex: DataFrame,
           targetDir: String, checkpointDir: String,
           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(docs, targetDir, checkpointDir, trigger)(
      graft.operators.DedupOps.spanMaskAgainst(_, spanIndex))

  /** D35: streaming twin of C108 — the per-source masking ACCOUNTING
    * maintained continuously: each micro-batch of (doc_id, source, text)
    * rows is run through D34's mask semantics + C107's interval merge
    * (all batch-local — docs arrive whole, the index side is frozen) and
    * lands as a per-epoch grid of PLAIN ADDITIVE COUNTERS (docs,
    * affected docs, token mass, exactly-merged masked mass — no shares;
    * ratios are not mergeable, the consumer divides after summing, the
    * D29/D31 convention). The running read `SUM(...) GROUP BY source`
    * over the sink answers "which feed is shipping us boilerplate spans
    * TODAY" while the batch C108 report is a day away. Idempotent
    * per-epoch writes through [[BatchSink.epochParquet]]. */
  def runningDatasheet(docs: DataFrame, spanIndex: DataFrame,
           targetDir: String, checkpointDir: String,
           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(docs, targetDir, checkpointDir, trigger)(
      graft.operators.DedupOps.maskDatasheetAgainst(_, spanIndex))
}
