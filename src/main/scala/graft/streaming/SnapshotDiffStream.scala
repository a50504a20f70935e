package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D30: streaming crawl-refresh diff — C83's differ in its ARRIVAL shape:
  * each micro-batch of re-crawled pages is classified added / changed /
  * unchanged against the FROZEN standing-corpus signature relation
  * ([[graft.operators.Pipeline.snapshotSig]] of yesterday's corpus — in
  * production the persisted signature index, passed in as a static
  * relation). "Removed" is deliberately absent: a page's disappearance is
  * unobservable from an arrival stream (absence is only decidable once the
  * crawl finishes), so the retrospective removed count stays batch C83's
  * job — the stream answers "how much of what HAS arrived is new/churned",
  * which is what an operator watches mid-crawl.
  *
  * Stateless by construction (the D16/D18/D19 pattern): every verdict
  * completes inside its micro-batch via one id-keyed join of fixed-width
  * signature rows against the static relation; no state store entry
  * outlives the batch, and the per-source counters are ADDITIVE over any
  * micro-batch split (spec-pinned against batch C83's observed columns).
  *
  * Idempotent per-epoch writes through [[BatchSink.epochParquet]]. */
object SnapshotDiffStream {

  /** Continuous observed-diff of an arriving page stream (doc_id, source,
    * text) against a frozen (doc_id, source, h, len) signature relation. */
  def diff(pages: DataFrame, oldSigs: DataFrame, targetDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(pages, targetDir, checkpointDir, trigger)(
      graft.operators.Pipeline.snapshotDiffObserved(_, oldSigs))
}
