package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D29: streaming second-moment monitor — C88's embedding-covariance audit
  * run continuously over an arriving embedding stream (the online detector
  * for an encoder regression that collapses or rotates dimensions
  * mid-ingest, the cross-dim sibling of D22's histogram drift monitor).
  *
  * The quantized Gram grid is ADDITIVE over disjoint row sets (every cell
  * an exact long sum), so the gate is STATELESS: each micro-batch emits its
  * own 2080-row grid, and the running covariance at any horizon is the
  * cellwise sum of the persisted epoch grids — an O(epochs · 2080)-row
  * read that never touches the vectors again. No state store entry
  * outlives a batch; the heavy lifting is the same 33 KiB-state
  * distributive aggregate the batch audit uses.
  *
  * Vehicle: [[BatchSink.epochParquet]] running the SAME
  * `EmbeddingOps.gramGrid` plan as batch C88 (cellwise sum of epoch grids
  * ≡ batch grid is spec-pinned, exact integers).
  */
object GramStream {

  /** Start the monitor: each micro-batch of `embeds` (needs an `embedding`
    * Array[Float] column) appends its grid (dim_i, dim_j, s_prod, s_i,
    * s_j, n_vecs, batch_id) under `targetDir`. */
  def monitor(embeds: DataFrame, targetDir: String, checkpointDir: String,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(embeds, targetDir, checkpointDir, trigger)(
      graft.operators.EmbeddingOps.gramGrid)
}
