package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D19: streaming vector→codebook assignment — C62's SERVING shape: the
  * codebook is trained batch-side (`EmbeddingOps.kmeansCentroids`, last
  * night's Lloyd refinement) and FROZEN; incoming embeddings are assigned
  * to their nearest centroid per micro-batch — the continuous-ingest path
  * of an IVF-style ANN index (new vectors must land in a cell before they
  * are searchable; C13/C56 search what this writes).
  *
  * Stateless by construction (the D16/D18 pattern): the broadcast
  * centroid set is a static relation, the map-side struct-MIN argmin
  * completes inside each micro-batch, and no state store entry outlives
  * the batch — unlike a streaming re-TRAINING loop, which would need
  * cross-batch centroid state (production retrains batch-side and swaps
  * the codebook, exactly as modeled here). Vehicle:
  * [[BatchSink.epochParquet]] (idempotent per-epoch writes) running the
  * SAME `kmAssign` plan as batch C62; two-batch union ≡ batch C62's
  * assignment is spec-pinned. */
object EmbedStream {

  /** Continuous assignment of an embedding stream (vec_id, embedding)
    * against a frozen centroid relation (cluster, c_emb). */
  def assign(vectors: DataFrame, cents: DataFrame, targetDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(vectors, targetDir, checkpointDir, trigger)(
      graft.operators.EmbeddingOps.kmAssign(_, cents))
}
