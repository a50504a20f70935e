package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D40: the persisted ANN index store's STREAMING MAINTAINER (round 13 —
  * the D37-D39 day-grain writer device applied to the vector index,
  * closing the loop the batch [[graft.operators.AnnArtifacts.appendDay]]
  * opened): each micro-batch carries one or more COMPLETE ingest days of
  * admitted vectors (ingest_day, vec_id, label, embedding — an admission
  * pipeline knows each vector's ingest day; the appendDay contract holds,
  * an admitted vector is a NEW vector) and appends each day's slice to
  * the three per-vector relations via the PERSISTED FROZEN quantizer —
  * an O(day) norm/assign/code pass plus one slice swap per family, the
  * standing corpus never re-read, the quantizer never retrained (C117's
  * code-usage panel says when a retrain — a full rebuild, not an append —
  * is due).
  *
  * Manifest cadence: the canonical re-stamp runs ONCE per micro-batch
  * (after the day loop, `restamp = false` per day) — a D-day batch costs
  * D slice swaps plus ONE O(index) digest pass per family, and the
  * verified-unreadable window opens once per batch, never silently
  * (readers fail fast on data-ahead-of-manifest). BETWEEN batches the
  * store is fully consistent for every geometry-checked consumer,
  * including D32's serve path.
  *
  * Idempotence: `foreachBatch` is AT-LEAST-ONCE; a replayed epoch
  * recomputes the same day slices from the same batch rows against the
  * SAME frozen quantizer and the slice swap replaces each day's
  * directory with identical content — replay ≡ first write, and a
  * streaming-built store is MANIFEST-EQUAL to the one-pass
  * frozen-quantizer rebuild over the union (ReplaySpec pins it through a
  * dropped-commit-marker crash). The per-batch day list is a bounded
  * driver read (distinct ingest days, never vector rows).
  *
  * Compaction cadence (round 14): after the per-batch re-stamp, the
  * epilogue runs [[graft.operators.AnnArtifacts.compactIfNeeded]] — an
  * FS-listing decision (free below the threshold) that merges the day
  * log back to one slice whenever it outgrows `maxSlices`. foreachBatch
  * is the single writer, so the policy is serialized with appends by
  * construction (the compactSlices concurrency contract); a crash inside
  * compaction is repaired by the next batch's epilogue (the compactSlices
  * recovery contract). The batch's MIN day is passed as the replay
  * horizon: a dropped commit replays exactly this epoch's days, and a
  * replayed appendDay REPLACES its slice — so the merged slice must keep
  * a label strictly below anything this epoch could re-append, or the
  * replay would overwrite the merged history. With the horizon in place
  * the canonical digest stays invariant and replay ≡ first write holds
  * through a compaction. */
object AnnStoreStream {

  /** Append each micro-batch's ingest days to the ANN store at `root`.
    * Input needs (ingest_day: long, vec_id: long, label: int,
    * embedding: array&lt;float&gt;). */
  def daily(vectors: DataFrame, root: String, checkpointDir: String,
      k: Int = graft.operators.EmbeddingOps.IvfK,
      pqK: Int = graft.operators.EmbeddingOps.PqK,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSlices: Int = graft.operators.SliceLog.DefaultMaxSlices)
      : StreamingQuery =
    BatchSink.start(vectors, checkpointDir, trigger, "append") { (batch, _) =>
      // recovery prologue: a crash inside the previous epoch's
      // compaction can leave a stranded publish — repair it before
      // appendDay's handshake would fail fast (a missing manifest is
      // NOT repairable: half-built store, recover() fails by design)
      graft.operators.AnnArtifacts.recover(batch.sparkSession, root): Unit
      val days = batch.select("ingest_day").distinct()
        .collect().map(_.getLong(0)).sorted
      days.foreach { d =>
        graft.operators.AnnArtifacts.appendDay(batch.sparkSession, root, d,
          batch.filter(col("ingest_day") === lit(d))
            .select("vec_id", "label", "embedding"),
          k, pqK, restamp = false)
      }
      if (days.nonEmpty) {
        graft.operators.AnnArtifacts.restamp(batch.sparkSession, root,
          k, pqK)
        graft.operators.AnnArtifacts.compactIfNeeded(batch.sparkSession,
          root, maxSlices, protectFrom = days.min): Unit
      }
    }
}
