package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** D37-D39: the day-grain sketch store's STREAMING WRITERS — the "each
  * day's ingest leaves one fixed-size sketch behind" cadence (B55/B56's
  * deployment story, the reference's nightly scheduler analog,
  * /root/reference/app/api/scheduler_endpoints.py:19-70) executed as a
  * stream instead of a batch job, for all THREE day-grain families:
  * D37 qsketch_day (value quantiles), D38 cms_day (value-bucket
  * frequencies), D39 hll_day (distinct users).
  *
  * Each micro-batch carries one or more COMPLETE calendar days of events
  * (the daily-feed cadence ReplaySpec drives — the same contract as the
  * batch append: the swap REPLACES the day, which is also what makes a
  * restated day converge) and leaves behind exactly those days' sketch
  * rows via the [[graft.operators.SketchArtifacts]] per-day appends —
  * the replaceSlice write-new → rename publish — then re-stamps the
  * family's manifest ONCE per micro-batch (after the day loop, not per
  * day): a D-day batch costs D slice swaps plus ONE O(store) manifest
  * pass, and the verified-unreadable window (data ahead of manifest —
  * verified readers fail fast, never misread) opens once per batch
  * instead of once per day. BETWEEN batches the store is always fully
  * consistent for every geometry-checked consumer.
  *
  * Idempotence: `foreachBatch` is AT-LEAST-ONCE; a replayed epoch
  * recomputes the SAME day slices from the same batch rows, and the slice
  * swap replaces each day's directory with identical content — replay ≡
  * first write, and a streaming-built store is MANIFEST-EQUAL to the
  * batch [[graft.operators.SketchArtifacts.write]] (ReplaySpec pins all
  * three families through a dropped-commit-marker crash). The per-batch
  * day list is a bounded driver read (calendar days per batch, never
  * event rows).
  *
  * Scale: per batch the work is the day slices' own aggregation (fixed
  * distributive state per day) plus the single O(observed days) manifest
  * re-stamp. */
object SketchStoreStream {

  /** The shared day loop: split the batch into calendar days, append
    * each day's slice without re-stamping, then re-stamp once. */
  private def dayGrain(events: DataFrame, checkpointDir: String,
      trigger: Trigger,
      appendDay: (DataFrame, Long) => Unit,
      restamp: org.apache.spark.sql.SparkSession => Unit): StreamingQuery =
    BatchSink.start(events, checkpointDir, trigger, "append") { (batch, _) =>
      val days = batch.select(expr("ts div 86400000000000").as("d"))
        .distinct().collect().map(_.getLong(0)).sorted
      days.foreach { d =>
        appendDay(batch.filter(expr("ts div 86400000000000") === lit(d)), d)
      }
      if (days.nonEmpty) restamp(batch.sparkSession)
    }

  /** D37: append each micro-batch's calendar days to the qsketch_day
    * store at `root`. Input needs (ts: long nanos, value: double). */
  def qsketchDaily(events: DataFrame, root: String, checkpointDir: String,
      s: Int = graft.functions.Kernels.QSketchS,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    dayGrain(events, checkpointDir, trigger,
      (slice, d) => graft.operators.SketchArtifacts.appendQsketchDay(
        slice.sparkSession, root, d, slice, s, restamp = false),
      sp => graft.operators.SketchArtifacts.restampQsketchDays(sp, root, s))

  /** D38: the cms_day family's writer. Input needs (ts, value). */
  def cmsDaily(events: DataFrame, root: String, checkpointDir: String,
      depth: Int = graft.operators.Sketches.WeekCmsDepth,
      width: Int = graft.operators.Sketches.WeekCmsWidth,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    dayGrain(events, checkpointDir, trigger,
      (slice, d) => graft.operators.SketchArtifacts.appendCmsDay(
        slice.sparkSession, root, d, slice, depth, width, restamp = false),
      sp => graft.operators.SketchArtifacts.restampCmsDays(sp, root,
        depth, width))

  /** D39: the hll_day family's writer. Input needs (ts, user_id). */
  def hllDaily(events: DataFrame, root: String, checkpointDir: String,
      m: Int = graft.operators.Sketches.WeekHllM,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    dayGrain(events, checkpointDir, trigger,
      (slice, d) => graft.operators.SketchArtifacts.appendHllDay(
        slice.sparkSession, root, d, slice, m, restamp = false),
      sp => graft.operators.SketchArtifacts.restampHllDays(sp, root, m))
}
