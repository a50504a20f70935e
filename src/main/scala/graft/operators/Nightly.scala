package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The COMPOSED nightly store-maintenance run — the reference's
  * `_run_complete_etl` analog at the store layer
  * (/root/reference/app/api/scheduler_endpoints.py:184-199: one scheduled
  * entrypoint that runs every load step and returns a per-step summary).
  * Round 14: the pieces all existed (D37-D39 sketch day writers, the
  * stream-gate appendDay, the ANN appendDay, the compaction cadence
  * policy) — this is the ONE entrypoint a deployment actually schedules,
  * running them over a single ingest day and emitting the A15-style
  * per-step report row the morning operator reads.
  *
  * Concurrency contract: serial order is PER FAMILY. The three stores
  * share no directory, so after the recovery prologue their chains run
  * concurrently ([[DedupArtifacts.concurrently]]), and inside the stream
  * and ANN stores the families append, re-stamp and compact concurrently
  * too (one [[SliceLog]] policy for both).
  * Within one store the chain keeps its order — append, re-stamp, then
  * the compaction policy — exactly the serialization
  * [[DedupArtifacts.compactSlices]] requires (a slice landing mid-compact
  * would be dropped by the whole-family swap). Every chain finishes
  * before runDay returns or throws, so a failed night leaves no write
  * running behind it and a replay starts from a quiet store.
  *
  * Replay-idempotent end to end: a re-run of the same day replaces each
  * slice with identical content (the replaceSlice publish), re-stamps the
  * same canonical digests, and the compaction policy — fed the day as its
  * replay horizon — never merges a slice the replay will re-append, so
  * stores after run-twice ≡ run-once (spec-pinned through a simulated
  * crash at every step boundary). The [[StreamArtifacts.recover]] /
  * [[AnnArtifacts.recover]] prologue repairs the one writer-crash state
  * a previous run can leave (a stranded mid-publish rename) before any
  * append's geometry handshake would fail fast on it; a MISSING
  * manifest is unrepairable by design (round 15 — the manifest travels
  * with compaction's publish, so absence means a half-built store and
  * the prologue fails rather than blessing it). An EMPTY day frame is
  * guarded per store: the append is skipped (an all-empty slice would
  * write a schemaless parquet dir the canonical re-read cannot open)
  * and the step row reports n_entrada=0 / ok=false.
  *
  * Scale: each step is O(day), never O(corpus) — the sketch appends
  * aggregate the day's events to fixed-size register rows, the index
  * appends signature/assign only the day's docs/vectors through frozen
  * models, the compaction decision is an FS listing (free on "no"
  * nights), and a fired compaction is the measured O(index) canonical
  * rewrite (SCALING_r13.md). The report is driver-assembled from counts
  * the steps already paid for — ≤ 8 rows, never a fact relation. */
object Nightly {

  /** One report row: (paso, componente, accion, n_entrada, n_filas,
    * n_slices). */
  private type Step = (Long, String, String, Long, Long, Long)

  /** One ingest day's maintenance across all three persisted stores.
    * `dayEvents` needs (ts, value, user_id); `dayDocs` (doc_id, text,
    * source) are the day's ADMITTED docs (NEW ids — the appendDay
    * contract); `dayVectors` (vec_id, label, embedding) likewise.
    * Returns the per-step report: (paso, componente, accion, n_entrada,
    * n_filas, n_slices, ok) + the total row — integer counts and count
    * comparisons only (the A15 exactness convention). */
  def runDay(spark: SparkSession, dayEpoch: Long,
      sketchRoot: String, streamRoot: String, annRoot: String,
      dayEvents: DataFrame, dayDocs: DataFrame, dayVectors: DataFrame,
      maxSlices: Int = SliceLog.DefaultMaxSlices): DataFrame = {

    // ---- recovery prologue (crashed previous run → consistent store)
    StreamArtifacts.recover(spark, streamRoot): Unit
    AnnArtifacts.recover(spark, annRoot): Unit

    // the landed slice's rows, summed from its parquet footers (no job)
    def sliceRows(root: String, family: String, partCol: String): Long =
      graft.sources.Tables.footerRows(spark,
        s"$root/$family/$partCol=$dayEpoch")
    def maxSliceCount(root: String, families: Seq[String],
        partCol: String): Long =
      families.map(f =>
        DedupArtifacts.sliceDays(spark, s"$root/$f", partCol).length)
        .max.toLong

    // EMPTY-DAY GUARD (round 15, the advisor's finding): an all-empty
    // day frame must SKIP its append — an empty slice writes a
    // schemaless parquet directory the canonical re-read cannot open —
    // and surface as an ok=false step row (n_entrada=0, no rows landed)
    // instead of poisoning the store on a quiet night.

    // ---- step 1-3: the day-grain sketch families (D37-D39's batch body)
    def sketchChain(): Seq[Step] = {
      val nEvents = dayEvents.count()
      if (nEvents > 0L) {
        SketchArtifacts.appendQsketchDay(spark, sketchRoot, dayEpoch, dayEvents)
        SketchArtifacts.appendCmsDay(spark, sketchRoot, dayEpoch, dayEvents)
        SketchArtifacts.appendHllDay(spark, sketchRoot, dayEpoch, dayEvents)
      }
      SketchArtifacts.DayFamilies.zipWithIndex
        .map { case (f, i) =>
          (i + 1L, f, "append", nEvents,
            if (nEvents > 0L) sliceRows(sketchRoot, f, "day_epoch") else 0L,
            DedupArtifacts.sliceDays(spark, s"$sketchRoot/$f", "day_epoch")
              .length.toLong)
        }
    }

    // ---- step 4/6 and 5/7: an index store's append, then its compaction
    // cadence (replay horizon = this day: a replayed runDay re-appends
    // dayEpoch, so the merged slice must keep a label strictly below it)
    def indexChain(paso: Long, component: String, root: String,
        families: Seq[String], day: DataFrame, append: => Unit,
        compactIfNeeded: => Boolean): Seq[Step] = {
      val n = day.count()
      if (n > 0L) append
      val landed =
        if (n > 0L) families.map(sliceRows(root, _, "ingest_day")).sum
        else 0L
      val before = maxSliceCount(root, families, "ingest_day")
      val fired = compactIfNeeded
      Seq((paso, component, "append", n, landed, before),
        (paso + 2L, component, if (fired) "compact" else "compact_noop",
          before, 0L, maxSliceCount(root, families, "ingest_day")))
    }
    // the stream-gate index (D18/D24/D34's standing state)
    def streamChain(): Seq[Step] =
      indexChain(4L, "stream_index", streamRoot, StreamArtifacts.Families,
        dayDocs, StreamArtifacts.appendDay(spark, streamRoot, dayEpoch, dayDocs),
        StreamArtifacts.compactIfNeeded(spark, streamRoot, maxSlices,
          protectFrom = dayEpoch))
    // the ANN index (D40's batch body)
    def annChain(): Seq[Step] =
      indexChain(5L, "ann_index", annRoot, AnnArtifacts.VectorFamilies,
        dayVectors, AnnArtifacts.appendDay(spark, annRoot, dayEpoch, dayVectors),
        AnnArtifacts.compactIfNeeded(spark, annRoot, maxSlices,
          protectFrom = dayEpoch))

    val stepRows = DedupArtifacts.concurrently(
      Seq(() => sketchChain(), () => streamChain(), () => annChain())).flatten

    // ---- the A15-style report: per-step rows + the total row the
    // scheduler response summarizes (paso_ok = the step landed rows;
    // compact rows are policy outcomes, not failure modes)
    val sp = spark
    import sp.implicits._
    val steps = stepRows
      .toDF("paso", "componente", "accion", "n_entrada", "n_filas",
        "n_slices")
      .withColumn("ok",
        col("accion") =!= "append" || col("n_filas") > 0)
    val total = steps.agg(sum("n_entrada").as("n_entrada"),
        sum("n_filas").as("n_filas"), max("n_slices").as("n_slices"),
        bool_and(col("ok")).as("ok"))
      .select(lit(8L).as("paso"), lit("total").as("componente"),
        lit("resumen").as("accion"), col("n_entrada"), col("n_filas"),
        col("n_slices"), col("ok"))
    steps.unionByName(total).orderBy("paso")
  }

  /** The schedulable driver main — builds the three stores from a source
    * dir when absent (first night), then runs [[runDay]] over one
    * simulated ingest day (the [[graft.sources.Feeds]] incoming slices
    * under fresh ids) and prints the report. Args: source dir (default
    * sf0.001) and a work root (default a temp dir). */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-nightly-").toString)
    val spark = graft.GraftSession.builder("local[*]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (sketchRoot, streamRoot, annRoot) =
      (s"$work/sketch", s"$work/stream", s"$work/ann")
    // Hadoop FS, not java.io.File — the work root is a URI-addressed
    // store path (object storage in production), not a local directory
    val probe = new org.apache.hadoop.fs.Path(s"$sketchRoot/qsketch_day")
    val fs = probe.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(probe)) {
      SketchArtifacts.write(spark, dir, sketchRoot)
      StreamArtifacts.write(spark, dir, streamRoot)
      AnnArtifacts.write(spark, dir, annRoot)
    }
    val day = 9500L
    val dayEvents = graft.sources.Tables.events(spark, dir)
      .limit(1000)
      .select((lit(day) * 86400000000000L + col("ts") % 86400000000000L)
        .as("ts"), col("value"), col("user_id"))
    val dayDocs = graft.sources.Feeds.incomingDocs(spark, dir)
      .select((col("doc_id") + 70000000000L).as("doc_id"), col("text"),
        col("source"))
    val dayVectors = graft.sources.Tables.embeddings(spark, dir)
      .limit(500)
      .select((col("vec_id") + 70000000000L).as("vec_id"), col("label"),
        col("embedding"))
    runDay(spark, day, sketchRoot, streamRoot, annRoot,
      dayEvents, dayDocs, dayVectors).show(20, truncate = false)
    spark.stop()
  }
}
