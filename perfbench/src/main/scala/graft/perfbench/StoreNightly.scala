package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Corpus
import graft.operators.{AnnArtifacts, EmbeddingOps, Nightly, SketchArtifacts, StreamArtifacts}
import graft.sources.{Feeds, Tables}

/** `store_nightly` — maintenance of the persisted stores. Set-up builds the
  * sketch, stream-gate and ANN stores from the base corpus; then simulated
  * nights each admit the day's crawl through curation and run
  * [[Nightly.runDay]] (appends, cadence-gated compaction, re-stamps); then
  * the store-fed consumers are read, cycled. The only workload where the
  * write path, manifest re-stamps, compaction and verified reads dominate. */
object StoreNightly {
  /** Low enough that the second night compacts: the run sees one night
    * without compaction and one with it. */
  val MaxSlices = 1
  val FirstDay = 19800L

  final case class Roots(base: String, sketch: String, stream: String, ann: String)

  val reads: Seq[(String, String, (SparkSession, Roots) => DataFrame)] = Seq(
    ("StreamArtifacts", "streamIndexStats", (s, r) => StreamArtifacts.streamIndexStats(s, r.stream)),
    ("AnnArtifacts", "annServe", (s, r) => AnnArtifacts.annServe(s, r.base, r.ann)),
    ("AnnArtifacts", "annIvf", (s, r) => AnnArtifacts.annIvf(s, r.ann)),
    ("AnnArtifacts", "annPqAdc", (s, r) => AnnArtifacts.annPqAdc(s, r.ann)),
    ("SketchArtifacts", "hllWeekEstimates", (s, r) => SketchArtifacts.hllWeekEstimates(s, r.sketch)),
    ("SketchArtifacts", "cmsWeekEstimates", (s, r) => SketchArtifacts.cmsWeekEstimates(s, r.sketch)),
    ("SketchArtifacts", "qsketchWeekEstimates", (s, r) => SketchArtifacts.qsketchWeekEstimates(s, r.sketch)))

  private final case class Night(dir: String, span: Span, curate: Span,
      runDay: Span, compacted: Boolean, docs: Seq[Row], slicesMax: Long)

  def run(ctx: Ctx): Outcome = {
    val base = s"${ctx.in}/base"
    val (spark, sessionS) = Setup.session(ctx)(s => Tables.documents(s, base).head(1): Unit)
    val r = Roots(base, s"${ctx.work}/sketch", s"${ctx.work}/stream", s"${ctx.work}/ann")
    val tr = new Tracer(spark, ctx.traced)
    val problems = ArrayBuffer[String]()
    var attempted = 0
    def call[A](layer: String, name: String)(body: => A): A = {
      attempted += 1
      tr.call(layer, name)(body)
    }

    // ---- set-up, continued: the initial store build
    call("SketchArtifacts", "write")(SketchArtifacts.write(spark, base, r.sketch))
    call("StreamArtifacts", "write")(StreamArtifacts.write(spark, base, r.stream))
    call("AnnArtifacts", "write")(AnnArtifacts.write(spark, base, r.ann))
    val builds = tr.spans.toSeq

    // ---- the nights, one per generated day slice
    val nNights = ctx.inputs.keys.count(k => k.startsWith("night") && k.endsWith("/events"))
    val nights = (0 until nNights).map { n =>
      val dir = f"${ctx.in}/night$n%02d"
      val (admitted, report) = tr.span("Nightly", "night") {
        val admitted = call("Pipeline", "curate") {
          Corpus.curate(spark, dir)
            .select(col("doc_id"), col("texto_limpio").as("text"), col("source"))
            .collect().toSeq
        }
        val dayDocs = spark.createDataFrame(
          java.util.Arrays.asList(admitted: _*), admitted.head.schema)
        (admitted, call("Nightly", "runDay") {
          Nightly.runDay(spark, FirstDay + n, r.sketch, r.stream, r.ann,
            Tables.events(spark, dir).select("ts", "value", "user_id"),
            dayDocs, Tables.embeddings(spark, dir), MaxSlices).collect()
        })
      }
      val night = tr.spans.last
      val Seq(curate, runDay) = tr.spans.filter(_.parent == night.id).toSeq
      problems ++= Checks.nightOk(report.map(x => (x.getLong(0), x.getBoolean(6))).toSeq)
      Night(dir, night, curate, runDay, report.exists(_.getString(2) == "compact"),
        admitted, report.map(_.getLong(5)).max)
    }
    if (!nights.exists(_.compacted))
      problems += s"no night compacted at maxSlices=$MaxSlices"

    // ---- the store-fed consumers, cycled
    val fps = new Fingerprints
    val (firstSample, overhead) = ReadCycles.run(ctx, tr) {
      reads.foreach { case (layer, name, f) =>
        problems ++= fps.check(name, call(layer, name)(f(spark, r).collect()))
      }
    }
    val readSpans = tr.spans.drop(firstSample).filter(s => reads.exists(_._2 == s.name)).toSeq
    val nightInputs = nights.indices.map(n =>
      Seq("events", "documents", "embeddings").map(t => f"night$n%02d/$t"))

    val values =
      if (!ctx.traced) {
        val walls = nights.map(_.span.ms / 1000)
        val rowsIn = nightInputs.flatten.map(ctx.rows).sum.toDouble
        val bytesIn = (Seq("documents", "embeddings", "events", "orders")
          .map(t => s"base/$t") ++ nightInputs.flatten).map(ctx.bytes).sum
        Map(
          "setup_s" -> (ctx.jvmSeconds + sessionS + builds.map(_.ms).sum / 1000),
          "sync_run_s" -> Stats.median(walls),
          "rows_per_s" -> rowsIn / walls.sum,
          "report_p50_ms" -> Stats.median(readSpans.map(_.ms)),
          "store_bytes_per_input_byte" ->
            Seq(r.sketch, r.stream, r.ann).map(Stats.dirBytes).sum.toDouble / bytesIn)
      } else {
        call("Artifacts", "recover") {
          StreamArtifacts.recover(spark, r.stream); AnnArtifacts.recover(spark, r.ann)
        }
        val recover = tr.spans.last
        problems ++= rebuildMatches(spark, r, nights.map(n => (n.dir, n.docs)),
          s"${ctx.work}/rebuild")
        val (kernels, kernelProblems) = KernelTimings.run(spark, base)
        problems ++= kernelProblems
        val traced = readSpans.filter(_.stats != null)
        Layers.engine(nights.flatMap(n => Seq(n.curate, n.runDay)) ++ traced) ++
          Layers.tables(nights.flatMap(n => Seq(n.curate, n.runDay)), nNights) ++
          kernels ++ nightLayers(nights, nightInputs.map(_.map(ctx.bytes).sum)) ++ Map(
            "Pipeline.curate_ms" -> Stats.median(nights.map(_.curate.ms)),
            "Pipeline.admit_frac" -> nights.map(_.docs.size).sum.toDouble /
              nights.indices.map(n => ctx.rows(f"night$n%02d/documents")).sum,
            "Artifacts.recover_ms" -> recover.ms,
            "SketchArtifacts.read_ms" -> readMs(traced, "SketchArtifacts"),
            "StreamArtifacts.read_ms" -> readMs(traced, "StreamArtifacts"),
            "AnnArtifacts.read_ms" -> readMs(traced, "AnnArtifacts"),
            "trace_overhead_frac" -> overhead) ++
          builds.map(b => s"${b.layer}.build_s" -> b.ms / 1000)
      }
    tr.writeSpans(java.nio.file.Paths.get(ctx.traceOut))
    Outcome(values, attempted, problems.toSeq)
  }

  /** The call sites a night's maintenance work runs under. */
  private val StoreSteps = Seq("SketchArtifacts.", "StreamArtifacts.",
    "AnnArtifacts.", "DedupArtifacts.", "Artifacts.", "Nightly", "Etl.replaceSlice")

  private def readMs(spans: Seq[Span], layer: String): Double =
    Stats.median(spans.filter(_.layer == layer).map(_.ms))

  /** Per-step times inside [[Nightly.runDay]], attributed by the call site
    * Spark records on each stage (the benchmark cannot wrap the steps). */
  private def nightLayers(nights: Seq[Night], inputBytes: Seq[Long]): Map[String, Double] = {
    def steps(n: Night) = n.runDay.stats.stageRecs.toSeq.map(s =>
      (Trace.stageStep(s.frames, "Nightly.runDay"), s))
    def stepMs(n: Night, p: String => Boolean) = Trace.covered(
      steps(n).collect { case (st, s) if p(st) => (s.startMs.toDouble, s.endMs.toDouble) },
      n.runDay.startMs, n.runDay.endMs)
    def perNight(ns: Seq[Night])(f: Night => Double) =
      if (ns.isEmpty) 0.0 else Stats.median(ns.map(f))
    val compacting = nights.filter(_.compacted)
    Map(
      "Nightly.night_s" -> perNight(nights.filterNot(_.compacted))(_.span.ms / 1000),
      "Nightly.compact_night_s" -> perNight(compacting)(_.span.ms / 1000),
      "Nightly.attributed_frac" -> perNight(nights)(n =>
        stepMs(n, st => StoreSteps.exists(st.startsWith)) / n.runDay.ms),
      "SketchArtifacts.append_ms" -> perNight(nights)(stepMs(_, _.startsWith("SketchArtifacts.append"))),
      "StreamArtifacts.append_ms" -> perNight(nights)(stepMs(_, _ == "StreamArtifacts.appendDay")),
      "AnnArtifacts.append_ms" -> perNight(nights)(stepMs(_, _ == "AnnArtifacts.appendDay")),
      "Artifacts.restamp_ms" -> perNight(nights)(stepMs(_, _ == "Artifacts.restamp")),
      "StreamArtifacts.compact_ms" -> perNight(compacting)(stepMs(_, _ == "StreamArtifacts.compactIfNeeded")),
      "AnnArtifacts.compact_ms" -> perNight(compacting)(stepMs(_, _ == "AnnArtifacts.compactIfNeeded")),
      "Artifacts.rewrite_mb" -> perNight(compacting)(n => Layers.mb(steps(n).collect {
        case (st, s) if st.endsWith(".compactIfNeeded") => s.bytesWritten.toDouble }.sum)),
      "Artifacts.write_amp" -> Stats.median(nights.zip(inputBytes).map { case (n, b) =>
        steps(n).map(_._2.bytesWritten).sum.toDouble / b }),
      "Artifacts.slices_max" -> nights.map(_.slicesMax).max.toDouble)
  }

  /** The store after the nights equals a single-pass rebuild over the same
    * days (base corpus plus every night's admitted docs, vectors and
    * events), compared through the verified readers. */
  private def rebuildMatches(spark: SparkSession, r: Roots,
      days: Seq[(String, Seq[Row])], out: String): Seq[String] = {
    val docs = Tables.documents(spark, r.base).select("doc_id", "text", "source")
    val dayDocs = days.map { case (_, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
    }.reduce(_ unionByName _)
    StreamArtifacts.writeFrom(spark,
      docs.filter(col("doc_id") % Feeds.IncrMod =!= Feeds.IncrRem).unionByName(dayDocs),
      docs.unionByName(dayDocs), s"$out/stream")
    val dayVecs = days.map { case (dir, _) => EmbeddingOps.vectors(spark, dir) }
      .reduce(_ unionByName _)
    AnnArtifacts.writeFrom(spark, EmbeddingOps.vectors(spark, r.base).unionByName(dayVecs),
      AnnArtifacts.centroids(spark, r.ann), AnnArtifacts.pqCodebook(spark, r.ann), s"$out/ann")
    val union = s"$out/tables"
    (Tables.events(spark, r.base) +: days.map { case (dir, _) => Tables.events(spark, dir) })
      .reduce(_ unionByName _).write.parquet(s"$union/events.parquet")
    Seq("orders", "customer").foreach(t =>
      spark.read.parquet(s"${r.base}/$t.parquet").write.parquet(s"$union/$t.parquet"))
    SketchArtifacts.write(spark, union, s"$out/sketch")
    // (family, store, verified reader)
    val views: Seq[(String, String, String => DataFrame)] = Seq(
      ("incr_hash", "stream", StreamArtifacts.incrHash(spark, _)),
      ("incr_sigs", "stream", StreamArtifacts.incrSigs(spark, _)),
      ("gram_index", "stream", StreamArtifacts.gramIndex(spark, _)),
      ("span_index", "stream", StreamArtifacts.spanIndex(spark, _)),
      ("flat", "ann", AnnArtifacts.flat(spark, _)),
      ("ivf_cells", "ann", AnnArtifacts.cells(spark, _)),
      ("pq_codes", "ann", AnnArtifacts.pqCodes(spark, _)),
      ("qsketch_day", "sketch", SketchArtifacts.qsketchDays(spark, _)),
      ("cms_day", "sketch", SketchArtifacts.cmsDays(spark, _)),
      ("hll_day", "sketch", SketchArtifacts.hllDays(spark, _)))
    val maintained = Map("stream" -> r.stream, "ann" -> r.ann, "sketch" -> r.sketch)
    views.flatMap { case (family, store, read) =>
      val a = Checks.fingerprint(read(maintained(store)).collect())
      val b = Checks.fingerprint(read(s"$out/$store").collect())
      Option.when(a != b)(s"$family: nightly-maintained store differs from a single-pass rebuild")
    }
  }
}
