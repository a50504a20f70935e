package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming._

/** MULTI-DAY REPLAY INTEGRATION (round-10): the daily capstones and the
  * frozen-model streaming gates are each proven on one batch/epoch
  * elsewhere; this suite composes a simulated 7-DAY TIMELINE — one feed
  * slice per day, each day its own stream run against the SAME checkpoint
  * (so state and offsets survive every day boundary), day-partitioned
  * idempotent sink writes (one batch_id partition per day), and ONE
  * mid-week crash-replay (day 4's commit marker dropped, the epoch
  * replayed at-least-once) — then reconciles the day-summed artifacts
  * against the whole-window batch run over the union feed. This is the
  * deployment cadence the D-components claim to support, executed: a
  * nightly job that dies on Wednesday and is rerun must leave the week's
  * artifacts byte-identical to a week that never crashed. */
class ReplaySpec extends SparkSpec {

  private val Days = 7
  private val CrashAfterDay = 4

  /** Split a feed into the week's daily arrivals (7 non-empty slices). */
  private def week[T](rows: Seq[T]): Seq[Seq[T]] = {
    val per = math.max(1, math.ceil(rows.size / Days.toDouble).toInt)
    val slices = rows.grouped(per).toSeq
    assert(slices.size == Days && slices.forall(_.nonEmpty),
      s"fixture too small for a $Days-day split: ${rows.size} rows")
    slices
  }

  /** Drive one gate through the week: day-by-day runs on one checkpoint,
    * crash-replay after day [[CrashAfterDay]], then the remaining days.
    * Returns the target path for reconciliation. */
  private def driveWeek[T](days: Seq[Seq[T]], in: MemoryStream[T],
      runOnce: () => Unit, ckpt: String): Unit = {
    days.zipWithIndex.foreach { case (day, i) =>
      in.addData(day: _*)
      runOnce()
      if (i + 1 == CrashAfterDay) {
        // Wednesday night's process died before committing — the rerun
        // replays the epoch; day-partitioned overwrite keeps it idempotent
        dropNewestCommit(ckpt)
        runOnce()
      }
    }
  }

  test("7-day replay: five frozen-model gates, week-sum == batch, crash mid-week") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    val docs = graft.sources.Tables.documents(sp, sf)

    // ---- D18: incremental dedup against the frozen standing index
    val standing = docs.filter(col("doc_id") % graft.sources.Feeds.IncrMod
      =!= graft.sources.Feeds.IncrRem)
    val (indexHash, coldSigs) =
      graft.operators.DedupOps.buildIncrementalIndex(sp, standing)
    val dedupFeed = graft.sources.Feeds.incomingDocs(sp, sf)
      .orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val d18Target = tmpDir("wk_d18") + "/verdicts"
    val d18Ckpt = tmpDir("wk_d18_ck")
    val d18In = MemoryStream[(Long, String)]
    driveWeek(week(dedupFeed), d18In,
      () => DedupStream.incremental(d18In.toDF().toDF("doc_id", "text"),
        indexHash, coldSigs, d18Target, d18Ckpt).awaitTermination(),
      d18Ckpt)

    // ---- D24: novelty gate against the frozen standing gram index
    val grams = graft.operators.Pipeline.standingGramIndex(sp, sf).cache()
    val novFeed = graft.sources.Feeds.incomingDocs(sp, sf)
      .orderBy("doc_id").select("source", "text")
      .as[(String, String)].collect().toSeq
    val d24Target = tmpDir("wk_d24") + "/novelty"
    val d24Ckpt = tmpDir("wk_d24_ck")
    val d24In = MemoryStream[(String, String)]
    driveWeek(week(novFeed), d24In,
      () => CorpusStream.noveltyGate(d24In.toDF().toDF("source", "text"),
        grams, d24Target, d24Ckpt).awaitTermination(),
      d24Ckpt)

    // ---- D27: bloom decontamination gate against the frozen filter
    val benchGrams = graft.operators.Pipeline.decontamGrams(
        graft.operators.Pipeline.decontamBaseOf(docs))
      .filter(col("doc_id") % graft.operators.Pipeline.BenchMod ===
        graft.operators.Pipeline.BenchRem)
      .select("gram").distinct().cache()
    val words = graft.operators.Pipeline.bloomBuild(benchGrams)
    val bloomFeed = docs
      .filter(col("doc_id") % graft.operators.Pipeline.BenchMod =!=
        graft.operators.Pipeline.BenchRem)
      .orderBy("doc_id").select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val d27Target = tmpDir("wk_d27") + "/verdicts"
    val d27Ckpt = tmpDir("wk_d27_ck")
    val d27In = MemoryStream[(Long, String, String)]
    driveWeek(week(bloomFeed), d27In,
      () => BloomGateStream.gate(
        d27In.toDF().toDF("doc_id", "source", "text"),
        benchGrams, words, d27Target, d27Ckpt).awaitTermination(),
      d27Ckpt)

    // ---- D30: snapshot diff against the frozen old-snapshot signatures
    val oldSigs = graft.operators.Pipeline.snapshotSig(docs).cache()
    val snapFeed = graft.sources.Feeds.recrawlSnapshot(sp, sf)
      .orderBy("doc_id").select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val d30Target = tmpDir("wk_d30") + "/diff"
    val d30Ckpt = tmpDir("wk_d30_ck")
    val d30In = MemoryStream[(Long, String, String)]
    driveWeek(week(snapFeed), d30In,
      () => SnapshotDiffStream.diff(
        d30In.toDF().toDF("doc_id", "source", "text"),
        oldSigs, d30Target, d30Ckpt).awaitTermination(),
      d30Ckpt)

    // ---- D34: span-mask plan against the frozen dup-span index
    val spanIndex = graft.operators.DedupOps.substrDupSpans(sp, sf)
      .select("span_hash").cache()
    val maskFeed = docs.orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val d34Target = tmpDir("wk_d34") + "/masks"
    val d34Ckpt = tmpDir("wk_d34_ck")
    val d34In = MemoryStream[(Long, String)]
    driveWeek(week(maskFeed), d34In,
      () => MaskStream.plan(d34In.toDF().toDF("doc_id", "text"),
        spanIndex, d34Target, d34Ckpt).awaitTermination(),
      d34Ckpt)

    // ---- reconciliation: 7 day partitions each, no duplicated epochs,
    // and the week's union/sums equal the whole-window batch runs
    for (t <- Seq(d18Target, d24Target, d27Target, d30Target, d34Target))
      assert(sp.read.parquet(t).select("batch_id").distinct()
        .count() == Days,
        s"$t: expected $Days day partitions (crash replay must not add one)")

    // D18: per-doc verdict union == batch C58
    val d18Week = sp.read.parquet(d18Target).drop("batch_id")
    val d18Batch = graft.operators.DedupOps.dedupIncremental(sp, sf)
    assert(d18Week.count() == d18Batch.count())
    assert(d18Week.except(d18Batch).count() == 0)
    assert(d18Batch.except(d18Week).count() == 0)

    // D24: day-summed novelty counters == batch C76
    val d24Week = sp.read.parquet(d24Target).groupBy("source").agg(
      sum("n_docs").as("n_docs"), sum("n_gram_occ").as("n_gram_occ"),
      sum("novel_occ").as("novel_occ"))
    val d24Batch = graft.operators.Pipeline.feedNovelty(sp, sf)
      .select("source", "n_docs", "n_gram_occ", "novel_occ")
    assert(d24Week.except(d24Batch).count() == 0)
    assert(d24Batch.except(d24Week).count() == 0)

    // D27: per-doc verdict union == batch C25
    val d27Week = sp.read.parquet(d27Target)
      .select("doc_id", "source", "n_hits", "contaminated")
    val d27Batch = graft.operators.Pipeline.corpusDecontaminate(sp, sf)
    assert(d27Week.count() == d27Batch.count())
    assert(d27Week.except(d27Batch).count() == 0)
    assert(d27Batch.except(d27Week).count() == 0)

    // D30: day-summed observed diff classes == batch C83
    val d30Week = sp.read.parquet(d30Target).groupBy("source").agg(
      sum("n_added").as("s_added"), sum("n_changed").as("s_changed"),
      sum("n_unchanged").as("s_unchanged"))
    val d30Batch = graft.operators.Pipeline.snapshotDiff(sp, sf)
    val d30J = d30Week.join(d30Batch, "source")
    assert(d30J.count() == d30Batch.count())
    assert(d30J.filter(col("s_added") =!= col("n_added") ||
      col("s_changed") =!= col("n_changed") ||
      col("s_unchanged") =!= col("n_unchanged")).count() == 0)

    // D34: per-span mask union == the batch mask set over the same feed
    val d34Week = sp.read.parquet(d34Target)
      .select("doc_id", "span_start", "span_tokens", "span_hash")
    val d34Batch = graft.operators.DedupOps.spanMaskAgainst(
      docs.select("doc_id", "text"), spanIndex)
    assert(d34Week.count() == d34Batch.count() && d34Batch.count() > 0)
    assert(d34Week.except(d34Batch).count() == 0)
    assert(d34Batch.except(d34Week).count() == 0)

    grams.unpersist(); benchGrams.unpersist(); oldSigs.unpersist()
    spanIndex.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("one replay day off the PERSISTED index store == in-session indexes") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    import graft.operators.{DedupOps, Pipeline, StreamArtifacts}
    import org.apache.spark.sql.DataFrame

    // the admission pipeline's once-a-day indexing job
    val root = tmpDir("wk_idx_store")
    StreamArtifacts.write(sp, sf, root)

    def sameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
      assert(a.count() == b.count() && a.except(b).count() == 0 &&
        b.except(a).count() == 0, s"$what diverges from in-session build")
    }
    // the persisted relations ARE the in-session indexes (manifest- and
    // split-verified on the way back in)
    val docs = graft.sources.Tables.documents(sp, sf)
    val standing = docs.filter(col("doc_id") % graft.sources.Feeds.IncrMod
      =!= graft.sources.Feeds.IncrRem)
    val (ihLive, csLive) = DedupOps.buildIncrementalIndex(sp, standing)
    sameRows(StreamArtifacts.incrHash(sp, root), ihLive, "incr_hash")
    sameRows(StreamArtifacts.incrSigs(sp, root), csLive, "incr_sigs")
    sameRows(StreamArtifacts.gramIndex(sp, root),
      Pipeline.standingGramIndex(sp, sf), "gram_index")
    sameRows(StreamArtifacts.spanIndex(sp, root),
      DedupOps.substrDupSpans(sp, sf).select("span_hash"), "span_index")

    // one replay day through each frozen-model gate, fed from the STORE —
    // the 100 TB cadence (index read, never rebuilt); output must equal
    // the in-session-index day bit for bit
    def day[T](rows: Seq[T]): Seq[T] = week(rows).head
    def runDay[T: org.apache.spark.sql.Encoder](rows: Seq[T], label: String,
        gate: (DataFrame, String, String) => Unit,
        toDf: org.apache.spark.sql.Dataset[T] => DataFrame): DataFrame = {
      val in = MemoryStream[T]
      val target = tmpDir(s"wk_idx_$label") + "/out"
      in.addData(rows: _*)
      gate(toDf(in.toDS()), target, tmpDir(s"wk_idx_${label}_ck"))
      sp.read.parquet(target).drop("batch_id")
    }

    val dedupDay = day(graft.sources.Feeds.incomingDocs(sp, sf)
      .orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq)
    val d18Store = runDay[(Long, String)](dedupDay, "d18s",
      (df, t, ck) => DedupStream.incremental(df,
        StreamArtifacts.incrHash(sp, root), StreamArtifacts.incrSigs(sp, root),
        t, ck).awaitTermination(),
      _.toDF("doc_id", "text"))
    val d18Live = runDay[(Long, String)](dedupDay, "d18l",
      (df, t, ck) => DedupStream.incremental(df, ihLive, csLive,
        t, ck).awaitTermination(),
      _.toDF("doc_id", "text"))
    sameRows(d18Store, d18Live, "D18 day off the store")

    val novDay = day(graft.sources.Feeds.incomingDocs(sp, sf)
      .orderBy("doc_id").select("source", "text")
      .as[(String, String)].collect().toSeq)
    val d24Store = runDay[(String, String)](novDay, "d24s",
      (df, t, ck) => CorpusStream.noveltyGate(df,
        StreamArtifacts.gramIndex(sp, root), t, ck).awaitTermination(),
      _.toDF("source", "text"))
    val d24Live = runDay[(String, String)](novDay, "d24l",
      (df, t, ck) => CorpusStream.noveltyGate(df,
        Pipeline.standingGramIndex(sp, sf), t, ck).awaitTermination(),
      _.toDF("source", "text"))
    sameRows(d24Store, d24Live, "D24 day off the store")

    val maskDay = day(docs.orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq)
    val d34Store = runDay[(Long, String)](maskDay, "d34s",
      (df, t, ck) => MaskStream.plan(df,
        StreamArtifacts.spanIndex(sp, root), t, ck).awaitTermination(),
      _.toDF("doc_id", "text"))
    val d34Live = runDay[(Long, String)](maskDay, "d34l",
      (df, t, ck) => MaskStream.plan(df,
        DedupOps.substrDupSpans(sp, sf).select("span_hash"), t, ck)
        .awaitTermination(),
      _.toDF("doc_id", "text"))
    sameRows(d34Store, d34Live, "D34 day off the store")
    sp.catalog.clearCache(): Unit
  }

  test("D37: streaming-built qsketch store == batch build (manifest-equal, crash)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    import graft.operators.SketchArtifacts

    val full = tmpDir("d37_full")
    val root = tmpDir("d37_store")
    SketchArtifacts.write(sp, sf, full)
    def manifest(r: String): String = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$r/qsketch_day/_graft_manifest.json"))

    // the daily-feed cadence: one micro-batch per calendar day (each
    // addData group becomes its own epoch under AvailableNow)
    val byDay = graft.sources.Tables.events(sp, sf)
      .select(expr("ts div 86400000000000").as("d"), col("ts"), col("value"))
      .orderBy("d", "ts").as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._2, t._3)))
    assert(byDay.size > 5, s"fixture too small: ${byDay.size} days")

    val in = MemoryStream[(Long, Double)]
    val ckpt = tmpDir("d37_ck")
    def runOnce(): Unit = SketchStoreStream.qsketchDaily(
      in.toDF().toDF("ts", "value"), root, ckpt).awaitTermination()

    val (firstHalf, secondHalf) = byDay.splitAt(byDay.size / 2)
    firstHalf.foreach(day => in.addData(day: _*))
    runOnce()
    // the process died after the swap, before the commit — the restart
    // replays the newest epoch; replaceSlice makes the replay ≡ first run
    dropNewestCommit(ckpt)
    runOnce()
    secondHalf.foreach(day => in.addData(day: _*))
    runOnce()

    assert(manifest(root) == manifest(full),
      "streaming-built qsketch store diverges from the batch build")
    // and the geometry-checked consumer reads it like any batch store
    assert(SketchArtifacts.valueQuantileWeek(sp, root).collect().toSeq ==
      graft.operators.Sketches.valueQuantileWeek(sp, sf).collect().toSeq,
      "store-fed week readout diverges after the streaming build")
    sp.catalog.clearCache(): Unit
  }

  test("D32 served off the persisted ANN index == the in-session corpus") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    import graft.operators.AnnArtifacts

    // the nightly index build, then a probe day served BOTH ways: corpus
    // from the persisted flat index vs the in-session embeddings read —
    // row-identical output (the store IS the serving corpus)
    val root = tmpDir("d32_store")
    AnnArtifacts.write(sp, sf, root)
    val probes = graft.sources.Tables.embeddings(sp, sf)
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 6400L)
      .select(col("vec_id").as("probe_id"), col("embedding"))
      .orderBy("probe_id").as[(Long, Seq[Float])].collect().toSeq

    def serveWith(corpus: org.apache.spark.sql.DataFrame,
        label: String): org.apache.spark.sql.DataFrame = {
      val in = MemoryStream[(Long, Seq[Float])]
      val target = tmpDir(s"d32s_$label") + "/hits"
      in.addData(probes: _*)
      AnnStream.serve(in.toDF().toDF("probe_id", "embedding"), corpus,
        target, tmpDir(s"d32s_${label}_ck")).awaitTermination()
      sp.read.parquet(target).drop("batch_id")
    }
    val store = serveWith(
      AnnArtifacts.flat(sp, root).select("vec_id", "embedding"), "store")
    val live = serveWith(graft.sources.Tables.embeddings(sp, sf)
      .select("vec_id", "embedding"), "live")
    assert(store.count() == live.count() && store.count() > 0)
    assert(store.except(live).count() == 0 && live.except(store).count() == 0,
      "D32 day served off the store diverges from the in-session corpus")
    sp.catalog.clearCache(): Unit
  }

  test("D38/D39: streaming cms_day + hll_day stores == batch (manifest-equal, crash)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    import graft.operators.SketchArtifacts

    val full = tmpDir("d3839_full")
    SketchArtifacts.write(sp, sf, full)
    def manifest(r: String, fam: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json"))

    // D38: the cms_day writer, fed day-grouped (ts, value) micro-batches,
    // with a dropped-commit crash replay mid-run (the D37 harness)
    val cmsRoot = tmpDir("d38_store")
    val byDayV = graft.sources.Tables.events(sp, sf)
      .select(expr("ts div 86400000000000").as("d"), col("ts"), col("value"))
      .orderBy("d", "ts").as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._2, t._3)))
    val inV = MemoryStream[(Long, Double)]
    val ckV = tmpDir("d38_ck")
    def runCms(): Unit = SketchStoreStream.cmsDaily(
      inV.toDF().toDF("ts", "value"), cmsRoot, ckV).awaitTermination()
    val (v1, v2) = byDayV.splitAt(byDayV.size / 2)
    v1.foreach(day => inV.addData(day: _*))
    runCms()
    dropNewestCommit(ckV)
    runCms()
    v2.foreach(day => inV.addData(day: _*))
    runCms()
    assert(manifest(cmsRoot, "cms_day") == manifest(full, "cms_day"),
      "streaming-built cms_day store diverges from the batch build")
    assert(SketchArtifacts.cmsWeekMerge(sp, sf, cmsRoot).collect().toSeq ==
      graft.operators.Sketches.cmsWeekMerge(sp, sf).collect().toSeq,
      "store-fed cms week merge diverges after the streaming build")

    // D39: the hll_day writer over (ts, user_id) micro-batches
    val hllRoot = tmpDir("d39_store")
    val byDayU = graft.sources.Tables.events(sp, sf)
      .select(expr("ts div 86400000000000").as("d"), col("ts"), col("user_id"))
      .orderBy("d", "ts").as[(Long, Long, Long)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._2, t._3)))
    val inU = MemoryStream[(Long, Long)]
    val ckU = tmpDir("d39_ck")
    def runHll(): Unit = SketchStoreStream.hllDaily(
      inU.toDF().toDF("ts", "user_id"), hllRoot, ckU).awaitTermination()
    val (u1, u2) = byDayU.splitAt(byDayU.size / 2)
    u1.foreach(day => inU.addData(day: _*))
    runHll()
    dropNewestCommit(ckU)
    runHll()
    u2.foreach(day => inU.addData(day: _*))
    runHll()
    assert(manifest(hllRoot, "hll_day") == manifest(full, "hll_day"),
      "streaming-built hll_day store diverges from the batch build")
    assert(SketchArtifacts.hllWeekActives(sp, sf, hllRoot).collect().toSeq ==
      graft.operators.Sketches.hllWeekActives(sp, sf).collect().toSeq,
      "store-fed hll week actives diverge after the streaming build")
    sp.catalog.clearCache(): Unit
  }

  test("D40: streaming-maintained ANN store == frozen-quantizer rebuild (manifest-equal, crash)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    import graft.operators.{AnnArtifacts, EmbeddingOps}

    // base index from the corpus; two ingest days of admitted vectors
    // under NEW ids (the appendDay contract)
    val root = tmpDir("d40_store")
    AnnArtifacts.write(sp, sf, root)
    val days: Seq[Seq[(Long, Long, Int, Seq[Float])]] = Seq(1L, 2L).map { d =>
      graft.sources.Tables.embeddings(sp, sf)
        .filter(col("vec_id") % 2 === (d % 2))
        .select(lit(d).as("ingest_day"),
          (col("vec_id") + lit(80000000000L) + lit(d * 1000000000L))
            .as("vec_id"),
          col("label"), col("embedding"))
        .as[(Long, Long, Int, Seq[Float])].collect().toSeq
    }

    val in = MemoryStream[(Long, Long, Int, Seq[Float])]
    val ckpt = tmpDir("d40_ck")
    def runOnce(): Unit = AnnStoreStream.daily(
      in.toDF().toDF("ingest_day", "vec_id", "label", "embedding"),
      root, ckpt).awaitTermination()

    in.addData(days.head: _*)
    runOnce()
    // died after the swaps, before the commit — the restart replays the
    // epoch; replaceSlice + the frozen quantizer make replay ≡ first run
    dropNewestCommit(ckpt)
    runOnce()
    in.addData(days.last: _*)
    runOnce()

    // one-pass rebuild over the union under the SAME frozen quantizer
    val rebuilt = tmpDir("d40_rebuild")
    val baseV = EmbeddingOps.vectors(sp, sf)
    val dayV = days.flatten
      .toDF("ingest_day", "vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("embedding"),
        expr("graft_norm2(embedding)").as("n2"))
    AnnArtifacts.writeFrom(sp, baseV.unionByName(dayV),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.IvfK),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.PqK)
        .select("cent_id", "c_emb"),
      rebuilt)
    def manifestOf(r: String, fam: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json"))
    for (f <- Seq("flat", "ivf_cells", "pq_codes"))
      assert(manifestOf(root, f) == manifestOf(rebuilt, f),
        s"streaming-maintained $f diverges from the frozen-quantizer rebuild")
    // and the store keeps answering the geometry-checked searches
    assert(AnnArtifacts.annIvf(sp, root).collect().toSeq ==
      AnnArtifacts.annIvf(sp, rebuilt).collect().toSeq,
      "IVF search off the streaming-maintained store diverges")
    sp.catalog.clearCache(): Unit
  }

  test("D40 epilogue compaction: fires mid-stream, crash-replay safe, digest invariant") {
    // round 14: the maintainer's foreachBatch epilogue now runs the
    // compactIfNeeded cadence with the batch's min day as the replay
    // horizon. maxSlices=1 makes it fire on every batch that leaves two
    // mergeable slices — and the dropped-commit replay lands ON TOP of a
    // batch whose epilogue compacted, the exact scenario the horizon
    // exists for: the replayed appendDay must only ever replace its own
    // day's slice, never the merged history.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    import graft.operators.{AnnArtifacts, EmbeddingOps}
    val root = tmpDir("d40c_store")
    AnnArtifacts.write(sp, sf, root)
    val days: Seq[Seq[(Long, Long, Int, Seq[Float])]] = Seq(1L, 2L, 3L).map { d =>
      graft.sources.Tables.embeddings(sp, sf)
        .filter(col("vec_id") % 3 === (d % 3))
        .select(lit(d).as("ingest_day"),
          (col("vec_id") + lit(80000000000L) + lit(d * 1000000000L))
            .as("vec_id"),
          col("label"), col("embedding"))
        .as[(Long, Long, Int, Seq[Float])].collect().toSeq
    }
    val in = MemoryStream[(Long, Long, Int, Seq[Float])]
    val ckpt = tmpDir("d40c_ck")
    def runOnce(): Unit = AnnStoreStream.daily(
      in.toDF().toDF("ingest_day", "vec_id", "label", "embedding"),
      root, ckpt, maxSlices = 1).awaitTermination()
    def sliceDirs(fam: String): Seq[String] =
      new java.io.File(s"$root/$fam").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("ingest_day=")).sorted

    in.addData(days(0): _*); runOnce() // slices {0,1}: horizon blocks a merge
    assert(sliceDirs("flat") == Seq("ingest_day=0", "ingest_day=1"),
      sliceDirs("flat").toString)
    in.addData(days(1): _*); runOnce() // {0,1,2} -> merge 0,1 into 1
    assert(sliceDirs("flat") == Seq("ingest_day=1", "ingest_day=2"),
      sliceDirs("flat").toString)
    // crash AFTER the compacting batch committed its stores but not its
    // checkpoint: the epoch replays — re-append of day 2 must replace
    // only slice 2 (the merged slice 1 carries days 0-1 and is protected)
    dropNewestCommit(ckpt)
    runOnce()
    assert(sliceDirs("flat") == Seq("ingest_day=1", "ingest_day=2"),
      sliceDirs("flat").toString)
    in.addData(days(2): _*); runOnce() // {1,2,3} -> merge 1,2 into 2
    assert(sliceDirs("flat") == Seq("ingest_day=2", "ingest_day=3"),
      sliceDirs("flat").toString)

    // the compacted, crash-replayed, streaming-maintained store is
    // MANIFEST-EQUAL to the one-pass frozen-quantizer rebuild — no
    // vector lost, none doubled, digest invariant through it all
    val rebuilt = tmpDir("d40c_rebuild")
    val baseV = EmbeddingOps.vectors(sp, sf)
    val dayV = days.flatten
      .toDF("ingest_day", "vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("embedding"),
        expr("graft_norm2(embedding)").as("n2"))
    AnnArtifacts.writeFrom(sp, baseV.unionByName(dayV),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.IvfK),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.PqK)
        .select("cent_id", "c_emb"),
      rebuilt)
    def manifestOf(r: String, fam: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json"))
    for (f <- Seq("flat", "ivf_cells", "pq_codes"))
      assert(manifestOf(root, f) == manifestOf(rebuilt, f),
        s"compacted streaming-maintained $f diverges from the rebuild")
    assert(AnnArtifacts.annIvf(sp, root).collect().toSeq ==
      AnnArtifacts.annIvf(sp, rebuilt).collect().toSeq,
      "IVF search off the compacted store diverges")
    sp.catalog.clearCache(): Unit
  }
}
