package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Pins for the persisted dedup-artifact layer (DedupArtifacts): the
  * staged production shape must be byte-equal to the inline declarative
  * compositions (the C28→C49 precedent), the staged report actions must
  * hold NO generator caches, and the manifest must catch file corruption. */
class ArtifactSpec extends SparkSpec {
  import operators.{DedupArtifacts, DedupOps}

  /** Every file path scanned anywhere under a physical plan, descending
    * THROUGH cached relations — a corpus-scaled generator cache hides its
    * parquet scan inside InMemoryTableScan, which a plain collect treats
    * as a leaf. */
  private def filesUnder(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
      case m: InMemoryTableScanExec => filesUnder(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => filesUnder(a.executedPlan)
      case other => other.children.flatMap(filesUnder) ++
        other.subqueries.flatMap(filesUnder)
    }
  }

  /** Corpus-parquet paths read inside any CACHED relation of the plan —
    * the residency hazard: a resident cache whose lineage scans the
    * source corpus is generator-cache-sized, whereas caches over staged
    * artifacts or one-row reductions are bounded. */
  private def corpusScansInsideCaches(
      df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan
      .collect { case r: InMemoryRelation => r }
      .flatMap(r => filesUnder(r.cachedPlan))
      .filter(_.contains(sf))

  /** Distinct cached relations at ANY depth (nested included). */
  private def cacheCountDeep(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[AnyRef] =
      p match {
        case m: InMemoryTableScanExec =>
          m.relation.cacheBuilder +: walk(m.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case other => other.children.flatMap(walk)
      }
    (df.queryExecution.optimizedPlan
      .collect { case r: InMemoryRelation => r }
      .flatMap(r => r.cacheBuilder +: walk(r.cachedPlan))).distinct.size
  }

  // one shared artifact build for the read-only pins (written once; the
  // write-path pins below stage their own roots)
  private lazy val root: String = {
    val r = tmpDir("graft-artifacts-")
    DedupArtifacts.write(spark, sf, r)
    r
  }

  test("artifact roundtrip: every artifact readVerified == its generator") {
    val gens: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "pairs_minhash_lsh" -> DedupOps.dedupMinhashLsh(spark, sf),
      "pairs_ngram_jaccard" -> DedupOps.dedupNgramJaccard(spark, sf),
      "pairs_simhash_band" -> DedupOps.dedupSimhashBand(spark, sf),
      "components" -> DedupOps.dedupComponents(spark, sf))
    for ((name, gen) <- gens) {
      val art = DedupArtifacts.readVerified(spark, s"$root/$name")
        .collect().map(_.toSeq).toSet
      val exp = gen.collect().map(_.toSeq).toSet
      assert(art == exp, s"$name artifact != generator output")
      spark.catalog.clearCache()
    }
  }

  test("write() leaves no cached relation behind (one-generator residency)") {
    root // force the shared build
    assert(spark.sharedState.cacheManager.isEmpty,
      "artifact build must reclaim every generator cache")
    // the store builds, whose families run concurrently, reclaim too
    for ((name, build) <- Seq[(String, String => Unit)](
      ("sketch", operators.SketchArtifacts.write(spark, sf, _)),
      ("stream", operators.StreamArtifacts.write(spark, sf, _)),
      ("ann", operators.AnnArtifacts.write(spark, sf, _)))) {
      spark.catalog.clearCache()
      build(tmpDir(s"graft-residency-$name-"))
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name store build left a cached relation")
    }
  }

  test("artifact-fed reports are byte-equal to the inline plans") {
    val pins = Seq(
      ("agreement", DedupArtifacts.agreement(spark, root),
        DedupOps.dedupAgreement(spark, sf)),
      ("clusterSizes", DedupArtifacts.clusterSizes(spark, root),
        DedupOps.dedupClusterSizes(spark, sf)),
      ("canonical", DedupArtifacts.canonical(spark, sf, root),
        DedupOps.dedupCanonical(spark, sf)),
      ("funnel", DedupArtifacts.funnel(spark, sf, root),
        DedupOps.dedupFunnel(spark, sf)))
    for ((name, art, inline) <- pins) {
      // both sides end in the same orderBy — compare row-for-row, in order
      assert(art.collect().toSeq == inline.collect().toSeq,
        s"artifact-fed $name diverges from the inline plan")
      spark.catalog.clearCache()
    }
  }

  test("staged agreement action holds no corpus-scan cache") {
    // the residency invariant, stated precisely (round 8): NO cached
    // relation in the staged plan may have the source corpus in its
    // lineage — generator caches are corpus-scaled; the one-row counter
    // reduction (cached so the 3-row assembly does not replay the pair
    // grid per cell) and caches over staged artifacts are bounded
    val staged = DedupArtifacts.agreementStaged(spark, sf)
    val offending = corpusScansInsideCaches(staged)
    assert(offending.isEmpty,
      s"staged matrix action caches a corpus scan: $offending")
    spark.catalog.clearCache()
    // the inline twin's single action holds all three generators' caches
    // (now nested under the one-row reduction cache) — the round-6
    // residency finding the artifact layer closes
    val inline = DedupOps.dedupAgreement(spark, sf)
    assert(corpusScansInsideCaches(inline).nonEmpty,
      "inline agreement should hold corpus-scaled generator caches")
    assert(cacheCountDeep(inline) >= 4,
      s"inline agreement should nest >=3 generator caches + the reduction" +
        s" row, saw ${cacheCountDeep(inline)}")
    spark.catalog.clearCache()
  }

  test("staged funnel action holds no corpus-scan cache below its stages") {
    // the funnel's stage flags legitimately scan the corpus (token counts)
    // but must do it through the ONE cached one-row reduction, never
    // through a resident corpus-row cache of a component generator: the
    // only corpus scans inside caches must sit under the 8-counter
    // reduction row
    val staged = DedupArtifacts.funnelStaged(spark, sf)
    val caches = staged.queryExecution.optimizedPlan
      .collect { case r: InMemoryRelation => r }
    caches.foreach { r =>
      assert(r.output.size <= 8 &&
        r.output.forall(_.dataType ==
          org.apache.spark.sql.types.LongType),
        s"staged funnel may only cache the counter reduction, " +
          s"saw ${r.output}")
    }
    spark.catalog.clearCache()
    val inline = DedupOps.dedupFunnel(spark, sf)
    assert(cacheCountDeep(inline) >= 1,
      "inline funnel holds the component cache")
    spark.catalog.clearCache()
  }

  test("manifest verification fails fast on a corrupted artifact") {
    val r2 = tmpDir("graft-artifacts-corrupt-")
    DedupArtifacts.writeComponents(spark, sf, r2)
    // drop one part file: row count and checksum both diverge
    val dir = new java.io.File(s"$r2/components")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part.delete())
    val e = intercept[RuntimeException] {
      DedupArtifacts.readVerified(spark, s"$r2/components").count()
    }
    assert(e.getMessage.contains("failed verification"))
    spark.catalog.clearCache(): Unit
  }

  test("same-source agreement (C75b) equals inline twin, shrinks only mh/sb") {
    val staged = DedupArtifacts.agreementSameSourceStaged(spark, sf)
    // staged ≡ inline (the C28→C49 byte-equality precedent)
    val inline = DedupOps.dedupAgreementSameSource(spark, sf)
    assert(staged.except(inline).count() == 0 &&
      inline.except(staged).count() == 0,
      "staged same-source matrix diverges from the inline plan")
    spark.catalog.clearCache()
    val prod = DedupArtifacts.agreementStaged(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val same = DedupArtifacts.agreementSameSourceStaged(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(same.keySet == prod.keySet)
    same.foreach { case (k, s) =>
      val p = prod(k)
      // restricting the domain can only DROP pairs ...
      assert(s.getLong(2) <= p.getLong(2) && s.getLong(3) <= p.getLong(3))
      // ... and C4's counts are untouched (same-source by construction)
      def njCount(key: (String, String), r: org.apache.spark.sql.Row): Seq[Long] =
        Seq(if (key._1 == "ngram_jaccard") Some(r.getLong(2)) else None,
          if (key._2 == "ngram_jaccard") Some(r.getLong(3)) else None).flatten
      assert(njCount(k, s) == njCount(k, p))
    }
    spark.catalog.clearCache(): Unit
  }

  test("staged queries survive an empty corpus (fixed 3-row matrix)") {
    val empty = tmpDir("graft-empty-corpus-")
    val schema = sources.Tables.documents(spark, sf).schema
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$empty/documents.parquet")
    assert(DedupArtifacts.agreementStaged(spark, empty).count() == 3)
    spark.catalog.clearCache(): Unit
  }

  test("sketch store: persisted segments answer B50/B51 byte-identically") {
    import operators.{SketchArtifacts, Sketches}
    val r = tmpDir("graft-sketch-store-")
    SketchArtifacts.write(spark, sf, r)
    // B51 from the 12 persisted register vectors == the inline plan (the
    // registers survive the parquet round trip bit-for-bit, and max-merge
    // is partition-agnostic)
    assert(SketchArtifacts.monthOverlap(spark, sf, r).collect().toSeq ==
      Sketches.hllMonthOverlap(spark, sf).collect().toSeq,
      "store-fed B51 diverges from inline")
    spark.catalog.clearCache()
    // the deployment shape: every estimate column derives from the
    // artifact rows alone — ZERO fact-table scans in the plan
    val est = SketchArtifacts.monthOverlapEstimates(spark, r)
    assert(Audit.factScanCounts(est).isEmpty,
      s"estimates-only consumer touched a fact table: " +
        s"${Audit.factScanCounts(est)}")
    val inlineEst = Sketches.hllMonthOverlap(spark, sf).select(
      "month_a", "month_b", "est_a", "est_b", "est_union", "est_inter")
    assert(est.collect().toSeq == inlineEst.collect().toSeq,
      "estimates-only consumer diverges from inline estimates")
    spark.catalog.clearCache()
    // B50 from the cell-summed per-type matrices == the inline
    // single-pass sketch (the types partition the stream, so every cell
    // sum is exactly the one-pass cell)
    assert(SketchArtifacts.heavyHitters(spark, sf, r).collect().toSeq ==
      Sketches.cmsHeavyHitters(spark, sf).collect().toSeq,
      "store-fed B50 diverges from inline")
    spark.catalog.clearCache()
    // B55 from the 12 persisted quantile-sketch rows == the inline plan,
    // and the consumer touches ZERO fact tables
    val drift = SketchArtifacts.valueQuantileDrift(spark, r)
    assert(Audit.factScanCounts(drift).isEmpty,
      s"store-fed B55 touched a fact table: ${Audit.factScanCounts(drift)}")
    assert(drift.collect().toSeq ==
      Sketches.valueQuantileDrift(spark, sf).collect().toSeq,
      "store-fed B55 diverges from inline")
    spark.catalog.clearCache()
    // B56 from the store: the register-SUM week merge over the persisted
    // day rows == the inline plan, zero fact tables touched
    val week = SketchArtifacts.valueQuantileWeek(spark, r)
    assert(Audit.factScanCounts(week).isEmpty,
      s"store-fed B56 touched a fact table: ${Audit.factScanCounts(week)}")
    assert(week.collect().toSeq ==
      Sketches.valueQuantileWeek(spark, sf).collect().toSeq,
      "store-fed B56 diverges from inline")
    spark.catalog.clearCache()
    // B57/B58 from the store: merged week matrices / registers come from
    // the persisted day rows; only the exact evaluation pass reads events
    // (the B50 screen-subject split) — ONE scan each, pinned
    val cmsWk = SketchArtifacts.cmsWeekMerge(spark, sf, r)
    assert(Audit.factScanCounts(cmsWk).getOrElse("events", 0) == 1,
      s"store-fed B57 scans: ${Audit.factScanCounts(cmsWk)}")
    assert(cmsWk.collect().toSeq ==
      Sketches.cmsWeekMerge(spark, sf).collect().toSeq,
      "store-fed B57 diverges from inline")
    spark.catalog.clearCache()
    val hllWk = SketchArtifacts.hllWeekActives(spark, sf, r)
    assert(Audit.factScanCounts(hllWk).getOrElse("events", 0) == 1,
      s"store-fed B58 scans: ${Audit.factScanCounts(hllWk)}")
    assert(hllWk.collect().toSeq ==
      Sketches.hllWeekActives(spark, sf).collect().toSeq,
      "store-fed B58 diverges from inline")
    spark.catalog.clearCache(): Unit
  }

  test("sketch store manifest records geometry; mismatched readers fail fast") {
    import operators.{SketchArtifacts, Sketches}
    val r = tmpDir("graft-sketch-geom-")
    // a NON-default store: every knob off its session default
    SketchArtifacts.write(spark, sf, r, m = 32, depth = 3, width = 64, s = 4)
    // readers that state the matching geometry reproduce the inline plans
    assert(SketchArtifacts.valueQuantileDrift(spark, r, s = 4)
      .collect().toSeq ==
      Sketches.valueQuantileDrift(spark, sf, s = 4).collect().toSeq,
      "non-default store-fed B55 diverges from inline at the same s")
    spark.catalog.clearCache()
    val est = SketchArtifacts.monthOverlapEstimates(spark, r, m = 32)
    val inlineEst = Sketches.hllMonthOverlap(spark, sf, m = 32).select(
      "month_a", "month_b", "est_a", "est_b", "est_union", "est_inter")
    assert(est.collect().toSeq == inlineEst.collect().toSeq,
      "non-default store-fed estimates diverge from inline at the same m")
    spark.catalog.clearCache()
    assert(SketchArtifacts.heavyHitters(spark, sf, r, depth = 3, width = 64)
      .collect().toSeq ==
      Sketches.cmsHeavyHitters(spark, sf, depth = 3, width = 64)
        .collect().toSeq,
      "non-default store-fed B50 diverges from inline at the same geometry")
    spark.catalog.clearCache()
    // readers under SESSION DEFAULTS must fail fast NAMING the geometry —
    // before round 11 they silently reinterpreted the registers; so must
    // re-stamps under another geometry, leaving every manifest as it was
    def manifests() = Seq("hll_month", "cms_type", "qsketch_day", "cms_day",
      "hll_day").map(f => java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$f/_graft_manifest.json")))
    val stamped = manifests()
    for ((label, bad) <- Seq[(String, () => Any)](
      ("qsketch s", () => SketchArtifacts.valueQuantileDrift(spark, r)),
      ("hll m", () => SketchArtifacts.monthOverlapEstimates(spark, r)),
      ("cms depth/width", () => SketchArtifacts.heavyHitters(spark, sf, r)),
      ("qsketch s re-stamp", () => SketchArtifacts.restampQsketchDays(spark, r)),
      ("cms_day re-stamp", () =>
        SketchArtifacts.restampCmsDays(spark, r, depth = 3, width = 64)),
      ("hll_day re-stamp", () => SketchArtifacts.restampHllDays(spark, r, m = 32))
    )) {
      val e = intercept[RuntimeException](bad())
      assert(e.getMessage.contains("geometry mismatch") &&
        e.getMessage.contains("manifest records"),
        s"$label default-geometry read: wrong error: ${e.getMessage}")
    }
    assert(manifests() == stamped, "a refused re-stamp changed a manifest")
    // a LEGACY manifest (no params) read by a geometry-stating reader
    // must also fail fast, pointing at the rebuild
    val mf = java.nio.file.Paths.get(s"$r/qsketch_day/_graft_manifest.json")
    val legacy = java.nio.file.Files.readString(mf)
      .replaceAll(""","params":\{[^}]*\}""", "")
    java.nio.file.Files.writeString(mf, legacy)
    // drop the local-FS checksum sidecar the out-of-band rewrite staled
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$r/qsketch_day/._graft_manifest.json.crc"))
    val e = intercept[RuntimeException](
      SketchArtifacts.qsketchDays(spark, r, s = 4))
    assert(e.getMessage.contains("legacy manifest"),
      s"legacy-manifest read: wrong error: ${e.getMessage}")
    spark.catalog.clearCache(): Unit
  }

  test("ANN index store: store-fed searches byte-equal inline; zero embeddings scans") {
    import operators.{AnnArtifacts, EmbeddingOps}
    val r = tmpDir("graft-ann-store-")
    AnnArtifacts.write(spark, sf, r)

    // store-fed consumers ≡ the inline builds (both sides end in the
    // same orderBy — row-for-row)
    val pins = Seq[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)](
      ("serve", AnnArtifacts.annServe(spark, sf, r),
        EmbeddingOps.annServe(spark, sf)),
      ("ivf", AnnArtifacts.annIvf(spark, r),
        EmbeddingOps.annIvf(spark, sf)),
      ("pq_adc", AnnArtifacts.annPqAdc(spark, r),
        EmbeddingOps.annPqAdc(spark, sf)))
    for ((name, art, inline) <- pins) {
      assert(art.collect().toSeq == inline.collect().toSeq,
        s"store-fed $name diverges from the inline build")
      spark.catalog.clearCache()
    }

    // the store-fed search actions scan ZERO embeddings parquet — probes
    // and corpus both come off the index (the deployment read); only the
    // serve payload fetch may touch documents
    for ((name, df) <- Seq(
      ("serve", AnnArtifacts.annServe(spark, sf, r)),
      ("ivf", AnnArtifacts.annIvf(spark, r)),
      ("pq_adc", AnnArtifacts.annPqAdc(spark, r)),
      ("code_usage", AnnArtifacts.pqCodeUsage(spark, r)))) {
      val scans = filesUnder(df.queryExecution.executedPlan)
      assert(!scans.exists(_.contains("embeddings.parquet")),
        s"store-fed $name still scans the embeddings table: $scans")
      spark.catalog.clearCache()
    }

    // code-usage report ≡ recomputing the codes inline
    val v = EmbeddingOps.vectors(spark, sf)
    val cb = EmbeddingOps.ivfCentroids(v, EmbeddingOps.PqK)
      .select("cent_id", "c_emb")
    assert(AnnArtifacts.pqCodeUsage(spark, r).collect().toSeq ==
      AnnArtifacts.pqCodeUsageOf(EmbeddingOps.pqCodesWide(v, cb))
        .collect().toSeq,
      "store-fed code usage diverges from inline codes")
    spark.catalog.clearCache()

    // geometry handshake: a reader stating a different k / pqK fails
    // fast naming both sides; so does a re-stamp under the defaults of a
    // store built at another k, leaving every manifest as it was
    val rk = tmpDir("graft-ann-k-")
    AnnArtifacts.write(spark, sf, rk, k = EmbeddingOps.IvfK + 1)
    def manifests(fams: Seq[String] = Seq("flat", "ivf_cells", "pq_codes")) =
      fams.map(f => java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$rk/$f/_graft_manifest.json")))
    val stamped = manifests()
    for ((label, bad) <- Seq[(String, () => Any)](
      ("ivf k", () => AnnArtifacts.centroids(spark, r, k = 7)),
      ("cells k", () => AnnArtifacts.cells(spark, r, k = 7)),
      ("pq k", () => AnnArtifacts.pqCodes(spark, r, pqK = 7)),
      ("re-stamp k", () => AnnArtifacts.restamp(spark, rk)))) {
      val e = intercept[RuntimeException](bad())
      assert(e.getMessage.contains("geometry mismatch"),
        s"$label mismatched read: wrong error: ${e.getMessage}")
    }
    assert(manifests() == stamped, "a refused re-stamp changed a manifest")
    // a half-built family (no manifest) is refused before any re-stamp
    val flatManifest = java.nio.file.Paths.get(s"$rk/flat/_graft_manifest.json")
    java.nio.file.Files.delete(flatManifest)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$rk/flat/._graft_manifest.json.crc"))
    val h = intercept[RuntimeException](
      AnnArtifacts.restamp(spark, rk, k = EmbeddingOps.IvfK + 1))
    assert(h.getMessage.contains("half-built"), h.getMessage)
    assert(!java.nio.file.Files.exists(flatManifest) &&
      manifests(Seq("ivf_cells", "pq_codes")) == stamped.tail,
      "a refused re-stamp wrote a manifest")

    // the router bootstrap reads only the centroid artifact (FLAT in
    // corpus size — the ScaleProbe ann_index_route claim's plan shape)
    val probes = spark.range(4).selectExpr("id AS probe_id",
      "transform(sequence(0, 63), j -> CAST((id + j) % 7 AS FLOAT)) AS embedding")
    val routed = AnnArtifacts.routeProbes(spark, r, probes)
    assert(routed.count() == 4L * EmbeddingOps.IvfNprobe)
    val routeScans = filesUnder(routed.queryExecution.executedPlan)
    assert(routeScans.forall(s =>
        !s.contains("embeddings.parquet") && !s.contains("/flat") &&
        !s.contains("/ivf_cells") && !s.contains("/pq_")),
      s"router bootstrap must read only centroids: $routeScans")
    spark.catalog.clearCache(): Unit
  }

  test("week estimates consumers: zero fact scans, consistent with full consumers") {
    import operators.{SketchArtifacts, Sketches}
    val r = tmpDir("graft-wk-est-")
    SketchArtifacts.write(spark, sf, r)

    // zero events scans in BOTH estimates-only actions (the B51
    // monthOverlapEstimates deployment shape, plan-pinned)
    for ((name, df) <- Seq(
      ("cmsWeekEstimates", SketchArtifacts.cmsWeekEstimates(spark, r)),
      ("hllWeekEstimates", SketchArtifacts.hllWeekEstimates(spark, r)),
      ("qsketchWeekEstimates",
        SketchArtifacts.qsketchWeekEstimates(spark, r)))) {
      val scans = filesUnder(df.queryExecution.executedPlan)
      assert(!scans.exists(_.contains("events.parquet")),
        s"$name still scans events: $scans")
    }

    // B62's quantile columns must be IDENTICAL to B56's inline readout
    // (same registers, same rank walk — the store round trip and the
    // added n_days column must not perturb the panel)
    val qCols = Seq("week_epoch", "q_pm", "n", "r",
      "est_lo", "est_hi", "n_below", "n_thru")
    val b62 = SketchArtifacts.qsketchWeekEstimates(spark, r)
      .select(qCols.map(col): _*).orderBy("week_epoch", "q_pm")
    val b56 = Sketches.valueQuantileWeek(spark, sf)
      .select(qCols.map(col): _*).orderBy("week_epoch", "q_pm")
    assert(b62.collect().toSeq == b56.collect().toSeq,
      "estimates-only weekly quantiles diverge from B56's readout")
    // n_days counts the persisted day rows of each week
    val storeDays = SketchArtifacts.qsketchDays(spark, r)
      .groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(count(lit(1)).as("n_days_expect"))
    val ndBad = SketchArtifacts.qsketchWeekEstimates(spark, r)
      .select("week_epoch", "n_days").distinct()
      .join(storeDays, Seq("week_epoch"))
      .filter(col("n_days") =!= col("n_days_expect"))
    assert(ndBad.count() == 0, "B62 n_days misreports persisted day rows")

    // B61's estimate column must be IDENTICAL to B58's (the full
    // consumer carries the exact-evaluation pass; the estimates must not
    // drift from it)
    val est = SketchArtifacts.hllWeekEstimates(spark, r)
      .select("week_epoch", "hll_est")
    val full = Sketches.hllWeekActives(spark, sf)
      .select("week_epoch", "hll_est")
    assert(est.collect().toSeq == full.collect().toSeq,
      "estimates-only weekly actives diverge from B58's estimate column")

    // B60's estimates must match indexing the SAME merged matrices the
    // inline B57 build produces (per probe key, per week)
    val inlineDays = Sketches.dayCmsSketchesOf(
      Sketches.dayValueKeys(spark, sf),
      Sketches.WeekCmsDepth, Sketches.WeekCmsWidth)
    val cells = Sketches.WeekCmsDepth * Sketches.WeekCmsWidth
    val inlineWk = inlineDays
      .groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(expr(s"aggregate(collect_list(m), " +
        s"array_repeat(CAST(0 AS BIGINT), $cells), " +
        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))").as("m"))
    val keyArr = Sketches.CmsProbeKeys.map(k => s"'$k'")
      .mkString("array(", ", ", ")")
    val inlineEst = inlineWk
      .select(col("week_epoch"), col("m"), explode(expr(keyArr)).as("key"))
      .select(col("week_epoch"), col("key"),
        expr(s"array_min(transform(graft_cms_cells_g(key, " +
          s"${Sketches.WeekCmsDepth}, ${Sketches.WeekCmsWidth}), " +
          "c -> element_at(m, CAST(c + 1 AS INT))))").as("est"))
      .orderBy("week_epoch", "key")
    assert(SketchArtifacts.cmsWeekEstimates(spark, r).collect().toSeq ==
      inlineEst.collect().toSeq,
      "store-fed weekly frequency panel diverges from the inline merge")
    // and every estimate upper-bounds the exact count (CMS's guarantee —
    // the panel must never under-report a watched key)
    val exact = Sketches.dayValueKeys(spark, sf)
      .groupBy(expr("day_epoch div 7").as("week_epoch"), col("key"))
      .agg(count(lit(1)).as("n_true"))
    val under = SketchArtifacts.cmsWeekEstimates(spark, r)
      .join(exact, Seq("week_epoch", "key"))
      .filter(col("est") < col("n_true"))
    assert(under.count() == 0, "a CMS estimate under-reports a probe key")
    spark.catalog.clearCache(): Unit
  }

  test("stream index store: day append == union rebuild (manifest-equal)") {
    import operators.StreamArtifacts
    graft.functions.Kernels.register(spark)
    val docs = sources.Tables.documents(spark, sf)
    val standing = docs.filter(col("doc_id") % sources.Feeds.IncrMod
      =!= sources.Feeds.IncrRem)
    // the admitted day carries NEW doc ids (the appendDay contract — an
    // admitted doc is a new doc; the test feed reuses corpus ids, so
    // remap them out of band)
    val day = sources.Feeds.incomingDocs(spark, sf)
      .select((col("doc_id") + 60000000000L).as("doc_id"),
        col("text"), col("source"))
    def manifest(r: String, fam: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json"))

    // appended store: initial build + one day's admitted docs
    val rootA = tmpDir("graft-stream-append-")
    StreamArtifacts.write(spark, sf, rootA)
    StreamArtifacts.appendDay(spark, rootA, 1L, day)
    // rebuild over the UNION universe in one pass
    val rootB = tmpDir("graft-stream-rebuild-")
    val cols = Seq("doc_id", "text", "source")
    StreamArtifacts.writeFrom(spark,
      standing.select(cols.map(col): _*)
        .unionByName(day.select(cols.map(col): _*)),
      docs.select(cols.map(col): _*)
        .unionByName(day.select(cols.map(col): _*)), rootB)
    for (f <- StreamArtifacts.Families)
      assert(manifest(rootA, f) == manifest(rootB, f),
        s"append-built $f diverges from the union rebuild")

    // the appended store's READ views equal in-session builds over the
    // union — the gates would score tomorrow's feed against exactly the
    // index a full rebuild would give them
    val union = standing.select(cols.map(col): _*)
      .unionByName(day.select(cols.map(col): _*))
    val (ihLive, csLive) =
      operators.DedupOps.buildIncrementalIndex(spark, union)
    def sameRows(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.count() == b.count() && a.except(b).count() == 0 &&
        b.except(a).count() == 0, s"$what diverges from the union build")
    sameRows(StreamArtifacts.incrHash(spark, rootA), ihLive, "incr_hash")
    sameRows(StreamArtifacts.incrSigs(spark, rootA), csLive, "incr_sigs")
    sameRows(StreamArtifacts.gramIndex(spark, rootA),
      operators.Pipeline.standingGramIndexOf(union), "gram_index")
    spark.catalog.clearCache()

    // CROSS-SLICE merge semantics, constructed: append a day carrying a
    // byte-identical copy of a standing doc under a LARGER id. The exact
    // index must keep the STANDING partner (min across slices), and the
    // copy's spans — seen once standing, once appended — must now be
    // duplicate spans, which neither slice alone could call
    val spanSeed = operators.DedupOps.anchoredSpans(docs)
      .select("doc_id").limit(1).collect()
    assert(spanSeed.nonEmpty, "fixture has no anchored spans")
    val seedId = spanSeed.head.getLong(0)
    val seed = docs.filter(col("doc_id") === seedId)
      .select("doc_id", "text", "source").collect().head
    val sp = spark
    import sp.implicits._
    val day2 = Seq((50000000007L, seed.getString(1), seed.getString(2)))
      .toDF("doc_id", "text", "source")
    val before = StreamArtifacts.spanIndex(spark, rootA).count()
    StreamArtifacts.appendDay(spark, rootA, 2L, day2)
    val hashRow = StreamArtifacts.incrHash(spark, rootA)
      .filter(col("h") === md5(lower(trim(lit(seed.getString(1))))
        .cast("binary")))
      .collect()
    assert(hashRow.length == 1 &&
      hashRow.head.getAs[Long]("exact_partner") != 50000000007L,
      "appended copy must not displace the standing exact partner")
    val seedSpans = operators.DedupOps.anchoredSpans(day2)
      .select("span_hash").distinct()
    val after = StreamArtifacts.spanIndex(spark, rootA)
    assert(after.join(seedSpans, Seq("span_hash")).count() ==
      seedSpans.count(),
      "cross-slice duplicate spans must surface in the merged index")
    assert(after.count() >= before)
    spark.catalog.clearCache()

    // deferred re-stamp: data ahead of manifest → verified readers fail
    // fast; the explicit restamp restores every consumer
    StreamArtifacts.appendDay(spark, rootA, 3L,
      Seq((50000000017L, (1 to 40).map(i => s"zzq$i").mkString(" "), "synth"))
        .toDF("doc_id", "text", "source"), restamp = false)
    val e = intercept[RuntimeException](
      StreamArtifacts.gramIndex(spark, rootA).collect())
    assert(e.getMessage.contains("failed verification"),
      s"stale-manifest read: wrong error: ${e.getMessage}")
    StreamArtifacts.restamp(spark, rootA)
    assert(StreamArtifacts.gramIndex(spark, rootA).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("dedup artifacts record their build geometry; mismatch fails fast") {
    // round 12: the sketch-store params contract extended to the dedup
    // stores — every manifest must carry the generator's session
    // constants, not an empty map
    for (m <- DedupArtifacts.PairMethods) {
      val rec = DedupArtifacts.manifestParams(spark, s"$root/pairs_$m")
      assert(rec.exists(_.nonEmpty), s"pairs_$m manifest records no params")
      assert(rec.get == DedupArtifacts.pairParams(m),
        s"pairs_$m manifest params != the build geometry")
    }
    assert(DedupArtifacts.manifestParams(spark, s"$root/components").get ==
      DedupArtifacts.componentParams,
      "components manifest params != the build geometry")
    // a reader stating a DIFFERENT geometry fails fast naming both sides
    val e = intercept[RuntimeException](
      DedupArtifacts.readVerified(spark, s"$root/pairs_minhash_lsh",
        DedupArtifacts.pairParams("minhash_lsh") + ("bands" -> "8")))
    assert(e.getMessage.contains("geometry mismatch") &&
      e.getMessage.contains("bands=8"),
      s"wrong mismatch error: ${e.getMessage}")
    // write-time validation: a param that would break the regex-parsed
    // manifest must fail the BUILD, not a later read
    val bad = intercept[RuntimeException](
      DedupArtifacts.writeManifest(spark, tmpDir("graft-badparam-"),
        0L, 0L, Map("k" -> """va"l""")))
    assert(bad.getMessage.contains("[A-Za-z0-9_.-]+"),
      s"wrong param-charset error: ${bad.getMessage}")
  }

  test("qsketch store: per-day append == single-pass rebuild (manifest-equal)") {
    import operators.{SketchArtifacts, Sketches}
    val full = tmpDir("graft-sketch-full-")
    val incr = tmpDir("graft-sketch-incr-")
    SketchArtifacts.write(spark, sf, full)
    def manifestOf(root: String, sub: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$root/$sub/_graft_manifest.json"))
    def manifest(root: String): String = manifestOf(root, "qsketch_day")
    val days = sources.Tables.events(spark, sf)
      .select(expr("ts div 86400000000000").as("d"))
      .distinct().orderBy("d").collect().map(_.getLong(0)).toSeq
    assert(days.size > 5, s"fixture too small: ${days.size} days")
    // the nightly cadence: each day's ingest appends ONLY its own slice —
    // all three day-grain families
    days.foreach { d =>
      SketchArtifacts.appendQsketchDayFrom(spark, sf, incr, d)
      SketchArtifacts.appendCmsDayFrom(spark, sf, incr, d)
      SketchArtifacts.appendHllDayFrom(spark, sf, incr, d)
    }
    assert(manifest(incr) == manifest(full),
      "append-built store manifest diverges from the single-pass rebuild")
    for (sub <- Seq("cms_day", "hll_day"))
      assert(manifestOf(incr, sub) == manifestOf(full, sub),
        s"append-built $sub diverges from the single-pass rebuild")
    assert(SketchArtifacts.valueQuantileDrift(spark, incr).collect().toSeq ==
      Sketches.valueQuantileDrift(spark, sf).collect().toSeq,
      "append-built store B55 diverges from inline")
    // IDEMPOTENT: a retried day leaves the store byte-identical
    SketchArtifacts.appendQsketchDayFrom(spark, sf, incr, days.head)
    assert(manifest(incr) == manifest(full), "retried append changed the store")
    // RESTATEMENT: a corrupted day is fixed by re-appending the true feed
    val sp = spark
    SketchArtifacts.appendQsketchDay(sp, incr, days.head,
      sources.Tables.events(sp, sf)
        .filter(expr("ts div 86400000000000") === lit(days.head))
        .withColumn("value", col("value") * lit(2.0)))
    assert(manifest(incr) != manifest(full), "corrupted restatement was a no-op")
    SketchArtifacts.appendQsketchDayFrom(sp, sf, incr, days.head)
    assert(manifest(incr) == manifest(full),
      "restated day did not restore append == rebuild")
    // geometry handshake on APPEND: a wrong-s append fails BEFORE writing
    val e = intercept[RuntimeException](
      SketchArtifacts.appendQsketchDayFrom(sp, sf, incr, days.head, s = 3))
    assert(e.getMessage.contains("geometry mismatch"),
      s"wrong-s append: wrong error: ${e.getMessage}")
    assert(manifest(incr) == manifest(full), "failed append mutated the store")
    spark.catalog.clearCache(): Unit
  }

  test("ANN index store: day append == frozen-quantizer rebuild (manifest-equal)") {
    import operators.{AnnArtifacts, EmbeddingOps}
    graft.functions.Kernels.register(spark)
    def manifest(r: String, fam: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json"))
    val baseV = EmbeddingOps.vectors(spark, sf)
    // the admitted day: a third of the corpus's vectors under NEW ids
    // (the appendDay contract — an admitted vector is a new vector)
    val day = sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 70000000000L).as("vec_id"),
        col("label"), col("embedding"))

    // appended store: initial build + one day assigned via the PERSISTED
    // frozen quantizer
    val rootA = tmpDir("graft-ann-append-")
    AnnArtifacts.write(spark, sf, rootA)
    AnnArtifacts.appendDay(spark, rootA, 1L, day)
    // one-pass rebuild over the union under the SAME frozen quantizer
    // (trained on the base corpus alone — appends never retrain it)
    val rootB = tmpDir("graft-ann-rebuild-")
    val dayV = day.select(col("vec_id"), col("label"), col("embedding"),
      expr("graft_norm2(embedding)").as("n2"))
    AnnArtifacts.writeFrom(spark, baseV.unionByName(dayV),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.IvfK),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.PqK)
        .select("cent_id", "c_emb"),
      rootB)
    for (f <- Seq("flat", "ivf_cells", "pq_codes",
        "ivf_centroids", "pq_codebook"))
      assert(manifest(rootA, f) == manifest(rootB, f),
        s"append-built $f diverges from the frozen-quantizer rebuild")

    // the appended store answers searches exactly as the rebuild does,
    // and still scans zero embeddings parquet
    assert(AnnArtifacts.annIvf(spark, rootA).collect().toSeq ==
      AnnArtifacts.annIvf(spark, rootB).collect().toSeq,
      "appended-store IVF search diverges from the rebuild's")
    spark.catalog.clearCache()
    val scans = filesUnder(
      AnnArtifacts.annIvf(spark, rootA).queryExecution.executedPlan)
    assert(!scans.exists(_.contains("embeddings.parquet")),
      s"appended-store search scans the embeddings table: $scans")
    spark.catalog.clearCache()

    // deferred re-stamp: data ahead of manifest → verified readers fail
    // fast; the explicit restamp restores every consumer
    AnnArtifacts.appendDay(spark, rootA, 2L,
      day.withColumn("vec_id", col("vec_id") + 1000000000L),
      restamp = false)
    val e = intercept[RuntimeException](
      AnnArtifacts.flat(spark, rootA).collect())
    assert(e.getMessage.contains("failed verification"),
      s"stale-manifest read: wrong error: ${e.getMessage}")
    AnnArtifacts.restamp(spark, rootA)
    assert(AnnArtifacts.flat(spark, rootA).count() > 0)

    // geometry handshake on APPEND: a wrong-k append fails BEFORE writing
    val g = intercept[RuntimeException](
      AnnArtifacts.appendDay(spark, rootA, 3L, day, k = 7))
    assert(g.getMessage.contains("geometry mismatch"),
      s"wrong-k append: wrong error: ${g.getMessage}")
    assert(AnnArtifacts.flat(spark, rootA).count() > 0,
      "failed append left the store unreadable")
    spark.catalog.clearCache()

    // compaction: the 0/1/2 slices merge into one; manifests (canonical
    // digest) and search answers are INVARIANT
    val vecFams = Seq("flat", "ivf_cells", "pq_codes")
    val preM = vecFams.map(f => f -> manifest(rootA, f)).toMap
    val preSearch = AnnArtifacts.annIvf(spark, rootA).collect().toSeq
    spark.catalog.clearCache()
    AnnArtifacts.compact(spark, rootA, 2L)
    def sliceDirs(fam: String): Seq[String] =
      new java.io.File(s"$rootA/$fam").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("ingest_day=")).sorted
    for (f <- vecFams) {
      assert(sliceDirs(f) == Seq("ingest_day=2"),
        s"$f not compacted to one slice: ${sliceDirs(f)}")
      assert(manifest(rootA, f) == preM(f),
        s"$f manifest changed under compaction")
    }
    assert(AnnArtifacts.annIvf(spark, rootA).collect().toSeq == preSearch,
      "IVF search changed under compaction")
    spark.catalog.clearCache(): Unit
  }

  test("stream index stats: store-fed, zero corpus scans") {
    import operators.StreamArtifacts
    val r = tmpDir("graft-stream-stats-")
    StreamArtifacts.write(spark, sf, r)
    val df = StreamArtifacts.streamIndexStats(spark, r)
    val scans = filesUnder(df.queryExecution.executedPlan)
    assert(!scans.exists(_.contains("documents.parquet")),
      s"C118 scans the corpus: $scans")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("gram_index", "incr_hash", "incr_sigs", "span_index"))
    for (row <- rows) {
      assert(row.getLong(2) <= row.getLong(1),
        s"${row.getString(0)}: n_keys > n_rows")
      assert(row.getLong(3) <= row.getLong(1),
        s"${row.getString(0)}: n_gate > n_rows")
      assert(row.getLong(1) > 0, s"${row.getString(0)}: empty family")
    }
    spark.catalog.clearCache(): Unit
  }

  test("snapshot memo: a re-read skips the digest; append and compaction re-verify (exact job pins)") {
    import operators.StreamArtifacts
    val r = tmpDir("graft-stream-stats-memo-")
    StreamArtifacts.write(spark, sf, r)
    def read(): (Int, Seq[org.apache.spark.sql.Row]) = {
      var rows = Seq.empty[org.apache.spark.sql.Row]
      val jobs = graft.obs.Meter.measure(spark) {
        rows = StreamArtifacts.streamIndexStats(spark, r).collect().toSeq
      }.jobs
      (jobs, rows)
    }
    // the first read digests all four families; a re-read of the same
    // snapshot runs the handshake and the stats alone
    val (first, rows0) = read()
    assert((first, read()) == (26, (15, rows0)), "first and second read")
    // an appended day changes every family's listing and manifest
    val sp = spark
    import sp.implicits._
    StreamArtifacts.appendDay(spark, r, 1L,
      Seq((92000000001L, (1 to 30).map(i => s"mmz$i").mkString(" "), "synth"))
        .toDF("doc_id", "text", "source"), restamp = true)
    val (afterAppend, rows1) = read()
    assert(afterAppend == first && rows1 != rows0, "first read after the append")
    assert(read() == (15, rows1))
    // compaction publishes new part files under the same manifest
    StreamArtifacts.compact(spark, r, 1L)
    assert(read() == (first, rows1), "first read after the compaction")
    assert(read() == (15, rows1))
    spark.catalog.clearCache(): Unit
  }

  test("snapshot memo: a file rewritten after a verified read fails; failures record nothing") {
    val r2 = tmpDir("graft-artifacts-rewrite-")
    DedupArtifacts.writeComponents(spark, sf, r2)
    val path = s"$r2/components"
    DedupArtifacts.readVerified(spark, path).count(): Unit
    // one data file replaced out of band by another part's bytes: valid
    // parquet, different rows (its checksum sidecar goes too, so the
    // local FS reads the new bytes unchecked)
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length >= 2)
    java.nio.file.Files.copy(parts(1).toPath, parts(0).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    new java.io.File(path, s".${parts(0).getName}.crc").delete(): Unit
    // the same read, twice on the same files: a failed read records
    // nothing, so the retry digests and fails again
    for (attempt <- 1 to 2) {
      val e = intercept[RuntimeException](
        DedupArtifacts.readVerified(spark, path).count())
      assert(e.getMessage.contains("failed verification"),
        s"read $attempt: ${e.getMessage}")
    }
    spark.catalog.clearCache(): Unit
  }

  test("gram store v2: 16-byte binary keys; a v1 hex family fails fast") {
    import operators.StreamArtifacts
    import org.apache.spark.sql.types.BinaryType
    val r = tmpDir("graft-gram-v2-")
    StreamArtifacts.write(spark, sf, r)
    val gramDir = s"$r/gram_index"
    val persisted = spark.read.parquet(gramDir)
    assert(persisted.schema("gram_hash").dataType == BinaryType)
    assert(persisted.filter(length(col("gram_hash")) =!= 16).count() == 0,
      "every persisted gram_hash must be exactly 16 bytes")

    // the same keys written as lowercase hex, in the same layout: the v1
    // encoding's bytes
    def dataBytes(dir: String): Long = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try files.filter(_.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally files.close()
    }
    val hexDir = tmpDir("graft-gram-v1-") + "/gram_index"
    persisted.select(lower(hex(col("gram_hash"))).as("gram_hash"),
        col("ingest_day"))
      .repartition(col("ingest_day"))
      .write.partitionBy("ingest_day").parquet(hexDir)
    val (bin, hx) = (dataBytes(gramDir), dataBytes(hexDir))
    info(s"gram_index: binary $bin B, hex $hx B")
    assert(bin < 0.65 * hx, s"binary $bin B vs hex $hx B")

    // hand-make a v1 family in place: the hex rows plus the manifest the
    // v1 code stamped (its params, no schema_version)
    val v1Params = Map("family" -> "gram_index",
      "incr_mod" -> sources.Feeds.IncrMod.toString,
      "incr_rem" -> sources.Feeds.IncrRem.toString)
    DedupArtifacts.refreshManifest(spark, hexDir, v1Params,
      raw => raw.drop("ingest_day").distinct())
    val famDir = java.nio.file.Paths.get(gramDir)
    val files = java.nio.file.Files.walk(famDir)
    try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(java.nio.file.Files.delete(_))
    finally files.close()
    java.nio.file.Files.move(java.nio.file.Paths.get(hexDir), famDir)
    spark.catalog.clearCache()
    def manifest(f: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$r/$f/_graft_manifest.json"))
    def slices(f: String) = new java.io.File(s"$r/$f").list()
      .filter(_.startsWith("ingest_day=")).sorted.toSeq
    val m1 = manifest("gram_index")
    assert(!m1.contains("schema_version"))
    val before = StreamArtifacts.Families.map(f => f -> slices(f)).toMap

    val sp = spark
    import sp.implicits._
    val day = Seq((92000000001L, (1 to 30).map(i => s"gvx$i").mkString(" "),
      "synth")).toDF("doc_id", "text", "source")
    val calls: Seq[(String, () => Any)] = Seq(
      "gramIndex" -> (() => StreamArtifacts.gramIndex(spark, r).collect()),
      "streamIndexStats" ->
        (() => StreamArtifacts.streamIndexStats(spark, r).collect()),
      "appendDay" -> (() => StreamArtifacts.appendDay(spark, r, 1L, day)),
      "restamp" -> (() => StreamArtifacts.restamp(spark, r)))
    for ((name, call) <- calls) {
      val e = intercept[RuntimeException](call())
      assert(e.getMessage.contains("schema_version") &&
        e.getMessage.contains("rebuild the family"),
        s"$name on a v1 family: wrong error: ${e.getMessage}")
      assert(!e.getMessage.contains("\n"), s"$name: multi-line error")
    }
    assert(manifest("gram_index") == m1, "the v1 manifest was rewritten")
    assert(StreamArtifacts.Families.map(f => f -> slices(f)).toMap == before,
      "a slice landed on a store with a v1 family")
    spark.catalog.clearCache(): Unit
  }

  test("stream index store: slice compaction preserves the canonical view") {
    import operators.StreamArtifacts
    graft.functions.Kernels.register(spark)
    def manifest(r: String, fam: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json"))
    def sliceDirs(r: String, fam: String): Seq[String] =
      new java.io.File(s"$r/$fam").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("ingest_day=")).sorted
    val r = tmpDir("graft-stream-compact-")
    StreamArtifacts.write(spark, sf, r)
    // three nightly appends (fresh ids, deliberately duplicate TEXT so
    // the cross-slice merges carry real weight), batch re-stamp
    (1L to 3L).foreach { d =>
      StreamArtifacts.appendDay(spark, r, d,
        sources.Feeds.incomingDocs(spark, sf)
          .select((col("doc_id") + lit(d * 80000000000L)).as("doc_id"),
            col("text"), col("source")),
        restamp = false)
    }
    StreamArtifacts.restamp(spark, r)
    val beforeM = StreamArtifacts.Families.map(f => f -> manifest(r, f)).toMap
    // materialize the gate views EAGERLY — compaction replaces the files
    // their lazy plans would re-scan
    def views(): Seq[(String, Seq[String])] = Seq(
      "incr_hash" -> StreamArtifacts.incrHash(spark, r),
      "incr_sigs" -> StreamArtifacts.incrSigs(spark, r),
      "gram_index" -> StreamArtifacts.gramIndex(spark, r),
      "span_index" -> StreamArtifacts.spanIndex(spark, r))
      .map { case (n, df) =>
        // stringify binary cells by content — Row.toString prints byte
        // arrays by identity ([B@…), which can never compare equal
        n -> df.collect().map(_.toSeq.map {
          case b: Array[Byte] => java.util.Arrays.toString(b)
          case x => String.valueOf(x)
        }.mkString("[", ",", "]")).sorted.toSeq
      }
    val before = views()
    for (f <- StreamArtifacts.Families)
      assert(sliceDirs(r, f).size == 4, s"$f should hold 4 slices")

    // PARTIAL compaction first (the weekly cadence: compact behind the
    // restatement horizon): days 0-1 merge into slice 1, days 2-3 keep
    // their slice identity — manifests and gate views still invariant
    StreamArtifacts.compact(spark, r, 1L)
    for (f <- StreamArtifacts.Families) {
      assert(sliceDirs(r, f) ==
        Seq("ingest_day=1", "ingest_day=2", "ingest_day=3"),
        s"$f partial compaction wrong: ${sliceDirs(r, f)}")
      assert(manifest(r, f) == beforeM(f),
        s"$f manifest changed under partial compaction")
    }
    for (((n, pre), (_, post)) <- before.zip(views()))
      assert(pre == post, s"$n changed under partial compaction")

    // then compact the whole log into one slice: the canonical digest —
    // and with it the manifest — must be INVARIANT, and every gate view
    // row-identical
    StreamArtifacts.compact(spark, r, 3L)
    for (f <- StreamArtifacts.Families) {
      assert(sliceDirs(r, f) == Seq("ingest_day=3"),
        s"$f not compacted to one slice: ${sliceDirs(r, f)}")
      assert(manifest(r, f) == beforeM(f),
        s"$f manifest changed under compaction")
    }
    for (((n, pre), (_, post)) <- before.zip(views()))
      assert(pre == post, s"$n changed under compaction")

    // idempotent: a single-slice log is a no-op
    StreamArtifacts.compact(spark, r, 3L)
    for (f <- StreamArtifacts.Families)
      assert(manifest(r, f) == beforeM(f), s"no-op compaction changed $f")
    assert(sliceDirs(r, "gram_index") == Seq("ingest_day=3"))

    // the nightly cadence continues against the compacted base
    val sp = spark
    import sp.implicits._
    StreamArtifacts.appendDay(spark, r, 4L,
      Seq((90000000001L, (1 to 40).map(i => s"qqz$i").mkString(" "), "synth"))
        .toDF("doc_id", "text", "source"))
    assert(sliceDirs(r, "gram_index") == Seq("ingest_day=3", "ingest_day=4"))
    assert(StreamArtifacts.gramIndex(spark, r).count() >
      before.toMap.apply("gram_index").size,
      "post-compaction append did not extend the gram index")
    spark.catalog.clearCache(): Unit
  }

  test("compaction cadence: no-op below K, fires above, replay horizon") {
    import operators.StreamArtifacts
    graft.functions.Kernels.register(spark)
    def manifest(r: String, fam: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json"))
    def sliceDirs(r: String, fam: String): Seq[String] =
      new java.io.File(s"$r/$fam").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("ingest_day=")).sorted
    val r = tmpDir("graft-cadence-")
    StreamArtifacts.write(spark, sf, r)
    (1L to 4L).foreach { d =>
      StreamArtifacts.appendDay(spark, r, d,
        sources.Feeds.incomingDocs(spark, sf)
          .select((col("doc_id") + lit(d * 80000000000L)).as("doc_id"),
            col("text"), col("source")),
        restamp = false)
    }
    StreamArtifacts.restamp(spark, r)
    val m0 = StreamArtifacts.Families.map(f => f -> manifest(r, f)).toMap
    // 5 slices (0-4). Below the threshold: the policy is a pure FS
    // decision — no compaction, no layout change, no manifest touch
    assert(!StreamArtifacts.compactIfNeeded(spark, r, maxSlices = 8))
    assert(sliceDirs(r, "gram_index").size == 5)
    // above the threshold with day 4 protected as the replay horizon:
    // slices 0-3 merge into slice 3; slice 4 keeps its identity, so a
    // replayed appendDay(4) can only replace its OWN day — never the
    // merged history. The canonical digest is invariant through it.
    assert(StreamArtifacts.compactIfNeeded(spark, r, maxSlices = 2,
      protectFrom = 4L))
    for (f <- StreamArtifacts.Families) {
      assert(sliceDirs(r, f) == Seq("ingest_day=3", "ingest_day=4"),
        s"$f: ${sliceDirs(r, f)}")
      assert(manifest(r, f) == m0(f), s"$f manifest changed under cadence")
    }
    // back under the threshold: the next night is a no-op again
    assert(!StreamArtifacts.compactIfNeeded(spark, r, maxSlices = 2,
      protectFrom = 5L))
    // the replayed day swaps only its slice and the store stays whole
    StreamArtifacts.appendDay(spark, r, 4L,
      sources.Feeds.incomingDocs(spark, sf)
        .select((col("doc_id") + lit(4L * 80000000000L)).as("doc_id"),
          col("text"), col("source")))
    for (f <- StreamArtifacts.Families)
      assert(manifest(r, f) == m0(f), s"$f replay day-4 changed the digest")
    spark.catalog.clearCache(): Unit
  }

  test("store recovery: stranded publish restored, missing manifest FAILS") {
    import operators.{AnnArtifacts, StreamArtifacts}
    graft.functions.Kernels.register(spark)
    val sp = spark
    import sp.implicits._
    val day = Seq((91000000001L, (1 to 30).map(i => s"rrx$i").mkString(" "),
      "synth")).toDF("doc_id", "text", "source")
    val dayVectors = sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 91000000000L).as("vec_id"), col("label"),
        col("embedding"))
    // every slice-log store takes the same scenario: (store, the family
    // the crash hits, build, day append, compact, recover)
    val stores = Seq[(String, String, String => Unit, (String, Long) => Unit,
        (String, Long) => Unit, String => Boolean)](
      ("stream", "incr_hash", StreamArtifacts.write(spark, sf, _),
        (r, d) => StreamArtifacts.appendDay(spark, r, d, day),
        StreamArtifacts.compact(spark, _, _), StreamArtifacts.recover(spark, _)),
      ("ann", "flat", AnnArtifacts.write(spark, sf, _),
        (r, d) => AnnArtifacts.appendDay(spark, r, d, dayVectors),
        AnnArtifacts.compact(spark, _, _), AnnArtifacts.recover(spark, _)))
    for ((store, fam, build, appendDay, compact, recover) <- stores) {
      val r = tmpDir(s"graft-recover-$store-")
      build(r)
      val mPath = java.nio.file.Paths.get(s"$r/$fam/_graft_manifest.json")
      // nothing to repair on a healthy store
      assert(!recover(r), store)
      // the manifest TRAVELS WITH compaction's publish (round 15): after a
      // real multi-slice compaction the manifest is present and byte-equal
      // IMMEDIATELY after the swap — there is no re-stamp window a crash
      // could land in
      appendDay(r, 1L)
      val m1 = java.nio.file.Files.readString(mPath)
      compact(r, 1L)
      assert(java.nio.file.Files.readString(mPath) == m1,
        s"$store: compaction's publish did not carry the manifest through")
      // a missing manifest is now unambiguously a HALF-BUILT store (crash
      // between the initial family write and its first stamp, params
      // unknown): the append handshake fails fast, recover() REFUSES to
      // bless it with caller-asserted params (the round-14 advisor's
      // finding), and compact() refuses to launder it into a publish
      java.nio.file.Files.delete(mPath)
      val e = intercept[RuntimeException](appendDay(r, 9L))
      assert(e.getMessage.contains("no manifest"), s"$store: ${e.getMessage}")
      val e2 = intercept[RuntimeException](recover(r))
      assert(e2.getMessage.contains("half-built"), s"$store: ${e2.getMessage}")
      val e3 = intercept[RuntimeException](compact(r, 9L))
      assert(e3.getMessage.contains("no manifest"), s"$store: ${e3.getMessage}")
      // the rebuild-analog for the test: restore the known-good manifest
      java.nio.file.Files.writeString(mPath, m1): Unit
      // crash-mid-publish: the family dir is staged out under _<f>.old —
      // recover() renames it back, manifest intact inside
      val famDir = java.nio.file.Paths.get(s"$r/$fam")
      val oldDir = java.nio.file.Paths.get(s"$r/_$fam.old")
      java.nio.file.Files.move(famDir, oldDir)
      assert(recover(r), store)
      assert(java.nio.file.Files.exists(mPath) &&
        java.nio.file.Files.readString(mPath) == m1,
        s"$store: stranded family not restored")
      assert(!recover(r), store)
      spark.catalog.clearCache()
    }
  }

  test("nightly runner: 3 composed days, sane report, crash-replay idempotent") {
    import operators.{AnnArtifacts, Nightly, SketchArtifacts, StreamArtifacts}
    graft.functions.Kernels.register(spark)
    val work = tmpDir("graft-nightly-spec-")
    val (skR, stR, anR) = (s"$work/sk", s"$work/st", s"$work/an")
    SketchArtifacts.write(spark, sf, skR)
    StreamArtifacts.write(spark, sf, stR)
    AnnArtifacts.write(spark, sf, anR)
    def dayEvents(d: Long) = sources.Tables.events(spark, sf).limit(200)
      .select((lit(d) * 86400000000000L + col("ts") % 86400000000000L)
        .as("ts"), col("value"), col("user_id"))
    def dayDocs(d: Long) = sources.Feeds.incomingDocs(spark, sf)
      .select((col("doc_id") + lit(d * 80000000000L)).as("doc_id"),
        col("text"), col("source"))
    def dayVectors(d: Long) = sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + lit(d * 80000000000L)).as("vec_id"),
        col("label"), col("embedding"))
    def run(d: Long) = Nightly.runDay(spark, d, skR, stR, anR,
      dayEvents(d), dayDocs(d), dayVectors(d)).collect()
    val reports = (1L to 3L).map(run)
    // report shape: 7 step rows + the total, every step ok, appends
    // landed what the feeds carried
    reports.foreach { rows =>
      assert(rows.length == 8, rows.mkString("; "))
      assert(rows.map(_.getLong(0)).toSeq == (1L to 8L), rows.mkString("; "))
      assert(rows.forall(_.getBoolean(6)), rows.mkString("; "))
      val byStep = rows.map(r => r.getLong(0) -> r).toMap
      assert(byStep(4).getString(1) == "stream_index" &&
        byStep(4).getLong(3) == dayDocs(1L).count())
      assert(byStep(5).getString(1) == "ann_index" &&
        byStep(5).getLong(3) == dayVectors(1L).count())
      // the sketch day slices are fixed-size: one row per family per day
      (1 to 3).foreach(i => assert(byStep(i.toLong).getLong(4) == 1L,
        byStep(i.toLong).toString))
      assert(byStep(8).getString(2) == "resumen")
    }
    def manifests(): Map[String, String] =
      (StreamArtifacts.Families.map(f => s"st/$f" -> s"$stR/$f") ++
        Seq("an/flat" -> s"$anR/flat", "an/ivf_cells" -> s"$anR/ivf_cells",
          "an/pq_codes" -> s"$anR/pq_codes", "sk/qsketch_day" ->
            s"$skR/qsketch_day", "sk/cms_day" -> s"$skR/cms_day",
          "sk/hll_day" -> s"$skR/hll_day"))
        .map { case (n, p) => n -> java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$p/_graft_manifest.json")) }.toMap
    val after3 = manifests()
    // CRASH-REPLAY through the composed runner: a crash inside day 3's
    // store maintenance left (say) a stream family stranded mid-publish
    // under _<f>.old (the one writer-crash state left now that the
    // manifest travels with compaction's publish). The replayed runDay
    // must restore it in its prologue, re-append day 3 idempotently,
    // and leave every store manifest-identical
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$stR/incr_sigs"),
      java.nio.file.Paths.get(s"$stR/_incr_sigs.old"))
    val replay = run(3L)
    assert(replay.forall(_.getBoolean(6)), replay.mkString("; "))
    assert(manifests() == after3,
      "crash-replay of day 3 changed a store digest")
    // and a plain (no-crash) replay is idempotent too
    val replay2 = run(3L)
    assert(manifests() == after3, "replay of day 3 changed a store digest")
    assert(replay2.map(_.toString).toSeq == replay.map(_.toString).toSeq,
      "replayed report diverges")
    // EMPTY-DAY GUARD (round 15): a quiet day — all three feeds empty —
    // must skip every append (an all-empty slice writes a schemaless
    // parquet dir the canonical re-read cannot open), flag each append
    // step ok=false with n_entrada=0, and leave every store manifest
    // byte-identical to the day-3 state
    val quiet = Nightly.runDay(spark, 4L, skR, stR, anR,
      dayEvents(4L).limit(0), dayDocs(4L).limit(0),
      dayVectors(4L).limit(0)).collect()
    val appendRows = quiet.filter(_.getString(2) == "append")
    assert(appendRows.length == 5, quiet.mkString("; "))
    appendRows.foreach { r =>
      assert(r.getLong(3) == 0L && r.getLong(4) == 0L && !r.getBoolean(6),
        s"empty-day append row not flagged: $r")
    }
    assert(manifests() == after3, "an empty day mutated a store")
    spark.catalog.clearCache(): Unit
  }

  // ---- the concurrent night: Nightly.runDay runs its three store chains,
  // and the stream store its four families, concurrently

  private def nightEvents(d: Long) = sources.Tables.events(spark, sf)
    .limit(200)
    .select((lit(d) * 86400000000000L + col("ts") % 86400000000000L)
      .as("ts"), col("value"), col("user_id"))
  private def nightDocs(d: Long) = sources.Feeds.incomingDocs(spark, sf)
    .select((col("doc_id") + lit(d * 80000000000L)).as("doc_id"),
      col("text"), col("source"))
  private def nightVectors(d: Long) = sources.Tables.embeddings(spark, sf)
    .filter(col("vec_id") % 5 === 0)
    .select((col("vec_id") + lit(d * 80000000000L)).as("vec_id"),
      col("label"), col("embedding"))

  /** Every job the listener bus delivers: its job group, and its end
    * time as Spark stamped it. */
  private final class JobLog
      extends org.apache.spark.scheduler.SparkListener {
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      groups.put(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("<none>")): Unit
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      ends.put(e.jobId, e.time): Unit
    def ids: Seq[Int] = groups.keySet.toArray.toSeq.map(_.asInstanceOf[Int])
    def endedBy(id: Int, t: Long): Boolean =
      ends.containsKey(id) && ends.get(id) <= t
  }

  /** Listen to the jobs `body` runs (events drained on both sides). */
  private def logJobs[A](body: => A): (A, JobLog) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftBus.drain(sc)
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val out = body
      org.apache.spark.GraftBus.drain(sc)
      (out, log)
    } finally sc.removeSparkListener(log)
  }

  private val NightMaxSlices = 3 // base + 3 days: night 3 compacts

  private final class Nights(val conc: (String, String, String),
      val seq: (String, String, String),
      val concReports: Seq[Seq[Seq[Any]]],
      val seqReports: Seq[Seq[Seq[Any]]], val jobs: JobLog)

  /** Three nights over two copies of one freshly built store set: `conc`
    * through [[operators.Nightly.runDay]] under the caller's job group
    * "g", `seq` through the same public calls made one after another on
    * the test thread (its report assembled here, its slice rows counted
    * by Spark). `seq` runs first, so a pool that outlived its call would
    * already hold threads when `conc` runs. */
  private lazy val nights: Nights = {
    import operators.{AnnArtifacts, Nightly, SketchArtifacts, StreamArtifacts}
    graft.functions.Kernels.register(spark)
    val work = tmpDir("graft-concurrent-night-")
    def roots(s: String) = (s"$work/$s/sk", s"$work/$s/st", s"$work/$s/an")
    val (conc, seq) = (roots("conc"), roots("seq"))
    SketchArtifacts.write(spark, sf, conc._1)
    StreamArtifacts.write(spark, sf, conc._2)
    AnnArtifacts.write(spark, sf, conc._3)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$work/conc"), fs,
      new org.apache.hadoop.fs.Path(s"$work/seq"), false, conf): Unit
    val annFams = Seq("flat", "ivf_cells", "pq_codes")
    def slices(root: String, fams: Seq[String], part: String): Long =
      fams.map(f => DedupArtifacts.sliceDays(spark, s"$root/$f", part)
        .length).max.toLong
    def rows(root: String, f: String, part: String, d: Long): Long =
      sources.Tables.readParquet(spark, s"$root/$f/$part=$d").count()
    def sequentialNight(d: Long): Seq[Seq[Any]] = {
      val (sk, st, an) = seq
      StreamArtifacts.recover(spark, st): Unit
      AnnArtifacts.recover(spark, an): Unit
      val nEvents = nightEvents(d).count()
      SketchArtifacts.appendQsketchDay(spark, sk, d, nightEvents(d))
      SketchArtifacts.appendCmsDay(spark, sk, d, nightEvents(d))
      SketchArtifacts.appendHllDay(spark, sk, d, nightEvents(d))
      val sketchSteps = Seq("qsketch_day", "cms_day", "hll_day")
        .zipWithIndex.map { case (f, i) =>
          (i + 1L, f, "append", nEvents, rows(sk, f, "day_epoch", d),
            slices(sk, Seq(f), "day_epoch"))
        }
      val nDocs = nightDocs(d).count()
      StreamArtifacts.appendDay(spark, st, d, nightDocs(d))
      val stBefore = slices(st, StreamArtifacts.Families, "ingest_day")
      val step4 = (4L, "stream_index", "append", nDocs,
        StreamArtifacts.Families.map(rows(st, _, "ingest_day", d)).sum,
        stBefore)
      val nVecs = nightVectors(d).count()
      AnnArtifacts.appendDay(spark, an, d, nightVectors(d))
      val anBefore = slices(an, annFams, "ingest_day")
      val step5 = (5L, "ann_index", "append", nVecs,
        annFams.map(rows(an, _, "ingest_day", d)).sum, anBefore)
      val stFired = StreamArtifacts.compactIfNeeded(spark, st,
        NightMaxSlices, protectFrom = d)
      val step6 = (6L, "stream_index",
        if (stFired) "compact" else "compact_noop", stBefore, 0L,
        slices(st, StreamArtifacts.Families, "ingest_day"))
      val anFired = AnnArtifacts.compactIfNeeded(spark, an,
        NightMaxSlices, protectFrom = d)
      val step7 = (7L, "ann_index",
        if (anFired) "compact" else "compact_noop", anBefore, 0L,
        slices(an, annFams, "ingest_day"))
      val steps = (sketchSteps ++ Seq(step4, step5, step6, step7)).map(t =>
        t.productIterator.toSeq :+ (t._3 != "append" || t._5 > 0L))
      steps :+ Seq(8L, "total", "resumen", steps.map(_(3).asInstanceOf[Long]).sum,
        steps.map(_(4).asInstanceOf[Long]).sum,
        steps.map(_(5).asInstanceOf[Long]).max,
        steps.forall(_(6).asInstanceOf[Boolean]))
    }
    val seqReports = (1L to 3L).map(sequentialNight)
    val sc = spark.sparkContext
    val (concReports, jobs) = logJobs {
      sc.setJobGroup("g", "concurrent night")
      try (1L to 3L).map { d =>
        Nightly.runDay(spark, d, conc._1, conc._2, conc._3, nightEvents(d),
          nightDocs(d), nightVectors(d), NightMaxSlices).collect()
          .map(_.toSeq).toSeq
      } finally sc.clearJobGroup()
    }
    new Nights(conc, seq, concReports, seqReports, jobs)
  }

  private def familyDirs(r: (String, String, String)): Seq[(String, String)] =
    Seq("qsketch_day", "cms_day", "hll_day").map(f => (s"${r._1}/$f", "day_epoch")) ++
      operators.StreamArtifacts.Families.map(f => (s"${r._2}/$f", "ingest_day")) ++
      Seq("flat", "ivf_cells", "pq_codes").map(f => (s"${r._3}/$f", "ingest_day"))

  test("concurrent night == the same calls in sequence; one job group; " +
      "a failed chain throws its own error with no job left running") {
    import operators.{AnnArtifacts, Nightly}
    spark.catalog.clearCache()
    val n = nights
    assert(spark.sharedState.cacheManager.isEmpty,
      "the nights left a cached relation behind")
    // night 3 compacted both index stores, so the compaction path ran
    assert(n.concReports(2).count(_(2) == "compact") == 2,
      n.concReports(2).mkString("; "))
    assert(n.concReports == n.seqReports,
      s"reports differ:\n${n.concReports}\n${n.seqReports}")
    def manifest(dir: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/_graft_manifest.json"))
    val fams = familyDirs(n.conc).map(_._1).zip(familyDirs(n.seq).map(_._1))
    assert(fams.length == 10)
    fams.foreach { case (c, s) =>
      assert(manifest(c) == manifest(s), s"$c manifest differs from $s")
    }
    // every job the three runDay calls scheduled ran under the caller's
    // job group: the chains' threads (and the stream families' threads
    // inside them) inherit the caller's local properties
    val groups = n.jobs.groups.values.toArray.toSeq
    assert(groups.nonEmpty && groups.forall(_ == "g"),
      s"${groups.count(_ != "g")} of ${groups.size} jobs outside group g")
    // an ANN store built at another IVF k: the ANN chain fails its
    // geometry handshake, the other chains run to the end, and runDay
    // throws the ANN error itself once nothing is running
    val badAnn = tmpDir("graft-ann-k-")
    AnnArtifacts.write(spark, sf, badAnn, k = operators.EmbeddingOps.IvfK + 1)
    val sc = spark.sparkContext
    val ((thrown, thrownAt, active, unlanded), jobs) = logJobs {
      val e = intercept[Exception](Nightly.runDay(spark, 4L, n.seq._1,
        n.seq._2, badAnn, nightEvents(4L), nightDocs(4L), nightVectors(4L),
        NightMaxSlices))
      (e, System.currentTimeMillis(), sc.statusTracker.getActiveJobIds().toSeq,
        // the sketch and stream chains' day-4 slices, missing at the throw
        familyDirs(n.seq).filterNot(_._1.startsWith(n.seq._3))
          .map { case (dir, part) => s"$dir/$part=4" }
          .filterNot(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d))))
    }
    assert(!thrown.isInstanceOf[java.util.concurrent.ExecutionException],
      s"runDay threw the pool's wrapper: $thrown")
    assert(thrown.getMessage.contains("geometry mismatch"), thrown.getMessage)
    assert(unlanded.isEmpty, s"runDay threw before these slices landed: $unlanded")
    // the status tracker learns of a job's end through the listener bus,
    // so an id it still listed at the throw must have ENDED (by Spark's
    // own end time) before it; and no job the call started ended later
    assert(active.forall(jobs.endedBy(_, thrownAt)),
      s"jobs still active when runDay threw: $active")
    assert(jobs.ids.forall(jobs.endedBy(_, thrownAt)),
      "a job of the failed night ended after runDay threw")
    assert(jobs.ids.size > 2, "the other chains did not run")
    spark.catalog.clearCache(): Unit
  }

  test("landed slices: footer row count == Spark's count, every slice") {
    val landed = familyDirs(nights.conc).flatMap { case (dir, part) =>
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray.toSeq
        .map(_.toString).filter(_.split('/').last.startsWith(s"$part="))
    }
    // 10 families × (base + 3 days), less the slices night 3 compacted
    assert(landed.size >= 20, landed.mkString(", "))
    landed.foreach { slice =>
      assert(sources.Tables.footerRows(spark, slice) ==
        sources.Tables.readParquet(spark, slice).count(), slice)
    }
  }

  test("concurrent store build: a failed family throws its own error after " +
      "its siblings land, under the caller's job group, no job left running") {
    import operators.SketchArtifacts
    val r = tmpDir("graft-sketch-fail-")
    val sc = spark.sparkContext
    // m = 24 is not a power of two: only hll_month fails
    val ((thrown, thrownAt, active), jobs) = logJobs {
      sc.setJobGroup("b", "store build")
      try {
        val e = intercept[Exception](SketchArtifacts.write(spark, sf, r, m = 24))
        (e, System.currentTimeMillis(), sc.statusTracker.getActiveJobIds().toSeq)
      } finally sc.clearJobGroup()
    }
    assert(thrown.isInstanceOf[IllegalArgumentException],
      s"the build threw $thrown, not the family's own error")
    val unlanded = Seq("cms_type", "qsketch_day", "cms_day", "hll_day")
      .filterNot(f => java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$r/$f/_graft_manifest.json")))
    assert(unlanded.isEmpty, s"the build threw before these landed: $unlanded")
    val groups = jobs.groups.values.toArray.toSeq
    assert(groups.nonEmpty && groups.forall(_ == "b"),
      s"${groups.count(_ != "b")} of ${groups.size} jobs outside group b")
    assert(active.forall(jobs.endedBy(_, thrownAt)),
      s"jobs still active when the build threw: $active")
    assert(jobs.ids.forall(jobs.endedBy(_, thrownAt)),
      "a job of the failed build ended after it threw")
    spark.catalog.clearCache(): Unit
  }
}
