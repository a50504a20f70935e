package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import graft.operators.{DedupArtifacts, EmbeddingOps}

/** Dev tool: proves the operator ↔ oracle PARAMETER coupling on
  * NON-DEFAULT arguments (the ANN family plus every later parameterized
  * query: PQ, ADC, the stratified sample). The registered oracle rows
  * cover the default constants; each parameterized oracle is a
  * `...SqlFor(params)` builder, and this main dumps the operators called
  * with non-default `probeBatch`/`probeLo`/`k` next to the SQL
  * re-interpolated from the SAME values — so
  * `tools/selfcheck.py` can hash-compare them exactly like the driver's
  * gate. A desync (operator honoring a parameter the SQL builder ignores,
  * or vice versa) fails here instead of silently shipping.
  *
  * Run: `sbt "runMain graft.ParamCheck <sfDir> <outDir>"` then
  * `python3 tools/selfcheck.py <sfDir> <outDir>`. */
object ParamCheck {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val tempRoots = scala.collection.mutable.ListBuffer.empty[String]
    // probeLo = 1, probeBatch = 2 → probe ids [100, 300); k = 2 → centroid
    // ids {50, 150} — all present at every test SF, all ≠ the defaults
    val variants: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
      ("q_ann_bruteforce_pb2lo1",
        (s, d) => EmbeddingOps.annBruteforce(s, d, probeBatch = 2, probeLo = 1),
        EmbeddingOps.annBruteforceSqlFor(probeBatch = 2, probeLo = 1)),
      ("q_ann_lsh_pb2lo1",
        (s, d) => EmbeddingOps.annLsh(s, d, probeBatch = 2, probeLo = 1),
        EmbeddingOps.annLshSqlFor(probeBatch = 2, probeLo = 1)),
      ("q_ann_ivf_k2_pb2lo1",
        (s, d) => EmbeddingOps.annIvf(s, d, k = 2, probeBatch = 2, probeLo = 1),
        EmbeddingOps.annIvfSqlFor(k = 2, probeBatch = 2, probeLo = 1)),
      ("q_ann_ivf_k2_pb2lo1_np1",
        (s, d) => EmbeddingOps.annIvf(s, d, k = 2, probeBatch = 2,
          probeLo = 1, nprobe = 1),
        EmbeddingOps.annIvfSqlFor(k = 2, probeBatch = 2, probeLo = 1,
          nprobe = 1)),
      ("q_retrieval_rrf_pb2lo1",
        (s, d) => EmbeddingOps.retrievalRrf(s, d, probeBatch = 2, probeLo = 1),
        EmbeddingOps.retrievalRrfSqlFor(probeBatch = 2, probeLo = 1)),
      ("q_ann_hard_negatives_pb2lo1",
        (s, d) => EmbeddingOps.annHardNegatives(s, d, probeBatch = 2, probeLo = 1),
        EmbeddingOps.annHardNegativesSqlFor(probeBatch = 2, probeLo = 1)),
      ("q_semantic_dedup_k2",
        (s, d) => EmbeddingOps.semanticDedup(s, d, k = 2),
        EmbeddingOps.semanticDedupSqlFor(k = 2)),
      ("q_ann_cell_balance_k2",
        (s, d) => EmbeddingOps.annCellBalance(s, d, k = 2),
        EmbeddingOps.annCellBalanceSqlFor(k = 2)),
      ("q_embed_pq_k2",
        (s, d) => EmbeddingOps.embedPq(s, d, k = 2),
        EmbeddingOps.embedPqSqlFor(k = 2)),
      ("q_ann_pq_adc_k2_pb2lo1",
        (s, d) => EmbeddingOps.annPqAdc(s, d, k = 2, probeBatch = 2, probeLo = 1),
        EmbeddingOps.annPqAdcSqlFor(k = 2, probeBatch = 2, probeLo = 1)),
      ("q_corpus_sample_stratified_k3",
        (s, d) => graft.operators.Pipeline.corpusSampleStratified(s, d, k = 3),
        graft.operators.Pipeline.corpusSampleStratifiedSqlFor(k = 3)),
      ("q_embed_kmeans_k2_it1",
        (s, d) => EmbeddingOps.embedKmeans(s, d, k = 2, iters = 1),
        EmbeddingOps.embedKmeansSqlFor(k = 2, iters = 1)),
      ("q_cluster_profile_k2_it1",
        (s, d) => EmbeddingOps.clusterProfile(s, d, k = 2, iters = 1),
        EmbeddingOps.clusterProfileSqlFor(k = 2, iters = 1)),
      ("q_ann_serve_pb2lo1",
        (s, d) => EmbeddingOps.annServe(s, d, probeBatch = 2, probeLo = 1),
        EmbeddingOps.annServeSqlFor(probeBatch = 2, probeLo = 1)),
      ("q_semantic_drift_k2_it1",
        (s, d) => EmbeddingOps.semanticDrift(s, d, k = 2, iters = 1),
        EmbeddingOps.semanticDriftSqlFor(k = 2, iters = 1)),
      ("q_retrieval_maxsim_pb2lo1",
        (s, d) => EmbeddingOps.retrievalMaxsim(s, d, probeBatch = 2, probeLo = 1),
        EmbeddingOps.retrievalMaxsimSqlFor(probeBatch = 2, probeLo = 1)),
      ("q_token_budget_fill_div8",
        (s, d) => graft.operators.Pipeline.tokenBudgetFill(s, d, budgetDiv = 8),
        graft.operators.Pipeline.tokenBudgetFillSqlFor(budgetDiv = 8)),
      ("q_dedup_lsh_recall_mod3",
        (s, d) => graft.operators.DedupOps.dedupLshRecall(s, d, mod = 3),
        graft.operators.DedupOps.dedupLshRecallSqlFor(mod = 3)),
      // sketch sweeps at off-grid geometries: m = 1024 / 2048 sit above the
      // registered list (16 is the estimator's published floor, so the
      // bracket is one-sided); depth 3 / 6 exercise non-default hash-row
      // prefixes
      ("q_hll_m_sweep_m1024_2048",
        (s, d) => graft.operators.Sketches.hllMSweep(s, d, ms = Seq(1024, 2048)),
        graft.operators.Sketches.hllMSweepSqlFor(ms = Seq(1024, 2048))),
      ("q_cms_geometry_sweep_3x32_6x128",
        (s, d) => graft.operators.Sketches.cmsGeometrySweep(s, d,
          geoms = Seq((3, 32), (6, 128))),
        graft.operators.Sketches.cmsGeometrySweepSqlFor(
          geoms = Seq((3, 32), (6, 128)))),
      // the salted plan is factor-INVARIANT: non-default fan-out, SAME
      // unsalted oracle SQL
      // cap 4 forces real wedge truncation on the dense clusters (the
      // default 16 leaves many centers un-truncated at test SF), so the
      // deterministic smallest-id sampling rule itself is what's checked
      ("q_dedup_transitivity_cap4",
        (s, d) => graft.operators.DedupOps.dedupTransitivity(s, d, cap = 4),
        graft.operators.DedupOps.dedupTransitivitySqlFor(cap = 4)),
      ("q_skew_salted_agg_f3",
        (s, d) => graft.operators.Skew.skewSaltedAgg(s, d, factor = 3),
        graft.operators.Skew.skewSaltedAggSql),
      ("q_cms_heavy_hitters_d200",
        (s, d) => graft.operators.Sketches.cmsHeavyHitters(s, d, denom = 200L),
        graft.operators.Sketches.cmsHeavyHittersSqlFor(denom = 200L)),
      // width 64 = B49's measured exact_share-0 regime: collision-inflated
      // light keys survive the screen and resolve is_true_hh = false — the
      // FALSE-POSITIVE branch the exact confirm exists for, which the
      // production 4x1024 geometry never reaches (every survivor true)
      ("q_cms_heavy_hitters_w64",
        (s, d) => graft.operators.Sketches.cmsHeavyHitters(s, d, width = 64),
        graft.operators.Sketches.cmsHeavyHittersSqlFor(
          denom = graft.operators.Sketches.HhSupportDenom, width = 64)),
      ("q_hll_month_overlap_m32",
        (s, d) => graft.operators.Sketches.hllMonthOverlap(s, d, m = 32),
        graft.operators.Sketches.hllMonthOverlapSqlFor(m = 32)),
      // quantile sketch at off-grid subdivisions (s = 3 between the exact
      // range and the production 6; the sweep at 3/10 brackets its list)
      ("q_value_quantile_sketch_s3",
        (s, d) => graft.operators.Sketches.valueQuantileSketch(s, d, s = 3),
        graft.operators.Sketches.valueQuantileSketchSqlFor(s = 3)),
      ("q_qsketch_s_sweep_s3_10",
        (s, d) => graft.operators.Sketches.qsketchSSweep(s, d, ss = Seq(3, 10)),
        graft.operators.Sketches.qsketchSSweepSqlFor(ss = Seq(3, 10))),
      ("q_value_quantiles_by_type_s3",
        (s, d) => graft.operators.Sketches.valueQuantilesByType(s, d, s = 3),
        graft.operators.Sketches.valueQuantilesByTypeSqlFor(s = 3)),
      ("q_value_quantile_drift_s3",
        (s, d) => graft.operators.Sketches.valueQuantileDrift(s, d, s = 3),
        graft.operators.Sketches.valueQuantileDriftSqlFor(s = 3)),
      ("q_value_quantile_week_s3",
        (s, d) => graft.operators.Sketches.valueQuantileWeek(s, d, s = 3),
        graft.operators.Sketches.valueQuantileWeekSqlFor(s = 3)),
      ("q_order_value_quantiles_by_month_s3",
        (s, d) => graft.operators.Sketches.orderValueQuantilesByMonth(s, d,
          s = 3),
        graft.operators.Sketches.orderValueQuantilesByMonthSqlFor(s = 3)),
      ("q_doclen_quantiles_by_source_s3",
        (s, d) => graft.operators.Sketches.doclenQuantilesBySource(s, d,
          s = 3),
        graft.operators.Sketches.doclenQuantilesBySourceSqlFor(s = 3)),
      ("q_cms_week_merge_3x128",
        (s, d) => graft.operators.Sketches.cmsWeekMerge(s, d,
          depth = 3, width = 128),
        graft.operators.Sketches.cmsWeekMergeSqlFor(depth = 3, width = 128)),
      ("q_hll_week_actives_m128",
        (s, d) => graft.operators.Sketches.hllWeekActives(s, d, m = 128),
        graft.operators.Sketches.hllWeekActivesSqlFor(m = 128)),
      // the PERSISTED store at a non-default geometry, end-to-end: write
      // at s=3 (manifest records the geometry), read back through the
      // geometry-checked verifier, answer B55 from the artifact rows —
      // hash-compared against DuckDB recomputing inline at the SAME s.
      // This is the round-11 manifest-geometry contract exercised through
      // the full write → verify → consume cycle, not just the spec's
      // mismatch rejection. Only the qsketch_day family is written (the
      // variant consumes nothing else), and the temp root is deleted
      // after the readout materializes (tempRoots below).
      ("q_value_quantile_drift_store_s3",
        (s, d) => {
          val root = java.nio.file.Files
            .createTempDirectory("graft-pc-sketch-").toString
          tempRoots += root
          graft.operators.SketchArtifacts.writeQsketchDays(s, d, root, s = 3)
          graft.operators.SketchArtifacts.valueQuantileDrift(s, root, s = 3)
        },
        graft.operators.Sketches.valueQuantileDriftSqlFor(s = 3)),
      // the ANN index store at a NON-DEFAULT codebook (pqK = 2) and probe
      // window, end-to-end: write (manifests record k/sub geometry), read
      // through the geometry-checked verifiers, search from the persisted
      // codes — hash-compared against DuckDB recomputing inline at the
      // SAME parameters (the round-11 store-cycle contract applied to the
      // round-12 store).
      ("q_ann_pq_adc_store_k2_pb2lo1",
        (s, d) => {
          val root = java.nio.file.Files
            .createTempDirectory("graft-pc-ann-").toString
          tempRoots += root
          graft.operators.AnnArtifacts.write(s, d, root, pqK = 2)
          graft.operators.AnnArtifacts.annPqAdc(s, root, pqK = 2,
            probeBatch = 2, probeLo = 1)
        },
        EmbeddingOps.annPqAdcSqlFor(k = 2, probeBatch = 2, probeLo = 1)),
      ("q_ann_serve_store_pb2lo1",
        (s, d) => {
          val root = java.nio.file.Files
            .createTempDirectory("graft-pc-ann2-").toString
          tempRoots += root
          graft.operators.AnnArtifacts.write(s, d, root)
          graft.operators.AnnArtifacts.annServe(s, d, root,
            probeBatch = 2, probeLo = 1)
        },
        EmbeddingOps.annServeSqlFor(probeBatch = 2, probeLo = 1)))
    variants.foreach { case (name, fn, _) =>
      try operators.Caches.scoped(spark)(fn(spark, sfDir))(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[paramcheck] $name failed: ${e.getMessage}")
      }
      // a variant's staged stores are dead once its output parquet is
      // written — reclaim instead of accumulating one per run
      tempRoots.foreach(DedupArtifacts.deleteRoot)
      tempRoots.clear()
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = variants
      .map { case (k, _, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
