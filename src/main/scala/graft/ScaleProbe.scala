package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SQLContext, SparkSession, functions}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.obs.{Meter, Reading}
import graft.operators.{AnnArtifacts, DedupArtifacts, EmbeddingOps, SketchArtifacts,
  Skew, StreamArtifacts}
import graft.operators.DedupArtifacts.deleteRoot
import graft.streaming._

/** The scaling harness (dev main): MEASURE the engine's scale contracts
  * instead of arguing them from plan shapes. Each contract is a named
  * sweep, and every sweep shares one session, one sampler
  * ([[Harness.sample]], on [[graft.obs.Meter.measure]]), one gate
  * ([[nearLinear]] and its twin [[growsAtLeast]]) and one result table:
  *  - `scale`: the corpus inflated 2×/4×/8× by re-salting ([[inflate]]);
  *    wall and aggregate task time of every scale probe must grow
  *    near-linearly ([[ScaleWall]], [[ScaleWork]]);
  *  - `slice`: read cost against slice count for the stream and ANN
  *    stores — compaction must reclaim what 33 (17) slices cost
  *    ([[reclaimGate]]);
  *  - `stream`: per-micro-batch wall against batch volume for the heavy
  *    stateful streams ([[StreamVolume]]), and against standing-index size
  *    at a fixed feed for the frozen-model gates ([[StreamIndex]]);
  *  - `skew`: the hot-key straggler `Skew.saltedAgg` exists to flatten
  *    ([[SkewSalted]], with the unsalted control [[SkewControl]]);
  *  - `segment`: the grouped quantile sketch's cost against segment count
  *    at a fixed corpus ([[SegmentWork]], [[SegmentShuffle]]).
  *
  * Usage: `sbt "runMain graft.ScaleProbe [sfDir] [names]"` (default sf0.1
  * and every sweep). `names` is a comma-separated list of sweeps and
  * scale-probe names; an unknown name fails before any work, listing the
  * known ones, and the corpus is inflated only when the `scale` sweep
  * runs. `SPARK_GRAFT_SCALE_FACTORS` sets the `scale` sweep's factors
  * (default 1,2,4,8; no other sweep reads it) and `SPARK_GRAFT_SCALE_OUT`
  * also writes the table to that file. Exits nonzero if any curve fails
  * its gate.
  *
  * WHAT A STORE-READ TIMING MEASURES. A verified store read digests a
  * family only on the first read of its snapshot in the JVM
  * ([[graft.operators.DedupArtifacts.readVerifiedCanonical]]), so a timed
  * read excludes the digest of every family unchanged since an earlier
  * read. The `slice` sweep reads each layout before timing it, and the
  * families `sketch_store_read` and `ann_index_route` read are never
  * appended to: those timings are the params handshake, the listing and
  * the consumer's own scan and merge, without the digest. In each round
  * of the `scale` sweep the append probes run after `ann_index_search`
  * and `stream_index_read`, so each of their timed reads is the first read
  * of the appended families' new snapshot and still includes its digest,
  * as do the `*_build`, `*_append_*`, `*_compact` and `nightly_*` probes,
  * which write the store first.
  *
  * Every directory the harness makes lives under one scratch root
  * (`graft-scale-*` in the JVM temp dir), deleted when the run ends,
  * however it ends. Per-sample build roots are deleted after each sample,
  * so disk stays bounded by one sample's stores plus the memoized ones.
  * (The registered queries' own staging roots are deleted at JVM exit,
  * [[graft.operators.DedupArtifacts]].) */
object ScaleProbe {

  /** Registered queries probed as-is, by family. */
  val Probes: Seq[String] = Seq(
    "q_dedup_exact",        // dedup: hash groupBy
    "q_dedup_minhash_lsh",  // dedup: banded LSH self-join
    "q_dedup_simhash_band", // dedup: simhash band self-join
    "q_dedup_components",   // dedup: iterative components (driver rounds pinned)
    "q_substr_dup_spans",   // span: content-defined-anchor span dedup
    "q_ann_lsh",            // ANN: 16-table hyperplane LSH search
    "q_ann_ivf",            // ANN: IVF nprobe search
    "q_corpus_pack_hier",   // pack: hierarchical two-pass prefix sum
    "q_events_sessionize",  // events: per-user gap sessionization
    "q_snapshot_diff",      // diff: fixed-width full-outer on doc_id
    "q_retrieval_maxsim",   // maxsim: probe broadcast, (probe x label) grid
    "q_token_budget_fill",  // fill: histogram threshold, boundary window
    "q_contamination_spans", // spans: positioned-gram join, per-doc islands
    "q_events_attribution", // attribution: user-keyed band join, pick windows
    "q_embed_covariance",   // covariance: one distributive-aggregate pass
    // round-8 additions; pair precision reads the per-dir memoized pair
    // artifacts, so its min-of-2 measures the CONSUMER path (the build is
    // probed by dedup_agreement_artifact below)
    "q_dedup_pair_precision",   // exact pair verify: set-array intersection
    "q_classifier_calibration", // calibration: narrow scan + bin grid
    "q_ann_nprobe_sweep",       // ANN curve: bounded probe work x 4 points
    "q_embed_dim_audit",        // dim audit: C88 grid + O(dims^2) post
    // round-8 late additions
    "q_dedup_containment",      // C94: the C4 gram-pair hot path itself
    "q_text_zipf",              // C95: vocab-sized tf + WindowGroupLimit head
    "q_retrieval_rrf",          // C96: two index searches + bounded fusion
    "q_vocab_growth",           // C97: (term, bucket) grid + bounded cum pass
    "q_simhash_radius_sweep",   // C98: C14 candidates + budgeted verifier
    "q_embed_pca_power",        // C99: one C88 pass + driver-scale iteration
    "q_dup_source_matrix",      // C100: chunk-hash grid + sources²-bounded join
    "q_minhash_row_health",     // C101: minima grid + 12-row rollups
    "q_segment_migration",      // B43: one custkey shuffle + 16-cell grid
    "q_skew_audit",             // C102: 5 key-count relations + top-k
    "q_minhash_cross_row_agreement", // C103: 66-cell map-side grid
    "q_embed_subspace_variance",     // C104: one C88 pass + O(dims) rollup
    "q_dedup_pair_degree",           // C105: O(pairs) artifact-fed rollup
    // final round-8 additions
    "q_mask_coalesce",   // C107: C106 plan + doc-partitioned interval merge
    "q_small_qty_revenue", // B45: l_partkey window whose partitions DEEPEN
                           // with inflation (l_partkey is not offset) —
                           // the hard direction for the windowed Q17 shape
    // round-9 additions
    "q_daily_etl_report",   // A15: validator 1-row reductions + cached total
    "q_hll_m_sweep",        // B48: 6 distributive sketches in one scan
    "q_cms_geometry_sweep", // B49: 9 distributive sketches + key counts
    "q_skew_salted_agg",    // C113: two-phase salted agg (the straggler
                            // curve is the `skew` sweep; this gates bulk wall)
    "q_cms_heavy_hitters",  // B50: broadcast-sketch screen + survivor agg
    "q_hll_month_overlap",  // B51: 12-sketch grid + register-merge venn
    // round-10 additions
    "q_value_quantile_sketch",   // B52: one distributive qsketch pass
    "q_qsketch_s_sweep",         // B53: 4 qsketch geometries in one scan
    "q_value_quantiles_by_type", // B54: grouped qsketches, per-type readout
    "q_value_quantile_drift",    // B55: per-day qsketches + calendar lag
    // round-11 additions: the calendar register-merge trilogy
    "q_value_quantile_week",     // B56: day vectors cell-SUMMED onto weeks
    "q_cms_week_merge",          // B57: day matrices + exact eval pass
    "q_hll_week_actives",        // B58: day registers MAX-merged + exact
    "q_order_value_quantiles_by_month", // B59: 80-month grouped qsketch
    "q_doclen_quantiles_by_source",     // C114: per-source length sketch
    // round-12 additions: the persisted ANN index's consumer paths (the
    // registered store-fed queries read the per-dir memoized index, so
    // min-of-2 measures the deployment READ; the build is probed by
    // ann_index_build below)
    // round-15 additions: the Q21/Q22 closers — B64's per-order window
    // rides the join's orderkey exchange (partitions DEEPEN only with
    // lines-per-order, which inflation holds fixed), B65's scalar
    // broadcast + anti-join must stay linear in the customer dim
    "q_supplier_blame",
    "q_idle_high_balance",
    // round-16 additions: the Q13/Q15 closers — B66's fact side partial-
    // aggregates to one row per customer BEFORE its single exchange
    // (wall must track the orders scan, the distribution grid is
    // bounded by max orders/customer); B67 is one pruned fact pass into
    // a supplier-sized cached aggregate + a 1-row broadcast argmax
    "q_customer_order_distribution",
    "q_top_supplier_revenue",
    "q_ann_serve_store",   // C115: flat-index brute force + payload fetch
    "q_pq_code_usage",     // C117: O(corpus) 4-int code scan + k-grid agg
    // round-13 addition: the triangle census's two-hop join fanout is
    // Σ deg² — bounded by the banding hot caps, and re-salted replicas
    // multiply clusters instead of deepening them, so the curve must be
    // linear; a hot bucket would show here as the wedge explosion
    "q_dedup_transitivity", // C119: degree census + oriented 2-hop join
    // replicas rotate the alphabet, so each replica contributes NEW types
    // under the SAME source names: vocab grows ∝ corpus, the pair grid
    // stays sources² — the term-keyed self-join must stay linear
    "q_source_vocab_overlap") // C121: vocab self-join onto sources² grid

  /** The sweeps, in run order. */
  val Sweeps: Seq[String] = Seq("scale", "slice", "stream", "skew", "segment")

  // ---- the gate

  /** The near-linear gate: the curve's last point over its first, the
    * first floored so fixed overhead on a small base cannot fake a
    * breach, stays within `bound`. A flat contract is the same gate with
    * a bound near 1. */
  def nearLinear(first: Double, last: Double, floor: Double,
      bound: Double): Boolean =
    last / math.max(first, floor) <= bound

  /** The control twin of [[nearLinear]]: the curve must grow at least
    * `bound`, or the sweep is not measuring what it exists to catch. */
  def growsAtLeast(first: Double, last: Double, floor: Double,
      bound: Double): Boolean =
    last / math.max(first, floor) >= bound

  /** One curve's gate: its floor, its bound and its direction. */
  final case class Gate(floor: Double, bound: Double, grows: Boolean = false) {
    def pass(first: Double, last: Double): Boolean =
      if (grows) growsAtLeast(first, last, floor, bound)
      else nearLinear(first, last, floor, bound)
    def check(label: String, first: Double, last: Double): Check =
      Check(f"$label ${last / math.max(first, floor)}%.2fx " +
        f"${if (grows) ">=" else "<="} $bound%.1fx", pass(first, last))
  }

  /** Scale factors of the `scale` sweep (overridable:
    * SPARK_GRAFT_SCALE_FACTORS="1,2,4,8,16" — deeper curves separate the
    * variable cost from fixed overhead better; the default keeps the
    * standard run under ~10 minutes). */
  val Scales: Seq[Int] = sys.env.get("SPARK_GRAFT_SCALE_FACTORS")
    .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 2, 4, 8))
  /** Wall: 1.5× headroom over perfectly linear (12× for the default 8×
    * sweep), 0.3 s floor. */
  val ScaleWall: Gate = Gate(0.3, 1.5 * Scales.last.toDouble / Scales.head)
  /** Work (aggregate task time): 2× headroom over linear, 2 s floor. Work
    * is the honest signal on local[32], where idle cores absorb growing
    * work without moving wall time; it legitimately picks up log-factor
    * costs (sort-merge, spill) before wall does, and tiny queries
    * measure scheduler noise, not work. */
  val ScaleWork: Gate = Gate(2.0, 2.0 * Scales.last.toDouble / Scales.head)

  /** `stream`: batch volumes ([[BaseRows]]·k rows). */
  val StreamScales: Seq[Int] = Seq(1, 2, 4, 8)
  val BaseRows: Int = 50000
  /** The `scale` wall gate applied per micro-batch; the floor absorbs the
    * fixed per-batch state-store commit cost that dominates small
    * batches. */
  val StreamVolume: Gate = Gate(0.3, 1.5 * StreamScales.last / StreamScales.head)
  /** `stream`: standing-index growth factors at a fixed feed. */
  val IndexScales: Seq[Int] = Seq(1, 4, 16)
  /** A 16× standing index may at most double the per-batch wall: per-day
    * cost must be driven by the FEED, not the corpus the index
    * summarizes. */
  val StreamIndex: Gate = Gate(0.3, 2.0)

  /** `skew`: bot rows at k = 1, salt fan-out at k = 1 (scaled by k, the
    * deployment rule), hot-key inflation steps, and bot rows per generated
    * partition — held CONSTANT so map-side tasks stay fixed-size and the
    * only task that can grow with k is the hot key's reduce step. */
  val HotBase: Long = 500000L
  val BaseFactor: Int = 8
  val SkewScales: Seq[Int] = Seq(1, 4, 16)
  val RowsPerPart: Long = 100000L
  /** The salted plan's max task stays flat across 16× hot-key growth. */
  val SkewSalted: Gate = Gate(0.05, 3.0)
  /** The unsalted control must grow, or the sweep is not measuring a
    * straggler at all. */
  val SkewControl: Gate = Gate(0.05, 3.0, grows = true)

  /** `segment`: segment-count multipliers. The 1× point is
    * corpus-pass-dominated, so the gates compare the two exploded points:
    * work(256×) ≤ 1.5·(256/16)·max(work(16×), 2 s) —
    * which is also the per-segment gate, since (w₂₅₆/256)/(max(w₁₆,2)/16)
    * = w₂₅₆/(16·max(w₁₆,2)) — and the same bound on shuffle bytes, the
    * serialized partial sketches (1 MB floor). */
  val SegMuls: Seq[Int] = Seq(1, 16, 256)
  val SegmentWork: Gate = Gate(2.0, 1.5 * SegMuls.last / SegMuls(1))
  val SegmentShuffle: Gate = Gate(1.0, 1.5 * SegMuls.last / SegMuls(1))

  /** `slice`: nightly appends per store, and samples per timed read. */
  val SliceDays: Int = 32
  val AnnSliceDays: Int = 16
  val SliceSamples: Int = 3

  /** The reclaim gate as a PER-PAIR statistic: two independent mins over
    * interleaved samples aren't paired at all, and min-vs-min plus a flat
    * 0.3 s allowance can pass a ~1.5× slowdown on a 1-2 s read. Each
    * sample pair runs back-to-back, so drift lands on both sides of ITS
    * OWN comparison; a pair passes when the compacted read is ≤ 1.25× its
    * own baseline OR within 0.3 s of it (scheduler noise on short reads),
    * and the gate is the MAJORITY of pairs — the median pair decides, one
    * outlier pair cannot. */
  private[graft] def reclaimGate(pairs: Seq[(Double, Double)]): Boolean =
    2 * pairs.count { case (a, b) => b <= 1.25 * a || b - a <= 0.3 } >
      pairs.size

  // ---- the harness

  /** One line of the result table's checks column. */
  final case class Check(shown: String, ok: Boolean)

  /** One gated curve: its readings as shown, and its checks. */
  final case class Curve(sweep: String, name: String, readings: String,
      checks: Seq[Check]) {
    def ok: Boolean = checks.forall(_.ok)
  }

  /** One run's session, base dir and scratch root, and the one sampler. */
  final class Harness(val spark: SparkSession, val baseDir: String,
      val root: String) {
    private val perSample = mutable.Buffer.empty[String]
    private val stores = mutable.Map.empty[String, String]
    private var seq = 0L

    /** A fresh directory under the run root. */
    def dir(prefix: String): String =
      Files.createTempDirectory(Paths.get(root), prefix).toString

    /** A fresh directory deleted after the current sample. */
    def sampleDir(prefix: String): String = { val d = dir(prefix); perSample += d; d }

    /** The store under `key`, built by `build` into a fresh directory on
      * first use and kept for the rest of the run. */
    def store(key: String)(build: String => Unit): String =
      stores.getOrElseUpdate(key, { val r = dir("store-"); build(r); r })

    /** A number no earlier call returned: fresh day labels and ids. */
    def fresh(): Long = { seq += 1; seq }

    /** `warmup` unrecorded runs, then the field-wise fastest of `n`
      * readings. `staged` is evaluated off the clock before each run
      * (input rows, a fresh batch) and returns what is timed; after each
      * run the session cache is cleared and the sample's directories are
      * deleted, off the clock as well. */
    def sample(n: Int, warmup: Int = 0)(staged: => () => Any): Reading =
      fastest((1 to warmup + n).map { _ =>
        val run = staged
        val r = Meter.measure(spark)(run())
        spark.catalog.clearCache()
        perSample.foreach(deleteRoot); perSample.clear()
        r
      }.drop(warmup))
  }

  private def fastest(rs: Seq[Reading]): Reading =
    Reading(rs.map(_.wallSec).min, rs.map(_.jobs).min, rs.map(_.tasks).min,
      rs.map(_.taskSec).min, rs.map(_.maxTaskSec).min,
      rs.map(_.shuffleWriteMb).min)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A `scale` probe: the frame to materialize over `dir`, the corpus
    * inflated `k`×. */
  type ProbeFn = (Harness, String, Int) => DataFrame

  /** What a run measures: the selected sweeps and the `scale` probes. */
  final case class Plan(sweeps: Seq[String], probes: Seq[(String, ProbeFn)])

  /** Resolves sweep and scale-probe names (none: everything) before any
    * work; an unknown name fails with the known ones. */
  def plan(names: Seq[String]): Plan = {
    val unknown = names.filterNot(n => Sweeps.contains(n) || probeNames(n))
    require(unknown.isEmpty, s"unknown names: ${unknown.mkString(", ")}; " +
      s"known sweeps: ${Sweeps.mkString(", ")}; known scale probes: " +
      scaleProbes.map(_._1).mkString(", "))
    val everything = names.isEmpty || names.contains("scale")
    val probes = scaleProbes.filter { case (n, _) => everything || names.contains(n) }
    Plan(Sweeps.filter(s => if (s == "scale") probes.nonEmpty
      else names.isEmpty || names.contains(s)), probes)
  }

  /** Runs `plan`'s sweeps under one scratch root and returns their curves. */
  private def run(spark: SparkSession, baseDir: String, plan: Plan): Seq[Curve] = {
    val h = new Harness(spark, baseDir,
      Files.createTempDirectory("graft-scale-").toString)
    try plan.sweeps.flatMap {
      case "scale" => scaleSweep(h, plan.probes)
      case "slice" => sliceSweep(h)
      case "stream" => streamSweep(h)
      case "skew" => skewSweep(h)
      case "segment" => Seq(segmentSweep(h))
    } finally deleteRoot(h.root)
  }

  private def table(curves: Seq[Curve]): Seq[String] = {
    val rows = Seq("sweep", "curve", "readings", "checks", "gate") +:
      curves.map(c => Seq(c.sweep, c.name, c.readings,
        c.checks.map(k => if (k.ok) k.shown else s"${k.shown} FAIL").mkString("; "),
        if (c.ok) "PASS" else "FAIL"))
    val width = rows.transpose.map(_.map(_.length).max)
    def line(r: Seq[String]) =
      r.zip(width).map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    line(rows.head) +: width.map("-" * _).mkString("|-", "-|-", "-|") +:
      rows.tail.map(line)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val p = plan(args.lift(1).toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty))
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val curves = try run(spark, baseDir, p) finally spark.stop()
    val lines = table(curves)
    lines.foreach(println)
    sys.env.get("SPARK_GRAFT_SCALE_OUT").filter(_.nonEmpty).foreach(out =>
      Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n")))
    val failed = curves.filterNot(_.ok).map(c => s"${c.sweep}/${c.name}")
    if (failed.nonEmpty) {
      System.err.println(s"[scaleprobe] gate failures: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  // ---- `scale`: re-salted inflation

  private val IdOffset = 1000000000L // clears every in-band id (incl. IVF centroid cap)
  private val UserOffset = 10000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  /** Replica i of `documents`: id offset + alphabet rotation by i. */
  private def docReplica(docs: DataFrame, i: Int): DataFrame = {
    val r = i % 26
    val rotL = lower.drop(r) + lower.take(r)
    docs.select(
      (col("doc_id") + lit(i * IdOffset)).as("doc_id"),
      translate(col("text"), lower + upper, rotL + rotL.toUpperCase).as("text"),
      col("lang"), col("source"), col("n_chars"))
  }

  /** Replica i of `embeddings`: id offset + dimension rotation by 5·i. */
  private def embReplica(emb: DataFrame, i: Int): DataFrame = {
    val rot = (i * 5) % 64
    emb.select(
      (col("vec_id") + lit(i * IdOffset)).as("vec_id"),
      expr(s"transform(embedding, (x, j) -> embedding[(j + $rot) % size(embedding)])")
        .as("embedding"),
      col("label"))
  }

  /** Replica i of `events`: id + user offsets, same time range. */
  private def evReplica(ev: DataFrame, i: Int): DataFrame =
    ev.select(
      (col("event_id") + lit(i * IdOffset)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(i * UserOffset)).as("user_id"),
      col("event_type"), col("value"), col("props"))

  /** Star-schema replicas (round-8: B43/C102 probe the orders side, which
    * the sweep never inflated before): key offsets keep replicas disjoint
    * — customers multiply with their orders attached (the B43 shape), and
    * per-key row counts stay flat so C102's skew profile is
    * scale-invariant while its key-count relation grows linearly. */
  private def ordReplica(o: DataFrame, i: Int): DataFrame =
    o.select((col("o_orderkey") + lit(i * IdOffset)).as("o_orderkey"),
      (col("o_custkey") + lit(i * UserOffset)).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))

  private def liReplica(l: DataFrame, i: Int): DataFrame =
    l.select((col("l_orderkey") + lit(i * IdOffset)).as("l_orderkey"),
      col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate"))

  private def custReplica(c: DataFrame, i: Int): DataFrame =
    c.select((col("c_custkey") + lit(i * UserOffset)).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment"))

  /** Write the k×-inflated corpus under `outDir` by deterministic
    * RE-SALTING, never byte copies: byte-identical replicas would be found
    * by every dedup family and distort both the result sizes and the
    * pair-work curve. Replica 0 is the untouched base; replica i > 0:
    *  - documents: alphabet ROTATION by i (a bijection on the text, both
    *    cases) + id offset. Within a replica the duplicate structure is
    *    preserved exactly, while across replicas every
    *    shingle/minhash/simhash/anchor hash differs — so dup groups, LSH
    *    buckets and span groups multiply by the replica count instead of
    *    deepening. Pair work must therefore scale linearly; a superlinear
    *    curve means the PLAN concentrates work (hot bucket), not the data.
    *  - embeddings: DIMENSION rotation by 5·i (an orthogonal permutation)
    *    + id offset. Elements are bitwise preserved as multisets; within a
    *    replica norms / dot products / cosines are preserved up to
    *    sequential-fold rounding order; across replicas cosines scramble
    *    to near-orthogonal. Cells and buckets multiply; per-cell volume
    *    stays flat.
    *  - events: id + user_id offsets, ts untouched — user cardinality (and
    *    with it session/window key count) grows linearly over the same
    *    time range, the hard direction for per-key window work.
    *
    * Raw reads ([[graft.sources.Tables.readParquet]], not the normalizing
    * loaders) so the events ts column round-trips in its file encoding and
    * the inflated dir presents the same surface as a generated sf dir. */
  def inflate(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    def write(name: String, rep: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.sources.Tables.readParquet(spark, s"$baseDir/$name.parquet")
      (0 until k).map(rep(base, _)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    write("documents", docReplica)
    write("embeddings", embReplica)
    write("events", evReplica)
    write("orders", ordReplica)
    write("lineitem", liReplica)
    write("customer", custReplica)
    // static dimensions pass through UNINFLATED (part/supplier/nation/
    // region): the honest 100 TB shape — the catalog is fixed while the
    // fact side grows, so per-dimension-key fact volume deepens linearly
    // (B45's per-part window partitions, B44's per-type revenue), which
    // is exactly the hard direction the probes should measure.
    for (name <- Seq("part", "supplier", "nation", "region")) {
      graft.sources.Tables.readParquet(spark, s"$baseDir/$name.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
  }

  /** The constructed fixed-volume ingest day for the stream-index append
    * probes: 2000 docs of ~40 tokens, NEGATIVE ids so they can never
    * collide with any inflated replica's id universe (the appendDay
    * contract: an admitted doc is a new doc). Same frame at every scale —
    * the flat gate measures corpus-size dependence only. */
  private val SynthIngestDay = 21000L

  /** The constructed fixed-volume vector day for the ANN append probes:
    * 500 vectors, NEGATIVE ids (never collide with any replica id, and
    * never match the deterministic centroid rule). Same frame at every
    * scale — the flat gate measures corpus-size dependence only. */
  private def synthVecDay(s: SparkSession): DataFrame =
    s.range(500).select(
      (-(col("id") + lit(1000000L))).as("vec_id"),
      (col("id") % 16).cast("int").as("label"),
      expr("transform(sequence(0, 63), j -> " +
        "CAST((id * 31 + j * 7) % 101 AS FLOAT))").as("embedding"))

  private def synthDayAt(s: SparkSession, day: Long): DataFrame =
    synthDay(s).withColumn("doc_id", col("doc_id") - lit(day * 100000L))

  private def synthDay(s: SparkSession): DataFrame =
    s.range(2000).select(
      (-(col("id") + lit(1000000L))).as("doc_id"),
      concat_ws(" ",
        lit("synthetic fixed ingest day document"), col("id"),
        lit(("the quick brown fox jumps over the lazy dog " * 5).trim),
        (col("id") % 97).cast("string"),
        lit("tail marker tokens alpha beta gamma delta epsilon zeta eta " +
          "theta iota kappa lambda mu nu xi omicron pi rho sigma tau"))
        .as("text"),
      lit("synth_feed").as("source"))

  /** The persisted stores probed per dir (the consumer/build split: a
    * store's read and append probes reuse one store built per dir, its
    * build probe stages a fresh one per sample). */
  private def sketchStore(h: Harness, d: String): String =
    h.store(s"sketch:$d")(SketchArtifacts.write(h.spark, d, _))
  private def annStore(h: Harness, d: String): String =
    h.store(s"ann:$d")(AnnArtifacts.write(h.spark, d, _))
  private def streamStore(h: Harness, d: String): String =
    h.store(s"stream:$d")(StreamArtifacts.write(h.spark, d, _))

  /** Store trios (sketch/stream/ANN) for the composed-nightly probes,
    * built from `buildDir` once per `key`. `nightly_runday` drives a day
    * whose VOLUME scales with the probed dir against ONE fixed-size trio
    * built from the base dir: its curve must be ∝ day (the per-call
    * re-stamp reads a fixed-size index). `nightly_runday_fixedday` drives
    * a constructed fixed-volume day against a trio GROWN with the dir: the
    * compaction decision is an FS listing and the appends O(day), but
    * every append re-stamps its families — the KNOWN O(index)
    * canonical-digest pass — so the gate bounds the night at
    * linear-in-store, never superlinear. Fresh day labels and fresh
    * negative ids per timed call (the appendDay new-doc contract); slice
    * counts stay under the default compaction threshold across the
    * sweep's calls, so no sample pays a fired compaction
    * (stream_index_compact measures that separately). */
  private def nightlyTrio(h: Harness, key: String, buildDir: String) = {
    val r = h.store(s"nightly:$key") { r =>
      SketchArtifacts.write(h.spark, buildDir, s"$r/sk")
      StreamArtifacts.write(h.spark, buildDir, s"$r/st")
      AnnArtifacts.write(h.spark, buildDir, s"$r/an")
    }
    (s"$r/sk", s"$r/st", s"$r/an")
  }

  private def registered(n: String): ProbeFn =
    (h, d, _) => SparkEntry.queries(n)(h.spark, d)

  /** Every `scale` probe: the registered [[Probes]], then the devices and
    * store paths no registered query covers. */
  val scaleProbes: Seq[(String, ProbeFn)] = Probes.map(n => n -> registered(n)) ++
    Seq[(String, ProbeFn)](
      // C35 run the way a deployment would at each scale: centroid-id cap
      // high enough that every replica's candidate ids qualify, so the
      // quantizer grows with the corpus and per-cell volume stays flat (a
      // FIXED quantizer grows per-cell volume — and pair work — ∝
      // replicas² by construction: the documented deployment rule "k
      // scales with the corpus", not a plan defect). The ANN searches
      // keep their production defaults: their probe sets are fixed-size,
      // so their work is linear in the corpus with NO parameter help.
      ("semantic_dedup_kscaled", (h, d, _) =>
        EmbeddingOps.semanticDedup(h.spark, d, k = 100000000)),
      // C84 run the way a deployment would: the filter is sized to the
      // benchmark-suite gram count AT EACH SCALE (m = 2^19 bits per 1x
      // replica holds every probed scale at the same ~38% fill), so FP
      // survivors — and with them the confirm join — stay proportional
      // to true hits. A FIXED m saturates once the bench set outgrows
      // it and silently degrades the probe into measuring C25's
      // exact-join shape: the round-8 16x sweep measured exactly that
      // with the fixed 2^22 geometry (42x work at 16x data — the FP
      // flood; SCALING_r08.md).
      ("bloom_decontam_msized", (h, d, k) =>
        graft.operators.Pipeline.bloomDecontaminate(h.spark, d,
          mBits = (1 << 19) * k)),
      // The staged-artifact family: each sample stages into a FRESH root —
      // deliberately bypassing the once-per-dir memoization the
      // registered queries use — so the probe times the full production
      // cycle: generator jobs + artifact writes + manifest checksums +
      // the artifact-fed report.
      ("dedup_agreement_artifact", (h, d, _) => {
        val root = h.sampleDir("agree-")
        DedupArtifacts.writePairs(h.spark, d, root)
        DedupArtifacts.agreement(h.spark, root)
      }),
      ("dedup_funnel_artifact", (h, d, _) => {
        val root = h.sampleDir("funnel-")
        DedupArtifacts.writeComponents(h.spark, d, root)
        DedupArtifacts.funnel(h.spark, d, root)
      }),
      // C111 run the way a deployment would: the sample modulus scales
      // with the corpus (RecallDocMod × replicas) so the ground-truth
      // sub-universe — and its all-pairs join — stays a FIXED budget.
      ("lsh_recall_modscaled", (h, d, k) =>
        graft.operators.DedupOps.dedupLshRecall(h.spark, d,
          mod = graft.operators.DedupOps.RecallDocMod * k)),
      // The sketch store's two halves: the BUILD is the per-segment
      // ingest pass — one narrow scan per family, cost ∝ corpus — while
      // the READ answers B51's 66 venn cells from the 12 persisted
      // register vectors with ZERO fact scans, so its curve must be FLAT
      // in corpus size (the mergeable-sketch payoff, measured).
      ("sketch_store_build", (h, d, _) => {
        val root = h.sampleDir("sketch-")
        SketchArtifacts.write(h.spark, d, root)
        SketchArtifacts.hllMonths(h.spark, root).select("mth")
          .unionByName(SketchArtifacts.cmsTypes(h.spark, root)
            .select(col("n").as("mth")))
      }),
      ("sketch_store_read", (h, d, _) =>
        SketchArtifacts.monthOverlapEstimates(h.spark, sketchStore(h, d))),
      // The store's INCREMENTAL maintenance, two directions:
      // `qsketch_append_day` appends one of the corpus's own days — its
      // cost is that day's volume, which inflation grows linearly (the
      // local layout has no date partitioning, so the day filter scans
      // the table: linear, an upper bound on the pruned deployment
      // read). `qsketch_append_fixedday` appends a CONSTRUCTED day of
      // FIXED volume into the same growing store — FLAT in corpus size,
      // the claim "append cost ∝ day volume, not corpus size" measured
      // directly. Both reuse the memoized store (append mutates only the
      // synthetic/restated slice; the hll_month rows sketch_store_read
      // consumes are untouched).
      ("qsketch_append_day", (h, d, _) => {
        val root = sketchStore(h, d)
        SketchArtifacts.appendQsketchDayFrom(h.spark, d, root, 19730L)
        SketchArtifacts.qsketchDays(h.spark, root).select("day_epoch", "n")
      }),
      // The ANN index store's three cost curves: BUILD is the nightly
      // indexing job — linear in the corpus by construction, against a
      // fresh root per sample. ROUTE is the query router's bootstrap —
      // manifest-verified read of the O(k) centroid rows + routing a
      // FIXED synthetic probe batch — and must be FLAT in corpus size.
      // SEARCH is the store-fed C13 read path: per-probe work is
      // nprobe/k of the corpus, so the curve is LINEAR at the fixed
      // production k.
      ("ann_index_build", (h, d, _) => {
        val root = h.sampleDir("annb-")
        AnnArtifacts.write(h.spark, d, root)
        AnnArtifacts.centroids(h.spark, root).select("cent_id")
          .unionByName(AnnArtifacts.pqCodes(h.spark, root)
            .select(col("vec_id").as("cent_id")))
      }),
      ("ann_index_route", (h, d, _) => {
        val probes = h.spark.range(8).selectExpr("id AS probe_id",
          "transform(sequence(0, 63), j -> CAST((id * 7 + j) % 13 AS FLOAT)) AS embedding")
        AnnArtifacts.routeProbes(h.spark, annStore(h, d), probes)
      }),
      ("ann_index_search", (h, d, _) =>
        AnnArtifacts.annIvf(h.spark, annStore(h, d))),
      // The ANN store's INCREMENTAL maintenance: `ann_index_append_slice`
      // assigns a CONSTRUCTED fixed-volume day of vectors via the
      // persisted FROZEN quantizer and slice-swaps it with the re-stamp
      // deferred — FLAT in corpus size. `ann_index_append_fixedday` is the
      // same day PLUS the canonical re-stamp (one O(index) digest pass
      // per per-vector family) — ≤ linear; the gap between the curves is
      // the re-stamp cost the batch re-stamp policy amortizes. Probe
      // order within a scale keeps verified reads canonical: search runs
      // BEFORE the stale-manifest append_slice, and append_fixedday
      // re-stamps last.
      ("ann_index_append_slice", (h, d, _) => {
        val root = annStore(h, d)
        AnnArtifacts.appendDay(h.spark, root, SynthIngestDay,
          synthVecDay(h.spark), restamp = false)
        graft.sources.Tables.readParquet(h.spark, s"$root/flat")
          .filter(col("ingest_day") === SynthIngestDay).groupBy().count()
      }),
      ("ann_index_append_fixedday", (h, d, _) => {
        val root = annStore(h, d)
        AnnArtifacts.appendDay(h.spark, root, SynthIngestDay,
          synthVecDay(h.spark), restamp = true)
        graft.sources.Tables.readParquet(h.spark, s"$root/flat")
          .filter(col("ingest_day") === SynthIngestDay).groupBy().count()
      }),
      ("qsketch_append_fixedday", (h, d, _) => {
        val root = sketchStore(h, d)
        val day = h.spark.range(50000).select(
          (lit(21000L) * lit(86400000000000L) + col("id")).as("ts"),
          (col("id") % 997).cast("double").as("value"))
        SketchArtifacts.appendQsketchDay(h.spark, root, 21000L, day)
        SketchArtifacts.qsketchDays(h.spark, root).select("day_epoch", "n")
      }),
      // The streaming frozen-model index store's cost curves: BUILD is
      // the admission pipeline's indexing job, linear by construction.
      // READ is a verified gate-view read (canonical digest of the
      // snapshot the previous round's appends left + LSM merge):
      // O(index), linear. APPEND_SLICE is the nightly hot path — a
      // CONSTRUCTED fixed-volume day signatured and slice-swapped with the
      // re-stamp deferred — and must be FLAT in corpus size (the standing
      // corpus is never re-read). APPEND_FIXEDDAY adds the canonical
      // re-stamp — ≤ linear. Probe order within a scale (read before the
      // stale-manifest append_slice, restamping append_fixedday last)
      // keeps every verified read canonical.
      ("stream_index_build", (h, d, _) => {
        val r = h.sampleDir("streamb-")
        StreamArtifacts.write(h.spark, d, r)
        StreamArtifacts.spanIndex(h.spark, r)
      }),
      ("stream_index_read", (h, d, _) => {
        val r = streamStore(h, d)
        StreamArtifacts.incrHash(h.spark, r)
          .select(col("exact_partner").cast("string").as("x"))
          .unionByName(StreamArtifacts.gramIndex(h.spark, r)
            .select(functions.lower(hex(col("gram_hash"))).as("x")))
      }),
      ("stream_index_append_slice", (h, d, _) => {
        val r = streamStore(h, d)
        StreamArtifacts.appendDay(h.spark, r, SynthIngestDay,
          synthDay(h.spark), restamp = false)
        graft.sources.Tables.readParquet(h.spark, s"$r/incr_hash")
          .filter(col("ingest_day") === SynthIngestDay).groupBy().count()
      }),
      ("stream_index_append_fixedday", (h, d, _) => {
        val r = streamStore(h, d)
        StreamArtifacts.appendDay(h.spark, r, SynthIngestDay,
          synthDay(h.spark), restamp = true)
        graft.sources.Tables.readParquet(h.spark, s"$r/incr_hash")
          .filter(col("ingest_day") === SynthIngestDay).groupBy().count()
      }),
      // SLICE COMPACTION: each sample appends three fresh fixed-volume
      // days (re-stamp deferred — the batch cadence) and compacts them
      // into the base slice — an O(index) canonical rewrite per family,
      // LINEAR in corpus size by construction (a hot span bucket or a
      // merge that re-reads slices quadratically would show here). Runs
      // against its OWN store so the read/append probes' slice layout
      // stays untouched.
      ("stream_index_compact", (h, d, _) => {
        val r = h.store(s"compact:$d")(StreamArtifacts.write(h.spark, d, _))
        val base = 30000L + h.fresh() * 3L
        (0L until 3L).foreach { j =>
          StreamArtifacts.appendDay(h.spark, r, base + j,
            synthDayAt(h.spark, base + j), restamp = false)
        }
        StreamArtifacts.compact(h.spark, r, base + 2L)
        graft.sources.Tables.readParquet(h.spark, s"$r/gram_index")
          .select("ingest_day").distinct()
      }),
      // COMPACTION CADENCE: a 40-day simulated nightly feed against a
      // fresh store, the compactIfNeeded policy (threshold 6, replay
      // horizon = the day being appended) running in each night's
      // epilogue — the probe ERRORS if the slice count ever exceeds
      // maxSlices + 1, the policy's bound claim under a steady feed.
      // Deliberately SCALE-INDEPENDENT (constructed tiny days, own store):
      // the gate here is the BOUND; the wall column shows the 40-night
      // cost is flat.
      ("stream_index_cadence", (h, _, _) => {
        val s = h.spark
        import s.implicits._
        val r = h.sampleDir("cadence-")
        val maxSlices = 6
        // 40 tokens/doc: above SpanTok=24 so the span family's slice
        // is never empty (an all-empty slice writes a schemaless
        // parquet dir the canonical re-read cannot open)
        def day(d: Long) = s.range(20).select(
          (-(col("id") + lit(1L) + lit(d * 1000L))).as("doc_id"),
          concat_ws(" ", (0 until 40).map(j =>
            concat(lit(s"cad${j}x"), (col("id") * 31 + lit(j) +
              lit(d * 97L)).cast("string"))): _*).as("text"),
          lit("synth").as("source"))
        StreamArtifacts.writeFrom(s, day(0L), day(0L), r)
        val counts = (1L to 40L).map { d =>
          StreamArtifacts.appendDay(s, r, d, day(d), restamp = false)
          StreamArtifacts.compactIfNeeded(s, r, maxSlices, protectFrom = d): Unit
          val n = StreamArtifacts.Families.map(f =>
            DedupArtifacts.sliceDays(s, s"$r/$f", "ingest_day").length).max
          if (n > maxSlices + 1)
            sys.error(s"cadence bound breached on night $d: $n slices")
          (d, n.toLong)
        }
        StreamArtifacts.restamp(s, r)
        counts.toDF("night", "n_slices")
      }),
      // COMPOSED NIGHTLY: runDay over a day volume that scales with the
      // dir, against ONE fixed-size store trio — the "bigger ingest day,
      // same stores" axis; must be ∝ day
      ("nightly_runday", (h, d, _) => {
        val s = h.spark
        val (sk, st, an) = nightlyTrio(h, "fixed", h.baseDir)
        val day = 40000L + h.fresh()
        val off = day * 90000000000L
        val ev = graft.sources.Tables.events(s, d)
          .select((lit(day) * 86400000000000L +
            col("ts") % 86400000000000L).as("ts"),
            col("value"), col("user_id"))
        val docs = graft.sources.Feeds.incomingDocs(s, d)
          .select((-(col("doc_id") + lit(off))).as("doc_id"),
            col("text"), col("source"))
        val vecs = graft.sources.Tables.embeddings(s, d)
          .select((-(col("vec_id") + lit(off))).as("vec_id"),
            col("label"), col("embedding"))
        // maxSlices far above any configurable sweep length: the ONE
        // fixed trio takes an append per sample, and a long
        // SPARK_GRAFT_SCALE_FACTORS sweep would cross DefaultMaxSlices=16
        // and fire compactIfNeeded INSIDE a sample — a spurious gate
        // spike. Compaction cost has its own probe (stream_index_cadence);
        // this one measures the append path, ∝ day volume.
        graft.operators.Nightly.runDay(s, day, sk, st, an,
          ev, docs, vecs, maxSlices = 100000)
      }),
      // COMPOSED NIGHTLY, other axis: a constructed fixed-volume day
      // against stores grown with the dir — the "same ingest day,
      // year-older stores" axis; bounded by the O(index) re-stamp
      ("nightly_runday_fixedday", (h, d, _) => {
        val s = h.spark
        val (sk, st, an) = nightlyTrio(h, d, d)
        val day = 60000L + h.fresh()
        val ev = s.range(5000).select(
          (lit(day) * 86400000000000L +
            (col("id") * 9976543210L) % 86400000000000L).as("ts"),
          (col("id") % 1000).cast("double").as("value"),
          (col("id") % 97).as("user_id"))
        val vecs = synthVecDay(s).select(
          (col("vec_id") - lit(day * 1000000L)).as("vec_id"),
          col("label"), col("embedding"))
        graft.operators.Nightly.runDay(s, day, sk, st, an,
          ev, synthDayAt(s, day), vecs)
      }))

  private val probeNames: Set[String] = scaleProbes.map(_._1).toSet

  /** Warm-up at the base scale (codegen/JIT/footer machinery), then per
    * scale the min of two samples per probe, scale-major so a probe's
    * samples are separated by the rest of the family. */
  private def scaleSweep(h: Harness, probes: Seq[(String, ProbeFn)]): Seq[Curve] = {
    val dirs = Scales.map { k =>
      val d = if (k == 1) h.baseDir else s"${h.root}/x$k"
      if (k != 1) inflate(h.spark, h.baseDir, d, k)
      k -> d
    }.toMap
    def once(p: ProbeFn, k: Int): Reading =
      h.sample(1)(() => noop(p(h, dirs(k), k)))
    probes.foreach { case (_, p) => once(p, Scales.head) }
    val got = Scales.map(k =>
      Seq.fill(2)(probes.map { case (_, p) => once(p, k) }).transpose.map(fastest))
    probes.indices.map { i =>
      val rs = got.map(_(i))
      Curve("scale", probes(i)._1, Scales.zip(rs).map { case (k, r) =>
        f"${k}x ${r.wallSec}%.2fs/${r.taskSec}%.1fs" }.mkString(", "),
        Seq(ScaleWall.check(s"wall ${Scales.last}x/${Scales.head}x",
          rs.head.wallSec, rs.last.wallSec),
          ScaleWork.check("work", rs.head.taskSec, rs.last.taskSec)))
    }
  }

  // ---- `slice`: read cost against slice count

  /** The slice axis of one log-structured store, isolated EXACTLY: store A
    * is a single-pass build (1 slice); store B is the base build plus
    * `days` nightly appends of constructed fixed-volume days and one
    * re-stamp. Append ≡ rebuild means A and B carry the SAME canonical
    * rows and the SAME manifests (checked before timing), so any read-wall
    * gap between them is the per-slice overhead of the read-side merge,
    * not data volume. B is then COMPACTED, and the compacted read must
    * fall back to the single-slice cost ([[reclaimGate]]): verified reads
    * re-merge O(compactions-since) slices, not 365. The timed read is the
    * verified materialization of every read family; each layout is read
    * once before it is timed, so the timed reads skip the canonical
    * digest of a snapshot already verified and measure the read-side
    * merge itself. */
  private def sliceAxis(h: Harness, store: String, days: Int,
      families: Seq[String], single: String => Unit, base: String => Unit,
      append: (String, Long) => Unit, restamp: String => Unit,
      compact: (String, Long) => Unit, read: String => Seq[Long]): Curve = {
    val (a, b) = (h.dir(s"slice-$store-a-"), h.dir(s"slice-$store-b-"))
    single(a)
    base(b)
    (1 to days).foreach(d => append(b, d.toLong))
    restamp(b)
    def manifest(r: String, f: String) =
      Files.readString(Paths.get(s"$r/$f/_graft_manifest.json"))
    val manifestsEqual = families.forall(f => manifest(a, f) == manifest(b, f))
    read(a); read(b) // warm both paths (codegen/footer machinery)
    val (nA, nB) = (read(a), read(b))
    val tSliced = h.sample(SliceSamples)(() => read(b)).wallSec
    compact(b, days.toLong)
    read(b) // warm the new file layout
    val nC = read(b)
    val pairs = (1 to SliceSamples).map(_ =>
      (h.sample(1)(() => read(a)).wallSec, h.sample(1)(() => read(b)).wallSec))
    Curve("slice", s"$store store", f"single-pass ${pairs.map(_._1).min}%.2fs, " +
      f"${days + 1} slices $tSliced%.2fs, compacted ${pairs.map(_._2).min}%.2fs; " +
      s"rows ${nA.mkString("/")}",
      Seq(Check("manifests A==B", manifestsEqual),
        Check("views identical", nA == nB && nB == nC),
        Check(s"reclaim ratios ${pairs.map { case (x, y) => f"${y / x}%.2f" }
          .mkString("/")} majority <=1.25x or <=0.3s", reclaimGate(pairs))))
  }

  private def sliceSweep(h: Harness): Seq[Curve] = {
    val s = h.spark
    def synthDocs(day: Long) = s.range(500).select(
      (-(col("id") + lit(1L) + lit(day * 1000000L))).as("doc_id"),
      concat_ws(" ",
        lit("slice probe synthetic day"), lit(day), col("id"),
        lit(("the quick brown fox jumps over the lazy dog " * 5).trim),
        (col("id") % 89).cast("string"),
        lit("tail marker tokens alpha beta gamma delta epsilon zeta eta " +
          "theta iota kappa lambda mu nu xi omicron pi rho sigma tau"))
        .as("text"),
      lit("synth_feed").as("source"))
    def synthVecs(day: Long) = s.range(500).select(
      (-(col("id") + lit(1L) + lit(day * 1000000L))).as("vec_id"),
      (col("id") % 16).cast("int").as("label"),
      expr(s"transform(sequence(0, 63), j -> " +
        s"CAST((id * 31 + j * 7 + $day) % 101 AS FLOAT))").as("embedding"))

    val docs = graft.sources.Tables.documents(s, h.baseDir)
      .select("doc_id", "text", "source")
    val standing = docs.filter(col("doc_id") % graft.sources.Feeds.IncrMod
      =!= graft.sources.Feeds.IncrRem)
    val allDocs = (1 to SliceDays).map(d => synthDocs(d.toLong)).reduce(_ unionByName _)
    val stream = sliceAxis(h, "stream", SliceDays, StreamArtifacts.Families,
      a => StreamArtifacts.writeFrom(s, standing.unionByName(allDocs),
        docs.unionByName(allDocs), a),
      StreamArtifacts.write(s, h.baseDir, _),
      (b, d) => StreamArtifacts.appendDay(s, b, d, synthDocs(d), restamp = false),
      StreamArtifacts.restamp(s, _), StreamArtifacts.compact(s, _, _),
      r => Seq[(SparkSession, String) => DataFrame](StreamArtifacts.incrHash,
        StreamArtifacts.incrSigs, StreamArtifacts.gramIndex,
        StreamArtifacts.spanIndex).map(_(s, r).count()))

    val baseV = EmbeddingOps.vectors(s, h.baseDir)
    val allVecs = (1 to AnnSliceDays).map(d => synthVecs(d.toLong))
      .reduce(_ unionByName _)
      .select(col("vec_id"), col("label"), col("embedding"),
        expr("graft_norm2(embedding)").as("n2"))
    val ann = sliceAxis(h, "ANN", AnnSliceDays, Seq("flat", "ivf_cells", "pq_codes"),
      a => AnnArtifacts.writeFrom(s, baseV.unionByName(allVecs),
        EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.IvfK),
        EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.PqK)
          .select("cent_id", "c_emb"), a),
      AnnArtifacts.write(s, h.baseDir, _),
      (b, d) => AnnArtifacts.appendDay(s, b, d, synthVecs(d), restamp = false),
      AnnArtifacts.restamp(s, _), AnnArtifacts.compact(s, _, _),
      r => Seq(AnnArtifacts.flat(s, r).count(), AnnArtifacts.cells(s, r).count(),
        AnnArtifacts.pqCodes(s, r).count()))
    Seq(stream, ann)
  }

  // ---- `stream`: micro-batch wall against batch volume and index size

  /** Synthetic standing corpus with the PREFIX property (scale k's docs
    * are a superset of scale 1's, so the fixed feed hits every scale
    * identically): blocks of 4 identical docs (dup spans + near-dup
    * structure exist at every scale), ~40 tokens from a 500-token
    * vocabulary. */
  private def synthStanding(sp: SparkSession, n: Long): DataFrame =
    sp.range(n).select(col("id").as("doc_id"),
      expr("concat('s', id % 5)").as("source"),
      expr("""concat_ws(' ', transform(sequence(1, 40),
             j -> concat('tok', pmod((id - id % 4) * 131 + j * j, 500))))""")
        .as("text"))

  /** Two axes. VOLUME: the heaviest stateful families (D6 SCD2, D10 pack,
    * D17 stratified bottom-k sample, D22 shape drift, D26 semantic drift)
    * take [[BaseRows]]·k-row micro-batches over a FIXED key universe —
    * per-key batch volume DEEPENS with k, the hard direction for
    * per-group work, while state stays at its documented plateau; a
    * warm-up batch, then min of 2 per scale, rows generated off the clock.
    * INDEX: the three frozen-model gates (D18 signature index, D24 gram
    * index, D34 span index) take the SAME 500-doc feed against a
    * 1×/4×/16× standing corpus whose index is built and persisted off the
    * clock per scale; warm-up + min of 2 per scale. */
  private def streamSweep(h: Harness): Seq[Curve] = {
    val sp = h.spark
    import sp.implicits._
    implicit val sqlCtx: SQLContext = sp.sqlContext

    def start[T](ds: Dataset[T], mode: String): StreamingQuery =
      ds.writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", h.dir("ckpt-")).start()
    // batch indices keep every row fresh so state revisions advance
    def drive[T](name: String, in: MemoryStream[T], q: StreamingQuery,
        mk: (Int, Int) => Seq[T]): Curve = {
      var batch = 0
      def staged(k: Int) = {
        batch += 1
        val rows = mk(k, batch)
        () => { in.addData(rows: _*); q.processAllAvailable() }
      }
      val secs = try StreamScales.map(k => h.sample(2,
        warmup = if (k == StreamScales.head) 1 else 0)(staged(k)).wallSec)
      finally q.stop()
      Curve("stream", name, StreamScales.zip(secs).map { case (k, t) =>
        f"${BaseRows * k / 1000}k $t%.2fs" }.mkString(", "),
        Seq(StreamVolume.check(s"${StreamScales.last}x/${StreamScales.head}x",
          secs.head, secs.last)))
    }
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val langs = Seq("en", "es", "de")

    // D6: 1000 fixed users, per-user event volume deepens with k; event
    // time advances across batches (in-order per user within a batch)
    val in6 = MemoryStream[ChangeEvent]
    val c6 = drive("D6 scd2", in6,
      start(Scd2Stream.scd2(Scd2Stream.withWatermark(in6.toDS())), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        ChangeEvent(i % 1000L, new Timestamp(t0 + b * 100000000L + i * 10L),
          b * 10000000L + i, (i % 97).toDouble)
      })
    // D10: 10 fixed sources, packing offsets carry across batches
    val in10 = MemoryStream[PackDoc]
    val c10 = drive("D10 pack", in10,
      start(PackStream.pack(in10.toDS(), budget = 512L), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        PackDoc("s" + i % 10, b * 10000000L + i, 1L + i % 50)
      })
    // D17: 60 fixed strata (20 sources x 3 langs), bottom-k per stratum
    val in17 = MemoryStream[DocHash]
    val c17 = drive("D17 sample", in17,
      start(SampleStream.rows(in17.toDS(), k = 100), "update"),
      (k, b) => (0 until BaseRows * k).map { i =>
        DocHash("s" + i % 20, langs(i % 3), b * 10000000L + i,
          (b * 10000000L + i) * 2654435761L % 1000003L)
      })
    // D22: 10 fixed sources vs a frozen shape baseline
    val base22 = (0 until 10).map(s => "s" + s -> BaseHist(1000L,
      Map(0 -> 400L, 1 -> 400L, 2 -> 200L),
      Map("en" -> 500L, "es" -> 300L, "de" -> 200L))).toMap
    val in22 = MemoryStream[DriftDoc]
    val c22 = drive("D22 drift", in22,
      start(DriftStream.monitor(in22.toDS(), base22), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        DriftDoc("s" + i % 10, langs(i % 3), (i.toLong * 7 + b) % 400)
      })
    // D26: 10 fixed sources vs a frozen cluster-mix baseline
    val base26 = (0 until 10).map(s => "s" + s -> SemBase(1000L,
      (0L until 8L).map(c => c -> 125L).toMap)).toMap
    val in26 = MemoryStream[SemDoc]
    val c26 = drive("D26 semantic drift", in26,
      start(SemanticDriftStream.monitor(in26.toDS(), base26), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        SemDoc("s" + i % 10, (i + b) % 8L)
      })

    // fixed feed: 400 standing dups (from the 1x prefix) + 100 novel docs
    val feed = synthStanding(sp, 400L)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("source"),
        col("text"))
      .unionByName(sp.range(100).select(
        (col("id") + 2000000000L).as("doc_id"),
        expr("concat('s', id % 5)").as("source"),
        expr("""concat_ws(' ', transform(sequence(1, 40),
              j -> concat('nov', id * 977 + j)))""").as("text")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    def persisted(df: DataFrame) = {
      val path = h.dir("idx-")
      df.write.mode("overwrite").parquet(path)
      graft.sources.Tables.readParquet(sp, path)
    }
    def gate(name: String, mk: Int => (() => Unit)): Curve = {
      val secs = IndexScales.map { k => val run = mk(k); h.sample(2, warmup = 1)(run).wallSec }
      Curve("stream", name, IndexScales.zip(secs).map { case (k, t) =>
        f"${k}x index $t%.2fs" }.mkString(", "),
        Seq(StreamIndex.check(s"${IndexScales.last}x/${IndexScales.head}x",
          secs.head, secs.last)))
    }
    def fed(in: MemoryStream[(Long, String, String)]) = {
      in.addData(feed: _*)
      in.toDF().toDF("doc_id", "source", "text")
    }
    val BaseDocs = 4000L
    val d18 = gate("D18 sig index", { k =>
      val (ih, cold) = graft.operators.DedupOps
        .buildIncrementalIndex(sp, synthStanding(sp, BaseDocs * k))
      val (ihF, coldF) = (persisted(ih), persisted(cold))
      val in = MemoryStream[(Long, String, String)]
      val (target, ck) = (h.dir("idx-") + "/v", h.dir("idx-"))
      () => DedupStream.incremental(fed(in).drop("source"), ihF, coldF,
        target, ck).awaitTermination()
    })
    val d24 = gate("D24 gram index", { k =>
      val idx = persisted(graft.operators.Pipeline
        .standingGramIndexOf(synthStanding(sp, BaseDocs * k)))
      val in = MemoryStream[(Long, String, String)]
      val (target, ck) = (h.dir("idx-") + "/n", h.dir("idx-"))
      () => CorpusStream.noveltyGate(fed(in).select("source", "text"), idx,
        target, ck).awaitTermination()
    })
    val d34 = gate("D34 span index", { k =>
      val idx = persisted(graft.operators.DedupOps
        .anchoredSpans(synthStanding(sp, BaseDocs * k))
        .select("span_hash").distinct())
      val in = MemoryStream[(Long, String, String)]
      val (target, ck) = (h.dir("idx-") + "/m", h.dir("idx-"))
      () => MaskStream.plan(fed(in).select("doc_id", "text"), idx,
        target, ck).awaitTermination()
    })
    Seq(c6, c10, c17, c22, c26, d18, d24, d34)
  }

  // ---- `skew`: the hot-key straggler

  /** The hard case is a HOLISTIC aggregate on a hot key: Catalyst's
    * map-side partials bound collect-list state per TASK, but the reduce
    * step for one key is a single task, so a bot user (C102's named
    * 100 TB sentinel) grows one straggler without bound while total work
    * stays linear — invisible to the `scale` wall/work gates, visible only
    * in MAX TASK time. The base events plus ONE injected bot user with
    * [[HotBase]]·k rows; both plans compute the identical per-user (count,
    * cents total, exact top-3) aggregate (the C113 shape, result equality
    * pinned in SkewSpec), the salted one at factor [[BaseFactor]]·k. */
  private def skewSweep(h: Harness): Seq[Curve] = {
    val spark = h.spark
    def withBot(n: Long): DataFrame = {
      val base = graft.sources.Tables.events(spark, h.baseDir)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      val parts = math.max(32L, n / RowsPerPart).toInt
      val bot = spark.range(0L, n, 1L, parts).select(lit(-1L).as("user_id"),
        (col("id") + lit(1000000000L)).as("event_id"),
        (col("id") % 997L).as("cents"))
      base.unionByName(bot)
    }
    val aggCols = Seq(
      count(lit(1)).as("n_events"), sum("cents").as("value_cents_total"),
      expr(s"slice(sort_array(collect_list(cents), false), 1, ${Skew.SaltedTopK})")
        .as("t"))
    def curve(name: String, gate: Gate, mk: Int => DataFrame): Curve = {
      val rs = SkewScales.map(k => h.sample(2,
        warmup = if (k == SkewScales.head) 1 else 0)(() => noop(mk(k))))
      Curve("skew", name, "wall/max task " + SkewScales.zip(rs).map {
        case (k, r) => f"${k}x ${r.wallSec}%.2fs/${r.maxTaskSec}%.2fs" }.mkString(", "),
        Seq(gate.check(s"max task ${SkewScales.last}x/${SkewScales.head}x",
          rs.head.maxTaskSec, rs.last.maxTaskSec)))
    }
    Seq(
      curve("unsalted (control)", SkewControl, k =>
        withBot(HotBase * k).groupBy("user_id").agg(aggCols.head, aggCols.tail: _*)),
      curve(s"salted factor=${BaseFactor}k", SkewSalted, k =>
        Skew.saltedAgg(withBot(HotBase * k), "user_id", col("event_id"),
          BaseFactor * k, partials = aggCols,
          merge = Seq(sum("n_events").as("n_events"),
            sum("value_cents_total").as("value_cents_total"),
            expr("slice(sort_array(flatten(collect_list(t)), false), 1, " +
              s"${Skew.SaltedTopK})").as("t")))))
  }

  // ---- `segment`: grouped-sketch cost against segment count

  /** The grouped quantile sketch's GRANULARITY contract:
    * [[graft.functions.QuantileSketchAgg]] holds (64−s)·2^s longs
    * (29 KiB at s = 6) PER GROUP, so state — and with it the
    * partial-aggregate shuffle — multiplies by the group count. B54's
    * grouped build + readout runs over a FIXED corpus while the segment
    * count explodes 1×/16×/256× (event_type × event_id-mod buckets,
    * [[graft.operators.Sketches.valueQuantilesBySyntheticSegments]]).
    * PROMISED: cost linear in segment count, never quadratic (a
    * per-segment subtree replay blows through), per-segment cost flat,
    * and shuffle bytes linear. NOT promised: flat total cost — at
    * per-entity granularity the documented mitigation is sizing s down or
    * pre-aggregating entities onto segments. */
  private def segmentSweep(h: Harness): Curve = {
    def frame(k: Int) = graft.operators.Sketches
      .valueQuantilesBySyntheticSegments(h.spark, h.baseDir, k)
    val rs = SegMuls.map(k => h.sample(2,
      warmup = if (k == SegMuls.head) 1 else 0)(() => noop(frame(k))))
    val rows = SegMuls.map(frame(_).count()) // off the clock
    h.spark.catalog.clearCache()
    val (mid, last) = (rs(1), rs.last)
    Curve("segment", "grouped qsketch", SegMuls.indices.map { i =>
      val r = rs(i)
      f"${SegMuls(i)}x ${rows(i)} rows ${r.wallSec}%.2fs work ${r.taskSec}%.2fs " +
        f"shuffle ${r.shuffleWriteMb}%.2fMB work/seg ${r.taskSec / SegMuls(i)}%.3fs"
    }.mkString(", "),
      Seq(SegmentWork.check(s"work (= work/seg) ${SegMuls.last}x/${SegMuls(1)}x",
        mid.taskSec, last.taskSec),
        SegmentShuffle.check("shuffle", mid.shuffleWriteMb, last.shuffleWriteMb)))
  }
}
