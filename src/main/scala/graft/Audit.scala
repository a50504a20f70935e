package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Dev tool: whole-surface plan hazard sweep. For every registered query,
  * flags the shapes that pass local tests but die at 100 TB:
  *
  *  - an EXPLICIT `broadcast()` hint over a subtree that scans a FACT
  *    table (orders / lineitem / events / documents / embeddings) with no
  *    aggregate reduction below the hint — the build side scales with the
  *    data, so the forced driver-side build OOMs at scale. (Planner-chosen
  *    broadcasts are NOT flagged: AQE re-decides them per scale. Hinted
  *    subtrees that are filter-bounded — probe batches, centroid caps,
  *    eval slices — are vetted in [[knownBounded]], justification in the
  *    operator's scaladoc.)
  *  - a Window with an empty partition spec — every row lands in ONE
  *    partition; fine only when the input is provably bounded (catalog,
  *    histogram, matrix), vetted the same way.
  *  - a RUNNING-aggregate Window (ordered, UnboundedPreceding frame)
  *    whose child scans a FACT table with no aggregate reduction below —
  *    one window partition = one task sequentially scanning every row of
  *    its key (the q_corpus_pack-shaped hazard: a per-source prefix sum
  *    puts a whole source in one task at 100 TB). Keys whose partitions
  *    are bounded by construction (chunk ids, per-user sessions with
  *    upstream bot screening) are vetted in [[knownBounded]].
  *  - a query whose plan holds MORE THAN [[MaxFactScans]] file-scan leaves
  *    of the same fact table, cache boundaries counted as one (the C93
  *    class, now bitten twice: a "shared" relation is only PLAN-shared, so
  *    a config-sweep loop replays its whole subtree — tokenization,
  *    explode, aggregation — once per consumer branch; at 100 TB that is
  *    |configs| extra corpus passes). Queries whose extra scans are
  *    genuinely distinct passes are vetted in [[knownBounded]] WITH their
  *    count (`repeated-scan:events:x4`) so any drift re-flags.
  *
  *  - a driver-round-trip (job-count) breach in the ITERATIVE family —
  *    see [[iterativeJobBounds]]: the only class that EXECUTES, because a
  *    driver loop is invisible to any plan.
  *
  * Anything NEW is a regression to investigate. Run:
  * `sbt "runMain graft.Audit"`. */
object Audit {

  private val factTables =
    Set("orders", "lineitem", "events", "documents", "embeddings")

  /** (query, hazard) pairs audited as fine — see each operator's scaladoc. */
  val knownBounded: Set[(String, String)] = Set(
    // catalog-bounded cumulative windows (one row per part before the sort)
    ("q_abc_classification", "global-window"),
    // histogram-bounded cumulative window (distinct cents values)
    ("q_order_quantiles_hist", "global-window"),
    // ≤ types² transition matrix / ≤ langs² confusion matrix windows
    ("q_events_markov", "global-window"),
    ("q_text_lang_confusion", "global-window"),
    // calendar-bounded monthly feature matrix
    ("q_sales_forecast_features", "global-window"),
    // C102: the rank window runs AFTER a limit(SkewTopK) — ≤ 3 rows per
    // family by construction (TakeOrderedAndProject does the real top-k)
    ("q_skew_audit", "global-window"),
    // C86: the global window runs over the quality-bucket HISTOGRAM
    // (bounded grid, ≤ distinct floor(q·10^6) values), and the running
    // fact window is filtered to the ONE boundary bucket b* before the
    // sort — a corpus where b* is still too large recurses the same
    // histogram split at finer scale (documented in the scaladoc)
    ("q_token_budget_fill", "global-window"),
    ("q_token_budget_fill", "running-window-over-fact:documents"),
    // ANN probe batches: vec_id % 100 under a fixed cap (ProbeBatch) —
    // filter-bounded, no aggregate, O(batch) at any corpus size
    ("q_ann_bruteforce", "hinted-fact-broadcast:embeddings"),
    ("q_ann_lsh", "hinted-fact-broadcast:embeddings"),
    ("q_ann_ivf", "hinted-fact-broadcast:embeddings"),
    ("q_ann_recall_report", "hinted-fact-broadcast:embeddings"),
    // C91 inherits C13's shape: the broadcast sides are the O(IvfK)
    // centroid set and the (ProbeBatch × nprobe_max)-bounded probe-cell
    // set — both fixed-size at any corpus scale
    ("q_ann_nprobe_sweep", "hinted-fact-broadcast:embeddings"),
    // C96 fuses the C7 + C13 lists: same probe-batch / centroid-capped
    // broadcast subtrees, bounded by construction (see those scaladocs)
    ("q_retrieval_rrf", "hinted-fact-broadcast:embeddings"),
    // C97's cumulative pass runs over the <= VocabBuckets-row grid (an
    // aggregate of the corpus, bounded by the decile rule)
    ("q_vocab_growth", "global-window"),
    // B52/B53: the quantile readout's cumsum runs over the sketch's
    // bucket histogram — an aggregate of the corpus bounded by GEOMETRY
    // ((64−s)·2^s rows, ≤ 14336 at the swept s = 8), the B24 cents-
    // histogram device with a fixed ceiling
    ("q_value_quantile_sketch", "global-window"),
    ("q_qsketch_s_sweep", "global-window"),
    // B55: the day-over-day lag orders one row per observed calendar day
    // ABOVE the per-day sketch aggregate (calendar-bounded)
    ("q_value_quantile_drift", "global-window"),
    ("q_ann_hard_negatives", "hinted-fact-broadcast:embeddings"),
    // C74 serving: inherits C6's probe broadcast, plus the O(batch·10)
    // hit-set broadcast for the doc fetch — both fixed-size at any scale
    ("q_ann_serve", "hinted-fact-broadcast:embeddings"),
    // C85 MaxSim: the same filter-bounded probe-batch broadcast as C6
    // (vec_id % 100 under the ProbeBatch cap) — the corpus side reduces
    // map-side to the bounded (probe × label) grid right after the scan
    ("q_retrieval_maxsim", "hinted-fact-broadcast:embeddings"),
    // IVF centroid set: vec_id ≡ 50 (mod 100) under the IvfK cap
    ("q_semantic_dedup", "hinted-fact-broadcast:embeddings"),
    // C53 cell balance: the same O(IvfK) centroid broadcast as C13, plus
    // a broadcast 1-row grand total — both fixed-size at any corpus scale
    ("q_ann_cell_balance", "hinted-fact-broadcast:embeddings"),
    // C55 PQ: the O(PqK) codebook broadcast — fixed-size at any scale;
    // the ×k fanout collapses in a map-side struct-MIN before the shuffle
    ("q_embed_pq", "hinted-fact-broadcast:embeddings"),
    // C109 composes C55's assignment plan (plus its own 1-row total
    // broadcast), inheriting exactly that fixed-size codebook broadcast
    ("q_embed_pq_distortion", "hinted-fact-broadcast:embeddings"),
    // C112 composes the three bounded ANN searches (each with its vetted
    // probe-set broadcast) and caches their 50-row lists — the flag is
    // the searches' own, inherited
    ("q_ann_overlap", "hinted-fact-broadcast:embeddings"),
    // C111's recall ground truth: the broadcast side is the 1-in-N doc
    // SAMPLE's gram sets (bounded by the RecallDocMod deployment rule —
    // N scales with the corpus, the C35/C84 capacity rule), the one
    // deliberately non-blocked join in the dedup family; plus its 1-row
    // sample-count broadcast
    ("q_dedup_lsh_recall", "hinted-fact-broadcast:documents"),
    // C56 ADC: the probe LUT broadcasts — O(batch·PqSub·PqK), fixed-size
    // (probe batch + codebook caps), never a corpus fraction
    ("q_ann_pq_adc", "hinted-fact-broadcast:embeddings"),
    // C62 k-means: the seed set is the C13 selection rule capped at
    // KmClusters, and every refined-centroid broadcast sits above the
    // (cluster, dim)-keyed aggregate — both O(k·64) at any corpus size
    ("q_embed_kmeans", "hinted-fact-broadcast:embeddings"),
    // C70 composes C62's assignment, so it inherits exactly that vetted
    // O(k·64) centroid broadcast — same justification
    ("q_cluster_profile", "hinted-fact-broadcast:embeddings"),
    // C78 composes the same assignment (same O(k·64) broadcast); the
    // corpus-scaled doc-side join is shuffle_hash, never broadcast
    ("q_semantic_drift", "hinted-fact-broadcast:embeddings"),
    // C82 composes C35's semantic stage, inheriting its vetted O(IvfK)
    // centroid broadcast — same justification
    ("q_dedup_funnel", "hinted-fact-broadcast:embeddings"),
    // decontamination eval slice: doc_id % 100 == 7 — a fixed 1% eval set
    // whose gram explosion is eval-sized, never corpus-sized
    ("q_corpus_decontaminate", "hinted-fact-broadcast:documents"),
    // C87: the same benchmark-gram broadcast as C25 (bench-slice bounded);
    // the island windows partition by doc_id over HIT rows only —
    // per-partition work is one doc's gram-hit count (per-entity
    // sequential), and a deployment puts the C84 Bloom screen in front
    ("q_contamination_spans", "hinted-fact-broadcast:documents"),
    ("q_contamination_spans", "running-window-over-fact:documents"),
    // the test-scale declarative reference: its 100 TB path SHIPS as
    // q_corpus_pack_hier, row-for-row spec-pinned (the B21→B24 precedent)
    ("q_corpus_pack", "running-window-over-fact:documents"),
    // the hier path's WITHIN-CHUNK running sum: partition (source, chunk)
    // holds ≤ PackChunk rows BY CONSTRUCTION (chunk = doc_id div PackChunk);
    // the cross-chunk scan sits above an aggregate and is already exempt
    ("q_corpus_pack_hier", "running-window-over-fact:documents"),
    // C50 composes the hier packer, so it inherits exactly that vetted
    // chunk-bounded window — same justification
    ("q_pack_efficiency", "running-window-over-fact:documents"),
    // C107's gaps-and-islands windows PARTITION BY doc_id over the
    // non-keeper span occurrences of ONE doc (O(tokens/AnchorMod) worst
    // case, duplicate occurrences only in practice) — interval merging is
    // per-entity sequential by definition, same class as the sessionize
    // carry; the fact table under the window is the already-collapsed
    // C106 plan, not the corpus
    ("q_mask_coalesce", "running-window-over-fact:documents"),
    // C108 composes C107's per-doc core, inheriting exactly that vetted
    // doc-partitioned interval-merge window — same justification
    ("q_mask_datasheet", "running-window-over-fact:documents"),
    // per-user event-order carries are sequential BY DEFINITION (a session
    // id / latest-click can't be known out of order): partition = one
    // user's events, hot users bounded by the B41 bot screen upstream, and
    // the streaming twins (D2/D5) hold O(1)-per-user state instead
    ("q_events_sessionize", "running-window-over-fact:events"),
    ("q_events_asof", "running-window-over-fact:events"),
    // ---- repeated-scan vetting (counts pinned: drift re-flags) ----
    // Every entry below was hand-audited when the round-10 sweep first ran:
    // the scans are DISTINCT pruned passes (different filter/projection
    // roles), not replays of one subtree — the two genuine C93 shapes the
    // sweep caught (q_ann_recall_report's 3x ground-truth replay,
    // q_split_leakage's per-policy branch replay) were FIXED, not vetted.
    // ANN searches read the embeddings file once per role — corpus pass,
    // probe batch, centroid/codebook seed, assignment — each a different
    // pushed filter; the probe/centroid roles are the same filter-bounded
    // subtrees vetted as hinted broadcasts above, and at deployment they
    // persist as artifacts (the C74/C29 story) instead of re-filtering:
    ("q_ann_ivf", "repeated-scan:embeddings:x4"),
    ("q_ann_cell_balance", "repeated-scan:embeddings:x4"),
    ("q_ann_pq_adc", "repeated-scan:embeddings:x4"),
    // C91 composes C13's roles plus the sweep's cached score/inverted-file
    // materializations (PlanSpec pins 2 file + 2 mem at the leaf level)
    ("q_ann_nprobe_sweep", "repeated-scan:embeddings:x6"),
    // C96 fuses the lsh (x2) and ivf (x4) searches, each run ONCE
    ("q_retrieval_rrf", "repeated-scan:embeddings:x6"),
    // C40 = bruteforce (x2) + lsh (x2) + ivf (x4), each list cached and
    // computed once; the rrf row fuses the SAME cached lists
    ("q_ann_recall_report", "repeated-scan:embeddings:x8"),
    // C112 = the three searches (4+2+4), each bounded list cached once
    ("q_ann_overlap", "repeated-scan:embeddings:x10"),
    // C35 IVF-blocked dedup: same per-role reads as C13
    ("q_semantic_dedup", "repeated-scan:embeddings:x6"),
    // C82 composes C35's stages — per-stage passes by definition of a
    // funnel, each stage's count a 1-row reduction
    ("q_dedup_funnel", "repeated-scan:embeddings:x6"),
    // A15: steps 3/4 each derive the last-week window from orders (filter
    // pass + n_entrada count) — date-pruned narrow scans; at 100 TB
    // partition pruning reads days, not history (PlanSpec pins the cached
    // step relation: the TOTAL row adds zero scans)
    ("q_daily_etl_report", "repeated-scan:orders:x4"),
    // artifact-family consumers: pairs/labels staged ONCE per (dir, JVM)
    // by DedupArtifacts (manifest-memoized); the counts are the distinct
    // build passes, measured by the *_artifact ScaleProbe rows
    ("q_dedup_agreement_samesource", "repeated-scan:documents:x4"),
    // C58: standing-index + feed + confirm passes — PlanSpec pins the
    // leaf shape (5 file + 2 mem); distinct projections, no replay
    ("q_dedup_incremental", "repeated-scan:documents:x6"),
    // C71/C76/C81: feed gram pass + standing-corpus reference passes
    // (hash set, gram index, per-source stats) — each a different pruned
    // projection, PlanSpec-pinned (mem reads cover the shared feeds);
    // at deployment the standing indexes persist as artifacts (C29/C84)
    ("q_novelty_curve", "repeated-scan:documents:x4"),
    ("q_feed_novelty", "repeated-scan:documents:x5"),
    ("q_admission_report", "repeated-scan:documents:x6"),
    // C97: ONE text-bearing pass feeds the cached token grid; the other
    // passes are column-pruned id-only scans (bucket sizes, 1-row max)
    ("q_vocab_growth", "repeated-scan:documents:x4"),
    // C120: three scans are C18's own pointer-jumping roles (distinct
    // pruned passes inside the component build, each a different
    // projection — the same plan q_dedup_components ships solo under the
    // threshold); the fourth is the bias join's narrow (doc_id, n_chars)
    // projection — text never read twice
    ("q_dup_length_bias", "repeated-scan:documents:x4"),
    // ---- cartesian-shape vetting (round-11 sweep) ----
    // Every bnlj-broadcast-fact below is the PHYSICAL face of a broadcast
    // subtree already vetted as hinted-fact-broadcast above: the ANN
    // probe batches / centroid / codebook sets join the corpus on a
    // non-equi (or absent) condition, so the planner executes the vetted
    // bounded broadcast as a BroadcastNestedLoopJoin build side. The
    // bound is the HINT's (filter-bounded, fixed-size at any corpus
    // scale — each operator's scaladoc); the equi-keyed ANN variants
    // (LSH band join, gram joins) correctly do not flag. No
    // cartesian-over-fact exists anywhere on the surface (the sweep's
    // other half came back empty).
    ("q_ann_bruteforce", "bnlj-broadcast-fact:embeddings"),
    ("q_ann_cell_balance", "bnlj-broadcast-fact:embeddings"),
    ("q_ann_hard_negatives", "bnlj-broadcast-fact:embeddings"),
    ("q_ann_ivf", "bnlj-broadcast-fact:embeddings"),
    // C91 additionally crosses its 4-row nprobe grid with the bounded
    // brute-force top-k list (EmbeddingOps nprobe-sweep recall join) —
    // sweep-cardinality × top-k-bounded, the one cross the round-10
    // verdict called out by line
    ("q_ann_nprobe_sweep", "bnlj-broadcast-fact:embeddings"),
    ("q_ann_overlap", "bnlj-broadcast-fact:embeddings"),
    ("q_ann_pq_adc", "bnlj-broadcast-fact:embeddings"),
    ("q_ann_recall_report", "bnlj-broadcast-fact:embeddings"),
    ("q_ann_serve", "bnlj-broadcast-fact:embeddings"),
    ("q_cluster_profile", "bnlj-broadcast-fact:embeddings"),
    ("q_dedup_funnel", "bnlj-broadcast-fact:embeddings"),
    ("q_dedup_lsh_recall", "bnlj-broadcast-fact:documents"),
    ("q_embed_kmeans", "bnlj-broadcast-fact:embeddings"),
    ("q_embed_pq", "bnlj-broadcast-fact:embeddings"),
    ("q_embed_pq_distortion", "bnlj-broadcast-fact:embeddings"),
    ("q_retrieval_maxsim", "bnlj-broadcast-fact:embeddings"),
    ("q_retrieval_rrf", "bnlj-broadcast-fact:embeddings"),
    ("q_semantic_dedup", "bnlj-broadcast-fact:embeddings"),
    ("q_semantic_drift", "bnlj-broadcast-fact:embeddings")
  )

  /** Explicit broadcast hints whose subtree scans a fact table and carries
    * no Aggregate below the hint (an aggregate onto bounded keys is the
    * standard safe reduction; filter-bounded subtrees must be vetted). */
  private def hintHazards(lp: LogicalPlan): Seq[String] =
    lp.collect {
      case h: ResolvedHint if h.hints.strategy.contains(
        org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
    }.flatMap { h =>
      val hasAgg = h.child.collectFirst { case a: Aggregate => a }.isDefined
      if (hasAgg) Seq.empty
      else h.child.collect { case r: LogicalRelation =>
        val path = r.relation match {
          case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            hfs.location.rootPaths.headOption.map(_.getName).getOrElse("")
          case _ => ""
        }
        factTables.find(t => path.contains(t))
          .map(t => s"hinted-fact-broadcast:$t")
      }.flatten
    }

  /** First fact-table scan reachable below `p` without crossing an
    * aggregate (an aggregate onto bounded keys is the standard safe
    * reduction — a window above one sorts the reduced relation, not the
    * fact rows). Descends into cached subtrees. */
  private def factBelow(p: SparkPlan): Option[String] = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => None
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      val path = f.relation.location.rootPaths.headOption
        .map(_.getName).getOrElse("")
      factTables.find(t => path.contains(t))
    case a: AdaptiveSparkPlanExec => factBelow(a.executedPlan)
    case m: InMemoryTableScanExec => factBelow(m.relation.cachedPlan)
    case other => other.children.flatMap(factBelow).headOption
  }

  /** Fact tables a single query may scan from file more than this many
    * times before the repeated-scan hazard flags it. 3 admits the honest
    * shapes (a self-join or build-vs-probe pass is 2, one extra
    * eval/report pass is 3); the C93 class — a config-sweep loop replaying
    * an uncached shared relation — lands at |configs| × passes (8 there). */
  val MaxFactScans: Int = 3

  /** Per-fact-table FILE scan counts below a physical plan — the C93
    * hazard's measurement. Each distinct cached relation is descended
    * exactly once (a cached subtree's file scan happens once at
    * materialization no matter how many consumers read the cache, so cache
    * boundaries count as one); a ReusedExchange is a reuse of a subtree
    * counted at its original site. */
  def factScanCounts(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val seenCaches =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[String] = p match {
      case f: FileSourceScanExec =>
        val path = f.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("")
        factTables.find(t => path.contains(t)).toSeq
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case m: InMemoryTableScanExec =>
        if (seenCaches.add(m.relation.cacheBuilder))
          walk(m.relation.cachedPlan)
        else Seq.empty
      case _: ReusedExchangeExec => Seq.empty
      case other =>
        (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .groupBy(identity).map { case (t, hits) => t -> hits.size }
  }

  /** Repeated-scan hazards for a query: every fact table whose file-scan
    * leaf count exceeds [[MaxFactScans]]. */
  def repeatedScanHazards(df: org.apache.spark.sql.DataFrame): Seq[String] =
    factScanCounts(df).collect {
      case (t, n) if n > MaxFactScans => s"repeated-scan:$t:x$n"
    }.toSeq.sorted

  /** The FIFTH hazard class (round 11): unhinted cartesian shapes. A
    * CartesianProduct multiplies its sides — if EITHER side scans a fact
    * table with no aggregate reduction below, the pair count scales with
    * the corpus (squared when both do) and no cluster outruns it. A
    * BroadcastNestedLoopJoin is the same bomb with a driver fuse when its
    * BUILD side is unreduced fact-derived: the whole side materializes on
    * the driver before the loop even starts (a bounded STREAMED side over
    * a small broadcast — the scalar-join device — is fine and not
    * flagged). Filter-bounded sides (probe batches, sweep grids crossed
    * with top-k lists) are vetted in [[knownBounded]] with the operator's
    * scaladoc carrying the bound. */
  def cartesianHazards(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def walk(p: SparkPlan): Seq[String] = {
      val here = p match {
        case c: CartesianProductExec =>
          c.children.flatMap(factBelow)
            .map(t => s"cartesian-over-fact:$t").distinct
        case b: BroadcastNestedLoopJoinExec =>
          val build = b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
          factBelow(build).map(t => s"bnlj-broadcast-fact:$t").toSeq
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case other => other.children ++ other.subqueries
      }
      here ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).distinct.sorted
  }

  /** True when the window computes a running aggregate: ordered, with an
    * agg expression framed from UnboundedPreceding but NOT the full
    * partition (a full-partition frame is a per-group aggregate, not a
    * sequential scan). Offset functions (lag/lead) and rank functions
    * (row_number — not an AggregateExpression) don't match. */
  private def runningAggFrame(w: WindowExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding,
      WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    w.orderSpec.nonEmpty && w.windowExpression.exists { ne =>
      ne.collectFirst {
        case WindowExpression(_: AggregateExpression,
            WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(_, UnboundedPreceding, upper)))
            if upper != UnboundedFollowing => ()
      }.isDefined
    }
  }

  private def windowHazards(p: SparkPlan): Seq[String] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq("global-window")
      case w: WindowExec if runningAggFrame(w) =>
        factBelow(w.child).map(t => s"running-window-over-fact:$t").toSeq
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    here ++ kids.flatMap(windowHazards)
  }

  /** The SIXTH hazard class (round 13): driver-round-trip counts for the
    * ITERATIVE operators. C18's pointer-jumping, C62's k-means refinement
    * and C99's power iteration run driver-coordinated loops — each round
    * is a fixed number of Spark jobs, so the total job count is the
    * convergence contract made observable (∝ log(diameter) for
    * components, ∝ fixed iters for k-means/PCA). Nothing in a PLAN pins
    * that: a convergence regression (a loop that stops shrinking its
    * frontier, an iters constant accidentally scaled with the data) shows
    * up ONLY as job count. The gate EXECUTES each listed query, counts its
    * jobs with [[jobsOf]] and flags when the count exceeds its vetted
    * bound (measured at sf0.01 + headroom for AQE's runtime re-plans; the
    * loop structure, not the data volume, drives these counts). */
  val iterativeJobBounds: Map[String, Int] = Map(
    // measured 73 at sf0.01 = ~4 pointer-jump rounds × ~18 jobs each
    // (sweeps, lazy-checkpoint materializations, convergence agg under
    // AQE); the bound allows one extra doubling round + noise — a lost
    // shortcut (rounds drifting to O(diameter)) blows through it
    "q_dedup_components" -> 100,
    // measured 27 (KmIters=2 assignment→update rounds, each a multi-job
    // grid aggregate under AQE, + seed + final assignment)
    "q_embed_kmeans" -> 40,
    // measured 6: the PowerIters=8 mat-vec folds run DRIVER-side over the
    // collected 2080-cell grid — the distributed jobs are the one C88
    // pass + readout; an accidental distributed re-pass per iter flags
    "q_embed_pca_power" -> 12,
    // compose C62's training loop (same bound class, measured 27 / 38)
    "q_cluster_profile" -> 40,
    "q_semantic_drift" -> 55,
    // C120 composes C18's pointer-jumping loop (same bound class as
    // q_dedup_components; the length-bias roll-up adds its own few jobs)
    "q_dup_length_bias" -> 110)

  /** Count the Spark jobs of constructing `mk` and materializing it
    * through the noop sink (the deployment action shape) as one
    * [[operators.Caches.scoped]] unit, exactly, with [[graft.obs.Meter]].
    * `mk` is BY-NAME: an iterative operator runs its driver loop while
    * CONSTRUCTING the frame (each round an action), so the count must
    * bracket construction + materialization, not materialization alone. */
  private[graft] def jobsOf(spark: SparkSession,
      mk: => org.apache.spark.sql.DataFrame): Int =
    graft.obs.Meter.measure(spark)(operators.Caches.scoped(spark)(mk)(
      _.write.format("noop").mode("overwrite").save())).jobs

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    var newFindings = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // planned, never run: the scope releases what construction kept,
      // and no cache is filled for an action that does not happen
      try operators.Caches.releasing {
        val df = fn(spark, dir)
        val qe = df.queryExecution
        val hazards =
          (hintHazards(qe.analyzed) ++ windowHazards(qe.executedPlan)
            ++ repeatedScanHazards(df) ++ cartesianHazards(df)).distinct
        hazards.foreach { h =>
          if (knownBounded.contains((name, h))) println(s"known   $name  $h")
          else { newFindings += 1; println(s"NEW     $name  $h") }
        }
      } catch { case e: Throwable =>
        println(s"ERROR   $name  ${e.getMessage.take(120)}")
      }
    }
    // the sixth class EXECUTES (plans can't see driver loops) — the
    // iterative family only, each a few seconds at the audit SF
    iterativeJobBounds.toSeq.sortBy(_._1).foreach { case (name, bound) =>
      try {
        val jobs = jobsOf(spark, SparkEntry.queries(name)(spark, dir))
        if (jobs <= bound) println(s"known   $name  driver-jobs:$jobs<=$bound")
        else { newFindings += 1
          println(s"NEW     $name  driver-jobs:$jobs>$bound") }
      } catch { case e: Throwable =>
        println(s"ERROR   $name  ${e.getMessage.take(120)}")
      }
    }
    println(s"== audit done, $newFindings new finding(s) ==")
    spark.stop()
  }
}
