package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED sketch store — B51's "per-segment sketches persist once"
  * claim executed as an E-surface artifact ([[DedupArtifacts]]' pattern
  * applied to mergeable sketches).
  *
  * At 100 TB the sketch is the only thing a segment's ingest pass needs to
  * leave behind: an HLL register vector (m longs, MAX-mergeable) per month
  * and a CMS matrix (depth·width longs, CELL-SUM-mergeable) per event type
  * are written once, manifest-checksummed like every other artifact, and
  * any later union / overlap / frequency question is register arithmetic
  * over a handful of tiny rows — no fact re-scan, ever. Because both
  * merges are associative, commutative and partition-agnostic (max is
  * also idempotent; the CMS segments partition the stream, so cell sums
  * are exact), merging the persisted segments reproduces the single-pass
  * sketch BIT-FOR-BIT — the consumers here are byte-equality-pinned
  * against the inline B50/B51 plans in ArtifactSpec, through the parquet
  * round trip.
  *
  * Layout under a root (each directory carries the
  * `_graft_manifest.json` (n_rows, checksum, geometry params) contract of
  * [[DedupArtifacts.readVerified]] — readers state the geometry they
  * expect and the read fails fast on mismatch):
  * {{{
  *   hll_month/      mth, regs          12 rows × m longs  (B51's segments)
  *   cms_type/       event_type, m, n   |types| × d·w      (B50's segments)
  *   qsketch_day/    day_epoch, regs, n  1/day × (64−s)·2^s  (B55/B56's)
  *   cms_day/        day_epoch, m        1/day × d·w         (B57's)
  *   hll_day/        day_epoch, regs     1/day × m longs     (B58's)
  * }}}
  * The three day-grain families are [[SliceLog]] families partitioned by
  * `day_epoch`: their build, per-day APPEND
  * ([[appendQsketchDay]]/[[appendCmsDay]]/[[appendHllDay]]), re-stamps
  * and verified reads are the log's. Day N's ingest swaps in only day
  * N's slice, and append-built ≡ single-pass rebuild holds by manifest
  * equality (ArtifactSpec). Their digest keeps `day_epoch`, so they
  * never compact.
  *
  * The registered B50/B51 queries stay inline (they measure the one-pass
  * build); the store is the deployment path for REPEAT consumers, its
  * build-vs-read costs measured by ScaleProbe's `sketch_store_*` probes.
  */
object SketchArtifacts {

  /** Geometry params each family's manifest records — the ROUND-11
    * contract: a register vector is only meaningful under the geometry it
    * was built with (wrong m → wrong alpha·m² in HLL estimates; mismatched
    * depth·width → zip_with over different-length CMS matrices; wrong s →
    * a different bucket map), so every reader states its expected geometry
    * and [[DedupArtifacts.readVerified]] fails fast on mismatch instead of
    * silently reinterpreting. */
  private def hllParams(m: Int) =
    Map("family" -> "hll", "m" -> m.toString)
  private def cmsParams(depth: Int, width: Int) =
    Map("family" -> "cms", "depth" -> depth.toString,
      "width" -> width.toString)
  private def qsketchParams(s: Int) =
    Map("family" -> "qsketch", "s" -> s.toString)

  /** The three DAY-GRAIN families (round 11): each day's ingest leaves
    * one fixed-size row per family behind, and any calendar roll-up
    * (B56/B57/B58) is register arithmetic over the persisted rows. */
  private[graft] val DayFamilies = Seq("qsketch_day", "cms_day", "hll_day")

  /** A day family's [[SliceLog]] at the caller's geometry — one family
    * per log, because each append, re-stamp and read states the geometry
    * of its own family only. The canonical view is the rows as read,
    * `day_epoch` included: the day label is data, so dropping it would
    * let two days with equal registers cancel in the XOR digest. */
  private def dayLog(root: String, family: String,
      params: Map[String, String]): SliceLog =
    SliceLog(root, "day_epoch",
      Seq(SliceLog.Family(family, params, identity, None)))
  private def qsketchLog(root: String, s: Int) =
    dayLog(root, "qsketch_day", qsketchParams(s))
  private def cmsDayLog(root: String, depth: Int, width: Int) =
    dayLog(root, "cms_day", cmsParams(depth, width))
  private def hllDayLog(root: String, m: Int) =
    dayLog(root, "hll_day", hllParams(m))

  /** Build the store: one narrow pass per sketch family. The HLL segments
    * come off the SAME (month, customer) relation the inline B51 uses
    * (HLL updates are idempotent, so sketch(distinct) ≡ sketch(stream));
    * the CMS segments partition B50's key stream by event type. Each
    * directory's manifest records the build geometry. The five families
    * read only the source tables and share no directory, so they build
    * concurrently ([[DedupArtifacts.concurrently]]), each in its own
    * order (write, then the digest from the files, then the manifest). */
  def write(spark: SparkSession, dir: String, root: String,
      m: Int = graft.functions.Kernels.HllM,
      depth: Int = Sketches.HhDepth, width: Int = Sketches.HhWidth,
      s: Int = graft.functions.Kernels.QSketchS,
      dayM: Int = Sketches.WeekHllM,
      dayDepth: Int = Sketches.WeekCmsDepth,
      dayWidth: Int = Sketches.WeekCmsWidth): Unit = {
    DedupArtifacts.concurrently(Seq(
      () => DedupArtifacts.writeArtifact(spark,
        Sketches.monthCustomers(spark, dir)
          .groupBy("mth")
          .agg(expr(s"graft_hll_sketch_m(o_custkey, $m)").as("regs")),
        s"$root/hll_month", "mth", hllParams(m)),
      () => DedupArtifacts.writeArtifact(spark,
        graft.sources.Tables.events(spark, dir)
          .select(col("event_type"),
            floor(col("value")).cast("long").cast("string").as("key"))
          .groupBy("event_type")
          .agg(expr(s"graft_cms_sketch_g(key, $depth, $width)").as("m"),
            count(lit(1)).as("n")),
        s"$root/cms_type", "event_type", cmsParams(depth, width)),
      () => writeQsketchFamily(spark, dir, root, s),
      () => cmsDayLog(root, dayDepth, dayWidth).write(spark, _ =>
        Sketches.dayCmsSketchesOf(Sketches.dayValueKeys(spark, dir),
          dayDepth, dayWidth)),
      () => hllDayLog(root, dayM).write(spark, _ =>
        Sketches.dayHllSketchesOf(Sketches.dayUsers(spark, dir), dayM)))): Unit
  }

  /** Just the qsketch_day family — for harnesses (ParamCheck's
    * non-default-geometry store variant) that only consume this family
    * and should not pay the other four families' build passes. */
  def writeQsketchDays(spark: SparkSession, dir: String, root: String,
      s: Int = graft.functions.Kernels.QSketchS): Unit =
    writeQsketchFamily(spark, dir, root, s)

  private def writeQsketchFamily(spark: SparkSession, dir: String,
      root: String, s: Int): Unit =
    qsketchLog(root, s).write(spark, _ =>
      Sketches.dayValueSketches(spark, dir, s))

  /** The per-day slice swap shared by all three day-grain families
    * ([[SliceLog.append]]: geometry handshake, then the replaceSlice
    * write-new → rename publish, then the manifest re-stamp from the
    * files). The first append into a family that does not exist yet
    * stamps the EMPTY family's manifest (0 rows, digest 0, the append's
    * geometry) before its slice lands, so the handshake — and a deferred
    * re-stamp ([[restampQsketchDays]] & co.) — finds the geometry it must
    * match; a family directory WITHOUT a manifest is half-built and fails
    * the handshake. */
  private def appendDaySlice(spark: SparkSession, log: SliceLog,
      dayEpoch: Long, slice: DataFrame, restamp: Boolean): Unit = {
    val family = log.families.head
    val p = new org.apache.hadoop.fs.Path(s"${log.root}/${family.name}")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      DedupArtifacts.writeManifest(spark, p.toString, 0L, 0L, family.params)
    log.append(spark, dayEpoch, _ => slice, restamp)
  }

  /** INCREMENTAL store maintenance (round 11): day N's ingest leaves ONLY
    * day N's 29 KiB sketch row behind — the deployment cadence B55's
    * scaladoc sells, executed. The day's events slice (date-pruned at a
    * partitioned deployment; [[appendQsketchDayFrom]] expresses the
    * filter for the pruner) aggregates to one (day_epoch, regs, n) row,
    * which swaps in via [[graft.operators.Etl.replaceSlice]]'s
    * write-new → rename publish: run twice ≡ run once, and a RESTATED day
    * (late data, corrected feed) replaces its slice without touching the
    * others. The manifest then re-stamps from the files (order-free
    * row-set digest), so an append-built store carries the SAME manifest
    * checksum as a single-pass rebuild — append ≡ rebuild is pinned by
    * manifest equality in ArtifactSpec. Geometry handshake: appending at
    * a different s than the store records fails fast BEFORE writing
    * (a mixed-geometry store would be silently unreadable).
    *
    * `dayEvents` needs (ts, value); rows outside `dayEpoch` are filtered
    * out by the slice swap (a mislabeled row can never leak in).
    *
    * `restamp = false` defers the manifest re-stamp: between the slice
    * swap and the re-stamp the store's data is ahead of its manifest, so
    * VERIFIED readers reject it (fail fast — never a wrong answer). A
    * caller appending SEVERAL days (the D37-39 streaming writers' one
    * micro-batch = N days) passes false per day and calls the matching
    * `restamp*` ONCE at the end — one O(store) manifest pass per batch
    * instead of one per day, and the verified-unreadable window spans
    * the batch's swaps instead of reopening per day. */
  def appendQsketchDay(spark: SparkSession, root: String, dayEpoch: Long,
      dayEvents: DataFrame,
      s: Int = graft.functions.Kernels.QSketchS,
      restamp: Boolean = true): Unit = {
    appendDaySlice(spark, qsketchLog(root, s), dayEpoch,
      Sketches.dayValueSketchesOf(dayEvents, s), restamp)
  }

  /** [[appendQsketchDay]]'s sibling for the per-day CMS matrices
    * (`dayEvents` needs (ts, value)). */
  def appendCmsDay(spark: SparkSession, root: String, dayEpoch: Long,
      dayEvents: DataFrame,
      depth: Int = Sketches.WeekCmsDepth,
      width: Int = Sketches.WeekCmsWidth,
      restamp: Boolean = true): Unit = {
    appendDaySlice(spark, cmsDayLog(root, depth, width), dayEpoch,
      Sketches.dayCmsSketchesOf(dayEvents.select(
        expr("ts div 86400000000000").as("day_epoch"),
        floor(col("value")).cast("long").cast("string").as("key")),
        depth, width),
      restamp)
  }

  /** [[appendQsketchDay]]'s sibling for the per-day HLL register vectors
    * (`dayEvents` needs (ts, user_id)). */
  def appendHllDay(spark: SparkSession, root: String, dayEpoch: Long,
      dayEvents: DataFrame, m: Int = Sketches.WeekHllM,
      restamp: Boolean = true): Unit = {
    appendDaySlice(spark, hllDayLog(root, m), dayEpoch,
      Sketches.dayHllSketchesOf(dayEvents.select(
        expr("ts div 86400000000000").as("day_epoch"), col("user_id")), m),
      restamp)
  }

  /** The deferred manifest re-stamps paired with `restamp = false`
    * appends — one per family, each ONE order-free O(store) digest pass
    * (append-built ≡ rebuild stays pinned by manifest equality). Each
    * first runs the append's handshake ([[SliceLog.restamp]]): the
    * family's manifest must exist and record exactly the caller's
    * geometry, else the re-stamp fails naming both sides and leaves the
    * manifest as it was — re-stamping unchecked would relabel registers
    * built at another geometry, or bless a half-built family. */
  def restampQsketchDays(spark: SparkSession, root: String,
      s: Int = graft.functions.Kernels.QSketchS): Unit =
    qsketchLog(root, s).restamp(spark)

  def restampCmsDays(spark: SparkSession, root: String,
      depth: Int = Sketches.WeekCmsDepth,
      width: Int = Sketches.WeekCmsWidth): Unit =
    cmsDayLog(root, depth, width).restamp(spark)

  def restampHllDays(spark: SparkSession, root: String,
      m: Int = Sketches.WeekHllM): Unit =
    hllDayLog(root, m).restamp(spark)

  private def daySliceOf(spark: SparkSession, dir: String,
      dayEpoch: Long): DataFrame =
    graft.sources.Tables.events(spark, dir)
      .filter(expr("ts div 86400000000000") === lit(dayEpoch))

  /** [[appendQsketchDay]] reading day `dayEpoch`'s slice from the source
    * dir — the filter is the date predicate a ts-partitioned deployment
    * prunes on, so the ingest cost is the DAY's volume, not the corpus
    * ([[graft.ScaleProbe]]'s `qsketch_append_fixedday` probe measures the
    * flat curve). */
  def appendQsketchDayFrom(spark: SparkSession, dir: String, root: String,
      dayEpoch: Long,
      s: Int = graft.functions.Kernels.QSketchS): Unit =
    appendQsketchDay(spark, root, dayEpoch, daySliceOf(spark, dir, dayEpoch), s)

  def appendCmsDayFrom(spark: SparkSession, dir: String, root: String,
      dayEpoch: Long,
      depth: Int = Sketches.WeekCmsDepth,
      width: Int = Sketches.WeekCmsWidth): Unit =
    appendCmsDay(spark, root, dayEpoch, daySliceOf(spark, dir, dayEpoch),
      depth, width)

  def appendHllDayFrom(spark: SparkSession, dir: String, root: String,
      dayEpoch: Long, m: Int = Sketches.WeekHllM): Unit =
    appendHllDay(spark, root, dayEpoch, daySliceOf(spark, dir, dayEpoch), m)

  /** Manifest-verified per-day quantile-sketch bucket counts — fails fast
    * unless the store was built at subdivision `s`. Normalizes the
    * hive-partitioned read back to the builder's (day_epoch long, regs,
    * n) surface. */
  def qsketchDays(spark: SparkSession, root: String,
      s: Int = graft.functions.Kernels.QSketchS): DataFrame =
    qsketchLog(root, s).read(spark, "qsketch_day")
      .select(col("day_epoch").cast("long").as("day_epoch"),
        col("regs"), col("n"))

  /** B55 answered FROM THE STORE: day-over-day value-quantile drift from
    * the persisted bucket-count rows alone — zero fact scans
    * (plan-pinned), byte-equal to the inline B55 (ArtifactSpec). The
    * geometry handshake: the read rejects a store built at any other s. */
  def valueQuantileDrift(spark: SparkSession, root: String,
      s: Int = graft.functions.Kernels.QSketchS): DataFrame = {
    Sketches.quantileDriftAssemble(qsketchDays(spark, root, s), s)
  }

  /** B56 answered FROM THE STORE: week quantiles by cell-summing the
    * persisted per-day register vectors — zero fact scans (plan-pinned),
    * byte-equal to the inline B56 (ArtifactSpec). The roll-up any
    * calendar grain gets for free once the days persist. */
  def valueQuantileWeek(spark: SparkSession, root: String,
      s: Int = graft.functions.Kernels.QSketchS): DataFrame = {
    Sketches.weekQuantileAssemble(qsketchDays(spark, root, s), s)
  }

  /** B62: `q_qsketch_week_estimates` — the qsketch_day family's
    * estimates-only consumer, completing the weekly panel trio next to
    * B60/B61: per-week value-quantile brackets (the B52 exact-integer
    * rank-walk readout) plus the persisted-day count, every value derived
    * from the persisted per-day register vectors' cell SUM alone — ZERO
    * fact scans (plan-pinned), O(days × (64−s)·2^s) longs read. B56
    * oracle-checks the merge arithmetic from events; this is the row the
    * dashboard runs once the nightly writers (D37) have left the day
    * rows behind. The week reduction is cached: the readout's histogram
    * and rank-grid branches both consume it (the C75 one-row-reduction
    * rule). */
  def qsketchWeekEstimates(spark: SparkSession, root: String,
      s: Int = graft.functions.Kernels.QSketchS,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val nb = graft.functions.Kernels.qsketchBuckets(s)
    val wk = Caches.keep(qsketchDays(spark, root, s)
      .groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(
        count(lit(1)).as("n_days"),
        expr(s"aggregate(collect_list(regs), " +
          s"array_repeat(CAST(0 AS BIGINT), $nb), " +
          "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))").as("regs"),
        sum("n").as("n")))
    Sketches.qReadout(wk, "regs", Seq("week_epoch", "n_days"), s, qPms)
  }

  /** Manifest-verified per-day CMS matrices (built at depth × width). */
  def cmsDays(spark: SparkSession, root: String,
      depth: Int = Sketches.WeekCmsDepth,
      width: Int = Sketches.WeekCmsWidth): DataFrame =
    cmsDayLog(root, depth, width).read(spark, "cms_day")
      .select(col("day_epoch").cast("long").as("day_epoch"), col("m"))

  /** Manifest-verified per-day HLL register vectors (built at `m`). */
  def hllDays(spark: SparkSession, root: String,
      m: Int = Sketches.WeekHllM): DataFrame =
    hllDayLog(root, m).read(spark, "hll_day")
      .select(col("day_epoch").cast("long").as("day_epoch"), col("regs"))

  /** B57 answered FROM THE STORE: the merged week matrices come from the
    * persisted per-day rows; the exact per-week key counts (the
    * evaluation harness) still read events once — the screen's subject,
    * not a sketch rebuild (the B50 split). Byte-equal to the inline B57
    * (ArtifactSpec). */
  def cmsWeekMerge(spark: SparkSession, dir: String, root: String,
      depth: Int = Sketches.WeekCmsDepth,
      width: Int = Sketches.WeekCmsWidth): DataFrame = {
    val kc = Sketches.dayValueKeys(spark, dir)
      .groupBy(expr("day_epoch div 7").as("week_epoch"), col("key"))
      .agg(count(lit(1)).as("n_true"))
    Sketches.cmsWeekAssemble(cmsDays(spark, root, depth, width), kc,
      depth, width)
  }

  /** B58 answered FROM THE STORE: week registers max-merge from the
    * persisted per-day vectors; the exact distinct column (evaluation)
    * reads events once. Byte-equal to the inline B58 (ArtifactSpec). */
  def hllWeekActives(spark: SparkSession, dir: String, root: String,
      m: Int = Sketches.WeekHllM): DataFrame = {
    val ex = Sketches.dayUsers(spark, dir)
      .groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(countDistinct("user_id").as("n_exact"))
    Sketches.hllWeekAssemble(hllDays(spark, root, m), ex, m)
  }

  /** B60: `q_cms_week_estimates` — the cms_day family's DEPLOYMENT shape
    * (the B51 `monthOverlapEstimates` precedent applied to the week
    * families): a weekly frequency panel for a FIXED probe-key list,
    * every value derived from the persisted per-day matrices alone —
    * ZERO fact scans, plan-pinned. The week merge is the same cell SUM
    * B57 oracle-checks; the per-key estimate indexes the merged dense
    * matrix (a key no stream row touched reads its true 0), so the
    * consumer a dashboard runs daily costs O(days × depth·width) bytes,
    * never an events pass. */
  def cmsWeekEstimates(spark: SparkSession, root: String,
      depth: Int = Sketches.WeekCmsDepth,
      width: Int = Sketches.WeekCmsWidth,
      keys: Seq[String] = Sketches.CmsProbeKeys): DataFrame = {
    keys.foreach(DedupArtifacts.requireSafeToken("CMS probe key", _))
    val cells = depth * width
    val wk = cmsDays(spark, root, depth, width)
      .groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(expr(s"aggregate(collect_list(m), " +
        s"array_repeat(CAST(0 AS BIGINT), $cells), " +
        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))").as("m"))
    val keyArr = keys.map(k => s"'$k'").mkString("array(", ", ", ")")
    wk.select(col("week_epoch"), col("m"),
        explode(expr(keyArr)).as("key"))
      .select(col("week_epoch"), col("key"),
        expr(s"array_min(transform(graft_cms_cells_g(key, $depth, $width), " +
          "c -> element_at(m, CAST(c + 1 AS INT))))").as("est"))
      .orderBy("week_epoch", "key")
  }

  /** B61: `q_hll_week_estimates` — the hll_day family's estimates-only
    * consumer: weekly active estimates (plus the persisted-day count)
    * from the register MAX-merge alone — the WAU panel without the
    * exact-evaluation events pass B58 carries as its harness. Zero fact
    * scans, plan-pinned. */
  def hllWeekEstimates(spark: SparkSession, root: String,
      m: Int = Sketches.WeekHllM): DataFrame = {
    val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
    hllDays(spark, root, m)
      .groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(
        count(lit(1)).as("n_days"),
        expr(s"aggregate(collect_list(regs), " +
          s"array_repeat(CAST(0 AS BIGINT), $m), " +
          "(acc, x) -> zip_with(acc, x, (a, b) -> greatest(a, b)))")
          .as("regs"))
      .select(col("week_epoch"), col("n_days"),
        expr(s"CAST('$am2' AS DOUBLE) / aggregate(regs, " +
          "CAST(0 AS DOUBLE), (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))")
          .as("hll_est"))
      .orderBy("week_epoch")
  }

  // ---- staged registered queries (the DedupArtifacts memoization: the
  // store is built ONCE per (source dir, JVM); B60/B61's registered
  // actions measure what a deployment's weekly panel actually runs — a
  // manifest-verified read of O(days) sketch rows)

  private def storeRoot(spark: SparkSession, dir: String): String =
    DedupArtifacts.staged(s"sketch:$dir")(write(spark, dir, _))

  /** Force the per-(dir, JVM) store staging now — the [[graft.Bench]]
    * measured-staging-phase hook (see [[DedupArtifacts.stage]]). */
  private[graft] def stage(spark: SparkSession, dir: String): Unit =
    storeRoot(spark, dir): Unit

  /** The registered `q_cms_week_estimates` (B60). */
  def cmsWeekEstimatesStaged(spark: SparkSession, dir: String): DataFrame =
    cmsWeekEstimates(spark, storeRoot(spark, dir))

  /** The registered `q_hll_week_estimates` (B61). */
  def hllWeekEstimatesStaged(spark: SparkSession, dir: String): DataFrame =
    hllWeekEstimates(spark, storeRoot(spark, dir))

  /** The registered `q_qsketch_week_estimates` (B62). */
  def qsketchWeekEstimatesStaged(spark: SparkSession,
      dir: String): DataFrame =
    qsketchWeekEstimates(spark, storeRoot(spark, dir))

  /** Manifest-verified per-month HLL register vectors (built at `m`). */
  def hllMonths(spark: SparkSession, root: String,
      m: Int = graft.functions.Kernels.HllM): DataFrame =
    DedupArtifacts.readVerified(spark, s"$root/hll_month", hllParams(m))

  /** Manifest-verified per-event-type CMS matrices (built at
    * depth × width). */
  def cmsTypes(spark: SparkSession, root: String,
      depth: Int = Sketches.HhDepth,
      width: Int = Sketches.HhWidth): DataFrame =
    DedupArtifacts.readVerified(spark, s"$root/cms_type",
      cmsParams(depth, width))

  /** B51 answered FROM THE STORE: the 66 venn cells come from the 12
    * persisted register vectors alone (max-merge via zip_with/greatest —
    * [[Sketches.overlapAssemble]], the assembly the inline plan runs on
    * its freshly-built sketches). The exact-intersection evaluation
    * column still reads orders once — it is the test-scale harness, not
    * part of the deployment answer; a deployment consumer reads ONLY the
    * 12 artifact rows. Byte-equal to the inline B51 (ArtifactSpec). */
  def monthOverlap(spark: SparkSession, dir: String, root: String,
      m: Int = graft.functions.Kernels.HllM): DataFrame = {
    Sketches.overlapAssemble(hllMonths(spark, root, m),
      Caches.keep(Sketches.monthCustomers(spark, dir)), m)
  }

  /** B51's deployment shape, estimates only: every column derives from
    * the persisted registers — zero fact-table scans (plan-pinned). */
  def monthOverlapEstimates(spark: SparkSession, root: String,
      m: Int = graft.functions.Kernels.HllM): DataFrame = {
    val sk = hllMonths(spark, root, m)
    val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
    def estOf(regs: String) =
      expr(s"CAST('$am2' AS DOUBLE) / aggregate($regs, CAST(0 AS DOUBLE), " +
        "(acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))")
    sk.as("a").join(sk.as("b"), col("a.mth") < col("b.mth"))
      .select(col("a.mth").as("month_a"), col("b.mth").as("month_b"),
        estOf("a.regs").as("est_a"), estOf("b.regs").as("est_b"),
        expr("zip_with(a.regs, b.regs, (x, y) -> greatest(x, y))").as("u"))
      .withColumn("est_union", estOf("u"))
      .select(col("month_a"), col("month_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_inter"))
      .orderBy("month_a", "month_b")
  }

  /** B50 answered FROM THE STORE: the global sketch is the elementwise
    * CELL SUM of the persisted per-type matrices (the types partition the
    * stream, so every cell's sum is exactly the single-pass cell — CMS's
    * mergeability), then the identical screen + exact confirm
    * ([[Sketches.hhScreen]]). The event pass survives — it is the
    * screen's subject, not sketch rebuild. Byte-equal to the inline B50
    * (ArtifactSpec). */
  def heavyHitters(spark: SparkSession, dir: String, root: String,
      denom: Long = Sketches.HhSupportDenom,
      depth: Int = Sketches.HhDepth, width: Int = Sketches.HhWidth): DataFrame = {
    val cells = depth * width
    val sk = cmsTypes(spark, root, depth, width)
      .agg(
        expr(s"aggregate(collect_list(m), " +
          s"array_repeat(CAST(0 AS BIGINT), $cells), " +
          "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))").as("m"),
        sum("n").as("n"))
    Sketches.hhScreen(Sketches.hhKeys(spark, dir), sk, denom, depth, width)
  }
}
