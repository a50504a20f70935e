package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Mergeable sketches and bounded-output summaries (SURVEY.md §2 B13-B14) —
  * fixed-size summaries whose merge
  * is commutative/associative, so they partial-aggregate map-side and cost
  * one tiny state per partition at any corpus size. First resident: a
  * count-min sketch ([[graft.functions.CountMinSketchAgg]], a custom
  * Catalyst `TypedImperativeAggregate`) — the streaming/distributed answer
  * to "frequency of key k" when the key space is too large to groupBy.
  */
object Sketches {

  /** B13: `q_events_cms` — build one count-min sketch over the event-type
    * stream in a single pass, then read each distinct type's point estimate
    * back out of the matrix next to its exact count. The estimate is
    * min over hash rows of the key's cell — always ≥ the true count, equal
    * when the key collides with nothing heavier. The sketch matrix is
    * 4×64 longs regardless of corpus size: at 100 TB the aggregate moves
    * 2 KiB per partition where an exact groupBy moves the key space. */
  def eventsCms(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sketch = ev.agg(expr("graft_cms_sketch(event_type)").as("m"))
    ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(sketch))
      .withColumn("cms_est", expr(
        "array_min(transform(graft_cms_cells(event_type), c -> element_at(m, CAST(c + 1 AS INT))))"))
      .select("event_type", "n_events", "cms_est")
      .orderBy("event_type")
  }

  /** DuckDB twin — the sketch algebra in closed form: cell value = sum of
    * counts of the keys hashing there, estimate = min over rows. Exact
    * integer math, so it matches the aggregate bit-for-bit. */
  val eventsCmsSql: String = s"""
    WITH counts AS (
      SELECT event_type, count(*) AS n_events FROM events GROUP BY 1),
    hk AS (
      SELECT event_type, n_events,
        list_reduce(list_transform(range(1, length(event_type) + 1), i ->
          CAST(ascii(substr(event_type, CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM counts),
    kc AS (
      SELECT event_type, n_events, d,
        (${graft.functions.Kernels.rowASql("d + 1")} * h
          + ${graft.functions.Kernels.rowBSql("d + 1")}) % 2147483647 % 64 AS g
      FROM hk, (SELECT unnest(range(0, 4)) AS d)),
    cells AS (
      SELECT d, g, CAST(SUM(n_events) AS BIGINT) AS c FROM kc GROUP BY 1, 2)
    SELECT kc.event_type, kc.n_events, min(cells.c) AS cms_est
    FROM kc JOIN cells ON kc.d = cells.d AND kc.g = cells.g
    GROUP BY 1, 2
    ORDER BY event_type"""

  /** B20: `q_events_hll` — approximate distinct users per event type via a
    * deterministic HyperLogLog ([[graft.functions.HllSketchAgg]], m = 64
    * max-merged registers) next to the exact COUNT(DISTINCT). The registers
    * are 64 longs per group at any corpus size, merge idempotently, and
    * partial-aggregate map-side — where the exact distinct shuffles every
    * (event_type, user_id) pair. The raw estimate α·m²/Σ2^(−reg) stays in
    * exact-double territory (powers of two, one division, no ln), so the
    * oracle reproduces it bit-for-bit in closed form. */
  def eventsHll(spark: SparkSession, dir: String): DataFrame = {
    val am2 = graft.functions.Kernels.HllAlphaM2
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"),
        expr("graft_hll_sketch(user_id)").as("regs"))
      .withColumn("hll_est", expr(
        s"CAST($am2 AS DOUBLE) / aggregate(regs, CAST(0 AS DOUBLE), (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))"))
      .select("event_type", "n_exact", "hll_est")
      .orderBy("event_type")
  }

  val eventsHllSql: String = {
    import graft.functions.Kernels.{HllM, HllMaxRho, HllAlphaM2}
    s"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
        ${graft.functions.Kernels.hllHashSql("user_id")} AS h
      FROM du),
    rr AS (
      SELECT event_type, h % $HllM AS reg,
        CASE WHEN h // $HllM = 0 THEN $HllMaxRho
             ELSE $HllMaxRho - length(bin(h // $HllM)) END AS rho
      FROM h),
    regs AS (SELECT event_type, reg, MAX(rho) AS r FROM rr GROUP BY 1, 2),
    full_regs AS (
      SELECT et.event_type, g.j, coalesce(regs.r, 0) AS r
      FROM (SELECT DISTINCT event_type FROM events) et
      CROSS JOIN (SELECT unnest(range(0, $HllM)) AS j) g
      LEFT JOIN regs ON regs.event_type = et.event_type AND regs.reg = g.j),
    est AS (
      SELECT event_type,
        CAST('$HllAlphaM2' AS DOUBLE) / list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(list(r ORDER BY j), x -> pow(CAST(2 AS DOUBLE), -x))),
          (acc, b) -> acc + b) AS hll_est
      FROM full_regs GROUP BY event_type),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1)
    SELECT exact.event_type AS event_type, exact.n_exact, est.hll_est
    FROM exact JOIN est ON exact.event_type = est.event_type
    ORDER BY exact.event_type"""
  }

  /** Register counts probed by the B48 HLL sweep — brackets the production
    * m = 64 by 2 doublings each way. */
  val HllSweepMs: Seq[Int] = Seq(16, 32, 64, 128, 256, 512)

  /** B48: `q_hll_m_sweep` — the HLL OPERATING CURVE: the raw estimate and
    * its relative error at each register count m, over the event-id stream
    * (10k distinct at sf0.01), next to the exact COUNT(DISTINCT). This is
    * the knob table an operator reads before sizing the sketch: error
    * tracks ~1.04/√m until m approaches the true cardinality, where the
    * raw estimator's small-range bias takes over (the reading that says
    * "switch to linear counting there, or shrink m"). Completes the
    * approximate-family curve set (ANN has C91, banding C93, simhash C98,
    * LSH recall C111) — B20's production m = 64 now sits on a measured
    * curve instead of a point.
    *
    * Plan: one events scan computes every m's registers (each sketch its
    * own distributive aggregate — m longs of partial state, max-merged
    * map-side, ONE group total); a SECOND narrow scan computes the exact
    * COUNT(DISTINCT) — deliberately NOT fused into the sketch aggregate:
    * Spark's distinct rewrite keys the partial aggregate on the distinct
    * column, so a fused plan allocates every sketch's register buffers
    * PER DISTINCT-EXPANDED GROUP — O(distinct · Σm) state churn that the
    * round-13 inflation sweep measured as 53× work at 8× data (wall
    * hidden by idle cores); split, both passes are linear and the
    * 8× work ratio fell to ~2×. The two 1-row results cross-join (the
    * scalar-join device), the row is cache()d and the per-m rows read
    * the cache (the C75 union-replay lesson) — the sweep costs two
    * narrow scans + |ms| one-row projections at any corpus size. (The
    * exact distinct is the evaluation HARNESS, as in B49 — at production
    * scale it runs on a sampled slice; the sketch exists to avoid it.)
    *
    * Exactness: registers are exact integers (max-merge); the estimate
    * α·m²/Σ2^(−reg) stays in exact-double territory (powers of two whose
    * exponent span < 53 bits, one division), α·m² interpolated into both
    * engines from the same Scala double literal; rel_err is one
    * subtraction + one division on bit-identical inputs. */
  def hllMSweep(spark: SparkSession, dir: String,
      ms: Seq[Int] = HllSweepMs): DataFrame = {
    val sketchAggs =
      ms.map(m => expr(s"graft_hll_sketch_m(event_id, $m)").as(s"regs_$m"))
    val one = Tables.events(spark, dir)
      .agg(sketchAggs.head, sketchAggs.tail: _*)
      .crossJoin(Tables.events(spark, dir)
        .agg(countDistinct(col("event_id")).as("n_exact")))
      .cache()
    ms.map { m =>
      val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
      one.select(lit(m.toLong).as("m"), col("n_exact"),
        expr(s"CAST('$am2' AS DOUBLE) / aggregate(regs_$m, " +
          "CAST(0 AS DOUBLE), (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))")
          .as("hll_est"))
    }.reduce(_ unionByName _)
      .withColumn("rel_err", (col("hll_est") - col("n_exact").cast("double"))
        / col("n_exact").cast("double"))
      .orderBy("m")
  }

  /** DuckDB twin builder (ParamCheck re-interpolates it at non-default m
    * lists) — the register algebra in closed form per m, off one distinct
    * id set. */
  def hllMSweepSqlFor(ms: Seq[Int]): String = {
    val blocks = ms.map { m =>
      val maxRho = graft.functions.Kernels.hllMaxRhoOf(m)
      val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
      s"""SELECT CAST($m AS BIGINT) AS m,
        CAST('$am2' AS DOUBLE) / list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(list(r ORDER BY j), x -> pow(CAST(2 AS DOUBLE), -x))),
          (acc, b) -> acc + b) AS hll_est
      FROM (
        SELECT g.j, coalesce(MAX(CASE WHEN h.h // $m = 0 THEN $maxRho
            ELSE $maxRho - length(bin(h.h // $m)) END), 0) AS r
        FROM (SELECT unnest(range(0, $m)) AS j) g
        LEFT JOIN h ON h.h % $m = g.j
        GROUP BY g.j)"""
    }
    s"""
    WITH du AS (SELECT DISTINCT event_id AS x FROM events),
    ex AS (SELECT count(*) AS n_exact FROM du),
    h AS (SELECT ${graft.functions.Kernels.hllHashSql("x")} AS h FROM du)
    SELECT e.m, ex.n_exact, e.hll_est,
      (e.hll_est - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE)
        AS rel_err
    FROM (${blocks.mkString(" UNION ALL ")}) e, ex
    ORDER BY m"""
  }

  lazy val hllMSweepSql: String = hllMSweepSqlFor(HllSweepMs)

  /** Geometries probed by the B49 CMS sweep — the depth × width grid
    * around the production 4×64. */
  val CmsSweepGeoms: Seq[(Int, Int)] =
    Seq((1, 16), (1, 64), (1, 256), (2, 16), (2, 64), (2, 256),
      (4, 16), (4, 64), (4, 256))

  /** B49: `q_cms_geometry_sweep` — the COUNT-MIN OPERATING CURVE: per
    * (depth × width) geometry, the overestimate mass the sketch carries on
    * a 750-key stream ((event_type, user) pairs) — total and max
    * overestimate, and the share of keys read back exactly. Width buys
    * fewer collisions per row (error ∝ n/width), depth buys min-over-rows
    * escape hatches from any single collision — the table shows both axes
    * so an operator sizes the 2 KiB-vs-accuracy trade instead of guessing;
    * B13's production 4×64 becomes a measured point on its own curve.
    *
    * Plan: ONE events scan builds ALL geometries' sketches (each a
    * distributive aggregate, depth·width longs of partial state); a second
    * narrow scan counts true key frequencies (the evaluation harness — at
    * production scale this runs on a sampled slice, the sketch being the
    * thing that EXISTS to avoid the exact groupBy). The per-geometry
    * estimates ride one explode over the broadcast 1-row sketch relation —
    * no per-geometry rescans, no union replay.
    *
    * Exactness: pure integer algebra (cell sums, min over rows, count/sum/
    * max rollups) except the one final share division. */
  def cmsGeometrySweep(spark: SparkSession, dir: String,
      geoms: Seq[(Int, Int)] = CmsSweepGeoms): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(concat(col("event_type"), lit(":"),
        col("user_id").cast("string")).as("key"))
    val aggs = geoms.map { case (d, w) =>
      expr(s"graft_cms_sketch_g(key, $d, $w)").as(s"m_${d}_$w") }
    val sk = ev.agg(aggs.head, aggs.tail: _*)
    val kc = ev.groupBy("key").agg(count(lit(1)).as("n_true"))
    val gs = geoms.map { case (d, w) =>
      struct(lit(d.toLong).as("depth"), lit(w.toLong).as("width"),
        expr(s"array_min(transform(graft_cms_cells_g(key, $d, $w), " +
          s"c -> element_at(m_${d}_$w, CAST(c + 1 AS INT))))").as("est")) }
    kc.crossJoin(broadcast(sk))
      .select(col("n_true"), explode(array(gs: _*)).as("g"))
      .select(col("g.depth").as("depth"), col("g.width").as("width"),
        col("n_true"), col("g.est").as("est"))
      .groupBy("depth", "width")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("est") === col("n_true"), 1L).otherwise(0L))
          .as("n_exact_keys"),
        sum(col("est") - col("n_true")).as("overest_total"),
        max(col("est") - col("n_true")).as("overest_max"))
      .withColumn("exact_share",
        col("n_exact_keys").cast("double") / col("n_keys").cast("double"))
      .orderBy("depth", "width")
  }

  /** DuckDB twin builder — the sketch algebra in closed form per geometry
    * (cell value = sum of colliding keys' counts, estimate = min over
    * rows), same quadratic hash family rows 1..depth. */
  def cmsGeometrySweepSqlFor(geoms: Seq[(Int, Int)]): String = {
    import graft.functions.Kernels.{rowASql, rowBSql}
    val blocks = geoms.zipWithIndex.map { case ((dep, w), i) =>
      s"""
      kc$i AS (
        SELECT key, n_true, d,
          (${rowASql("d + 1")} * h + ${rowBSql("d + 1")})
            % 2147483647 % $w AS g
        FROM hk, (SELECT unnest(range(0, $dep)) AS d)),
      cells$i AS (
        SELECT d, g, CAST(SUM(n_true) AS BIGINT) AS c FROM kc$i GROUP BY 1, 2),
      est$i AS (
        SELECT kc.key, kc.n_true, MIN(cells.c) AS est
        FROM kc$i kc JOIN cells$i cells ON kc.d = cells.d AND kc.g = cells.g
        GROUP BY 1, 2),
      agg$i AS (
        SELECT CAST($dep AS BIGINT) AS depth, CAST($w AS BIGINT) AS width,
          count(*) AS n_keys,
          CAST(SUM(CASE WHEN est = n_true THEN 1 ELSE 0 END) AS BIGINT)
            AS n_exact_keys,
          CAST(SUM(est - n_true) AS BIGINT) AS overest_total,
          CAST(MAX(est - n_true) AS BIGINT) AS overest_max
        FROM est$i)"""
    }
    val unions = geoms.indices.map(i => s"SELECT * FROM agg$i")
      .mkString(" UNION ALL ")
    s"""
    WITH keys AS (
      SELECT event_type || ':' || CAST(user_id AS VARCHAR) AS key,
        count(*) AS n_true
      FROM events GROUP BY 1),
    hk AS (
      SELECT key, n_true,
        list_reduce(list_transform(range(1, length(key) + 1), i ->
          CAST(ascii(substr(key, CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM keys),
    ${blocks.mkString(",")}
    SELECT depth, width, n_keys, n_exact_keys, overest_total, overest_max,
      CAST(n_exact_keys AS DOUBLE) / CAST(n_keys AS DOUBLE) AS exact_share
    FROM ($unions)
    ORDER BY depth, width"""
  }

  lazy val cmsGeometrySweepSql: String = cmsGeometrySweepSqlFor(CmsSweepGeoms)

  /** Support threshold denominator for B50: a heavy hitter is a key with
    * frequency ≥ N/[[HhSupportDenom]] (φ = 1/500) — an exact rational so
    * the threshold T = ⌈N/500⌉ is integer arithmetic on both engines. */
  val HhSupportDenom: Long = 500L

  /** B50's sketch geometry — the B49 sizing rule APPLIED: width must
    * track the live key space (hundreds of value buckets at test SFs; the
    * production 64 would collision-inflate every light key past T — B49
    * measures exact_share 0 there) while depth 4 keeps the min-over-rows
    * escape. 4×1024 longs = 32 KiB broadcast, still O(1) per partition at
    * any corpus size. */
  val HhDepth: Int = 4
  val HhWidth: Int = 1024

  /** B50: `q_cms_heavy_hitters` — the production CONSUMER of the B13
    * sketch: φ-heavy hitters over the integer value buckets of the event
    * stream (the dominant price points / durations — the one key family
    * in this corpus with a genuinely skewed, scale-stable tail: ~113 true
    * φ=1/500 hitters at every SF), screened by the count-min sketch and
    * exactly confirmed. This is the
    * C84 inverted-screen pattern at the FREQUENCY level: the broadcast
    * 32 KiB matrix rides the scan's codegen references, every row checks
    * its own key's estimate ≥ T map-side — the cold bulk (at 100 TB,
    * ~everything) dies in the narrow pass with no shuffle — and only hot
    * rows reach the exact groupBy. The confirm count is exact BY
    * CONSTRUCTION: the estimate is row-independent, so a surviving key
    * survives with ALL its rows. CMS never underestimates, so every true
    * heavy hitter is in the output (no false negatives — spec-pinned);
    * collision-inflated light keys appear with `is_true_hh = false`, the
    * false-positive cost the exact confirm exists to resolve.
    *
    * Exactness: pure integer algebra — cell sums, min over rows,
    * T = (N + 499) div 500, exact survivor counts. */
  def cmsHeavyHitters(spark: SparkSession, dir: String,
      denom: Long = HhSupportDenom,
      depth: Int = HhDepth, width: Int = HhWidth): DataFrame = {
    val ev = hhKeys(spark, dir)
    val sk = ev.agg(
      expr(s"graft_cms_sketch_g(key, $depth, $width)").as("m"),
      count(lit(1)).as("n"))
    hhScreen(ev, sk, denom, depth, width)
  }

  /** B50's key stream — the integer value buckets of the event stream. */
  private[operators] def hhKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(floor(col("value")).cast("long").cast("string").as("key"))

  /** B50's screen + exact confirm over an arbitrary 1-row sketch relation
    * `(m, n)` — shared verbatim by the inline plan and the
    * [[SketchArtifacts]] store consumer (a deployment merges persisted
    * per-segment matrices into `sk` by cell sum and runs the identical
    * screen). */
  private[operators] def hhScreen(ev: DataFrame, sk: DataFrame, denom: Long,
      depth: Int, width: Int): DataFrame =
    ev.crossJoin(broadcast(sk))
      .withColumn("t", expr(s"(n + ${denom - 1L}) div $denom"))
      .withColumn("cms_est", expr(
        s"array_min(transform(graft_cms_cells_g(key, $depth, $width), " +
          "c -> element_at(m, CAST(c + 1 AS INT))))"))
      .filter(col("cms_est") >= col("t"))
      .groupBy("key")
      .agg(min("cms_est").as("cms_est"), count(lit(1)).as("n_true"),
        min("t").as("t"))
      .select(col("key"), col("cms_est"), col("n_true"),
        (col("n_true") >= col("t")).as("is_true_hh"))
      .orderBy("key")

  def cmsHeavyHittersSqlFor(denom: Long,
      depth: Int = HhDepth, width: Int = HhWidth): String = s"""
    WITH ev AS (
      SELECT CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS key
      FROM events),
    nn AS (SELECT count(*) AS n FROM ev),
    th AS (SELECT (n + ${denom - 1L}) // $denom AS t FROM nn),
    kc AS (SELECT key, count(*) AS n_true FROM ev GROUP BY 1),
    hk AS (
      SELECT key, n_true,
        list_reduce(list_transform(range(1, length(key) + 1), i ->
          CAST(ascii(substr(key, CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM kc),
    kcell AS (
      SELECT key, n_true, d,
        (${graft.functions.Kernels.rowASql("d + 1")} * h
          + ${graft.functions.Kernels.rowBSql("d + 1")})
          % 2147483647 % $width AS g
      FROM hk, (SELECT unnest(range(0, $depth)) AS d)),
    cells AS (
      SELECT d, g, CAST(SUM(n_true) AS BIGINT) AS c FROM kcell GROUP BY 1, 2),
    est AS (
      SELECT kcell.key, kcell.n_true, MIN(cells.c) AS cms_est
      FROM kcell JOIN cells ON kcell.d = cells.d AND kcell.g = cells.g
      GROUP BY 1, 2)
    SELECT key, cms_est, n_true, n_true >= th.t AS is_true_hh
    FROM est, th WHERE cms_est >= th.t
    ORDER BY key"""

  lazy val cmsHeavyHittersSql: String = cmsHeavyHittersSqlFor(HhSupportDenom)

  /** B51: `q_hll_month_overlap` — the MERGEABLE-sketch payoff, run as a
    * query: month-over-month customer-audience overlap from PER-MONTH HLL
    * register vectors alone. Registers max-merge, so |A∪B| comes from
    * `zip_with(regs_a, regs_b, greatest)` and |A∩B| by inclusion-exclusion
    * — 66 month-pair venn cells answered from 12 sketches of 64 longs
    * WITHOUT re-scanning orders (at 100 TB: per-segment sketches persist
    * once and any union/overlap query is register arithmetic; the exact
    * twin would re-shuffle the fact table per pair). The exact pairwise
    * intersection rides next to the estimates as the evaluation column
    * (a self-join of the SAME cached (month, customer) relation the
    * sketches are built from — HLL updates are idempotent, so the sketch
    * of the distinct set equals the sketch of the raw stream).
    *
    * Exactness: registers are exact integers; estimates are the B20
    * closed form; inclusion-exclusion is one subtraction of
    * bit-identical doubles (may go negative at small cardinalities — the
    * raw estimator's documented behavior, reported as-is). */
  def hllMonthOverlap(spark: SparkSession, dir: String,
      m: Int = graft.functions.Kernels.HllM): DataFrame = {
    val mc = monthCustomers(spark, dir).cache()
    val sk = mc.groupBy("mth")
      .agg(expr(s"graft_hll_sketch_m(o_custkey, $m)").as("regs"))
    overlapAssemble(sk, mc, m)
  }

  /** The cached (month, customer) relation B51's sketches AND its exact
    * evaluation column both derive from. */
  private[operators] def monthCustomers(spark: SparkSession,
      dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(month(col("o_orderdate")).cast("long").as("mth"),
        col("o_custkey"))
      .distinct()

  /** B51's venn assembly from a per-month register relation `(mth, regs)`
    * — shared verbatim by the inline plan and the [[SketchArtifacts]]
    * store consumer, so artifact-fed answers are byte-identical by
    * construction. `mc` feeds only the exact evaluation column. */
  private[operators] def overlapAssemble(sk: DataFrame, mc: DataFrame,
      m: Int): DataFrame = {
    val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
    def estOf(regs: String) =
      expr(s"CAST('$am2' AS DOUBLE) / aggregate($regs, CAST(0 AS DOUBLE), " +
        "(acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))")
    val pairs = sk.as("a").join(sk.as("b"), col("a.mth") < col("b.mth"))
      .select(col("a.mth").as("month_a"), col("b.mth").as("month_b"),
        estOf("a.regs").as("est_a"), estOf("b.regs").as("est_b"),
        expr("zip_with(a.regs, b.regs, (x, y) -> greatest(x, y))")
          .as("u"))
      .withColumn("est_union", estOf("u"))
      .select(col("month_a"), col("month_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_inter"))
    val exact = mc.as("x").join(mc.as("y"),
        col("x.o_custkey") === col("y.o_custkey") &&
          col("x.mth") < col("y.mth"))
      .groupBy(col("x.mth").as("month_a"), col("y.mth").as("month_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    pairs.join(exact, Seq("month_a", "month_b"), "left")
      .withColumn("n_exact_inter", coalesce(col("n_exact_inter"), lit(0L)))
      .orderBy("month_a", "month_b")
  }

  def hllMonthOverlapSqlFor(m: Int): String = {
    val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
    val maxRho = graft.functions.Kernels.hllMaxRhoOf(m)
    def est(src: String) = s"""CAST('$am2' AS DOUBLE) / list_reduce(
        list_prepend(CAST(0 AS DOUBLE),
          list_transform(list(r ORDER BY j), x -> pow(CAST(2 AS DOUBLE), -x))),
        (acc, b) -> acc + b)"""
    s"""
    WITH mc AS (
      SELECT DISTINCT CAST(month(o_orderdate) AS BIGINT) AS mth, o_custkey
      FROM orders),
    h AS (
      SELECT mth, ${graft.functions.Kernels.hllHashSql("o_custkey")} AS h
      FROM mc),
    regs AS (
      SELECT m.mth, g.j, coalesce(MAX(CASE WHEN h.h // $m = 0 THEN $maxRho
          ELSE $maxRho - length(bin(h.h // $m)) END), 0) AS r
      FROM (SELECT DISTINCT mth FROM mc) m
      CROSS JOIN (SELECT unnest(range(0, $m)) AS j) g
      LEFT JOIN h ON h.mth = m.mth AND h.h % $m = g.j
      GROUP BY 1, 2),
    ests AS (SELECT mth, ${est("regs")} AS e FROM regs GROUP BY mth),
    uni AS (
      SELECT a.mth AS month_a, b.mth AS month_b, a.j,
        greatest(a.r, b.r) AS r
      FROM regs a JOIN regs b ON a.j = b.j AND a.mth < b.mth),
    uests AS (
      SELECT month_a, month_b, CAST('$am2' AS DOUBLE) / list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(list(r ORDER BY j), x -> pow(CAST(2 AS DOUBLE), -x))),
          (acc, b) -> acc + b) AS est_union
      FROM uni GROUP BY 1, 2),
    ex AS (
      SELECT x.mth AS month_a, y.mth AS month_b, count(*) AS n_exact_inter
      FROM mc x JOIN mc y ON x.o_custkey = y.o_custkey AND x.mth < y.mth
      GROUP BY 1, 2)
    SELECT u.month_a, u.month_b, ea.e AS est_a, eb.e AS est_b, u.est_union,
      ea.e + eb.e - u.est_union AS est_inter,
      coalesce(ex.n_exact_inter, 0) AS n_exact_inter
    FROM uests u
    JOIN ests ea ON ea.mth = u.month_a
    JOIN ests eb ON eb.mth = u.month_b
    LEFT JOIN ex ON ex.month_a = u.month_a AND ex.month_b = u.month_b
    ORDER BY u.month_a, u.month_b"""
  }

  lazy val hllMonthOverlapSql: String =
    hllMonthOverlapSqlFor(graft.functions.Kernels.HllM)

  /** Spark-side SQL for [[graft.functions.Kernels.qsketchLower]]. */
  private def qLowerSpark(b: String, s: Int): String =
    graft.functions.Kernels.qsketchLowerSparkSql(b, s)

  /** The integer cents stream B52-B54 sketch (the C113 cents device). */
  private def eventCents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(col("event_type"),
      floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))

  /** Quantile readout over a sketch relation `(keyCols..., n, regsCol)`:
    * explode the bucket counts (≤ (64−s)·2^s rows per key — an aggregate
    * of the corpus, bounded by geometry), cumulative-sum them, and pick
    * per per-mille quantile the first bucket whose cumulative count
    * reaches the target rank r = ⌈q·n/1000⌉. Returns one row per
    * (key, q_pm) with the bucket's value bracket [est_lo, est_hi) and its
    * cumulative bracket (n_below, n_thru] — `n_below < r ≤ n_thru` holds
    * BY CONSTRUCTION (the rank-error guarantee, spec-pinned). Exact
    * integer arithmetic end to end. */
  private[operators] def qReadout(sk: DataFrame, regsCol: String,
      keyCols: Seq[String], s: Int, qPms: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val hist = sk.select(keys ++ Seq(col("n"),
      posexplode(col(regsCol)).as(Seq("bucket", "cnt"))): _*)
      .filter(col("cnt") > 0)
    val w = (if (keyCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(keys: _*)).orderBy("bucket")
    // alias the cum side's columns (fresh attribute ids) — grid and cum
    // share sk's lineage, so unaliased key equality would be ambiguous
    val cum = hist.withColumn("n_thru", sum("cnt").over(w))
      .select(keyCols.map(k => col(k).as(s"cum_$k")) ++
        Seq(col("bucket"), col("cnt"), col("n_thru")): _*)
    val grid = sk.select(keys ++ Seq(col("n"),
      explode(array(qPms.map(q => lit(q.toLong)): _*)).as("q_pm")): _*)
      .withColumn("r", expr("(q_pm * n + 999) div 1000"))
    val joinCond = keyCols.map(k => col(s"cum_$k") === col(k))
      .foldLeft(col("n_thru") >= col("r"))(_ && _)
    grid.join(cum, joinCond)
      .groupBy(keys :+ col("q_pm") :+ col("n") :+ col("r"): _*)
      .agg(min("bucket").as("bucket"),
        min_by(col("cnt"), col("bucket")).as("cnt"),
        min_by(col("n_thru"), col("bucket")).as("n_thru"))
      .select(keys ++ Seq(col("q_pm"), col("n"), col("r"),
        expr(qLowerSpark("bucket", s)).as("est_lo"),
        expr(qLowerSpark("(bucket + 1)", s)).as("est_hi"),
        (col("n_thru") - col("cnt")).as("n_below"), col("n_thru")): _*)
      .orderBy((keyCols :+ "q_pm").map(col): _*)
  }

  /** B52: `q_value_quantile_sketch` — corpus value quantiles from the
    * DETERMINISTIC mergeable quantile sketch
    * ([[graft.functions.QuantileSketchAgg]]): one events pass builds the
    * (64−s)·2^s bucket counts as a distributive SUM aggregate (29 KiB of
    * state at the production s = 6, partial-aggregated map-side at any
    * corpus size — where exact quantiles shuffle every value), and the
    * readout returns, per per-mille quantile, the picked bucket's value
    * bracket [est_lo, est_hi) (relative width ≤ 2^−s) and cumulative
    * bracket (n_below, n_thru] (the EXACT rank guarantee: the target rank
    * always lands inside — spec-pinned, so rank slack is bounded by the
    * bucket's own mass). Completes the mergeable-sketch triad: HLL (B20)
    * answers distinct, CMS (B13) frequency, this one rank/quantile — and
    * like those, per-segment sketches persist once and merge exactly.
    * B21/B24 remain the exact paths; this is the unbounded-domain scale
    * path their cents histogram cannot give.
    *
    * Exactness: pure integer bit arithmetic (bucket map, shifts, cumsum,
    * ⌈q·n/1000⌉ on exact per-mille rationals) — both engines bit-equal. */
  def valueQuantileSketch(spark: SparkSession, dir: String,
      s: Int = graft.functions.Kernels.QSketchS,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val sk = eventCents(spark, dir)
      .agg(expr(s"graft_qsketch_s(cents, $s)").as("regs"),
        count(lit(1)).as("n")).cache()
    qReadout(sk, "regs", Seq.empty, s, qPms)
  }

  def valueQuantileSketchSqlFor(s: Int,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql}
    s"""
    WITH c AS (
      SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    b AS (SELECT ${qsketchBucketSql("cents", s)} AS bucket FROM c),
    h AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
    cum AS (
      SELECT bucket, cnt,
        CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS n_thru
      FROM h),
    tot AS (SELECT count(*) AS n FROM c),
    grid AS (
      SELECT CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([${qPms.mkString(", ")}]) AS q_pm), tot),
    pick AS (
      SELECT q_pm, n, r, MIN(bucket) AS bucket
      FROM grid JOIN cum ON cum.n_thru >= grid.r
      GROUP BY 1, 2, 3)
    SELECT p.q_pm, p.n, p.r,
      ${qsketchLowerSql("p.bucket", s)} AS est_lo,
      ${qsketchLowerSql("(p.bucket + 1)", s)} AS est_hi,
      cum.n_thru - cum.cnt AS n_below, cum.n_thru
    FROM pick p JOIN cum ON cum.bucket = p.bucket
    ORDER BY p.q_pm"""
  }

  lazy val valueQuantileSketchSql: String =
    valueQuantileSketchSqlFor(graft.functions.Kernels.QSketchS)

  /** Subdivisions probed by the B53 sweep — brackets the production s = 6
    * by 2 doublings each way (state 248 / 960 / 3712 / 14336 cells). */
  val QSketchSweepSs: Seq[Int] = Seq(2, 4, 6, 8)

  /** B53: `q_qsketch_s_sweep` — the quantile sketch's OPERATING CURVE:
    * per subdivision s, per grid quantile, the value bracket width and
    * the picked bucket's mass (= the worst-case rank slack), next to the
    * geometry's total and occupied cell counts — the state-vs-precision
    * knob table (each +2 on s quarters the bracket width and 4×es the
    * state). The B48/B49 device: ONE events scan builds EVERY s's bucket
    * counts (each its own distributive aggregate), the 1-row result is
    * cache()d, and each s's readout reads the cache — no per-s rescans.
    * Finer s splits buckets on a superset of coarser boundaries, so
    * bucket mass per quantile is non-increasing in s (spec-pinned
    * monotonicity, the B49 depth-monotone precedent). */
  def qsketchSSweep(spark: SparkSession, dir: String,
      ss: Seq[Int] = QSketchSweepSs,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val aggs = count(lit(1)).as("n") +:
      ss.map(s => expr(s"graft_qsketch_s(cents, $s)").as(s"regs_$s"))
    val one = eventCents(spark, dir).agg(aggs.head, aggs.tail: _*).cache()
    ss.map { s =>
      qReadout(one.select(col("n"), col(s"regs_$s").as("regs")),
          "regs", Seq.empty, s, qPms)
        .crossJoin(one.select(
          lit(s.toLong).as("s"),
          lit(graft.functions.Kernels.qsketchBuckets(s).toLong)
            .as("n_cells"),
          expr(s"CAST(size(filter(regs_$s, x -> x > 0)) AS BIGINT)")
            .as("n_cells_used")))
        .select("s", "q_pm", "n", "r", "est_lo", "est_hi", "n_below",
          "n_thru", "n_cells", "n_cells_used")
    }.reduce(_ unionByName _).orderBy("s", "q_pm")
  }

  def qsketchSSweepSqlFor(ss: Seq[Int],
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql,
      qsketchBuckets}
    val blocks = ss.map { s =>
      s"""
      b$s AS (SELECT ${qsketchBucketSql("cents", s)} AS bucket FROM c),
      h$s AS (SELECT bucket, count(*) AS cnt FROM b$s GROUP BY 1),
      cum$s AS (
        SELECT bucket, cnt,
          CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS n_thru
        FROM h$s),
      pick$s AS (
        SELECT q_pm, n, r, MIN(bucket) AS bucket
        FROM grid JOIN cum$s ON cum$s.n_thru >= grid.r
        GROUP BY 1, 2, 3),
      res$s AS (
        SELECT CAST($s AS BIGINT) AS s, p.q_pm, p.n, p.r,
          ${qsketchLowerSql("p.bucket", s)} AS est_lo,
          ${qsketchLowerSql("(p.bucket + 1)", s)} AS est_hi,
          cum.n_thru - cum.cnt AS n_below, cum.n_thru,
          CAST(${qsketchBuckets(s)} AS BIGINT) AS n_cells,
          (SELECT count(*) FROM h$s) AS n_cells_used
        FROM pick$s p JOIN cum$s cum ON cum.bucket = p.bucket)"""
    }
    val unions = ss.map(s => s"SELECT * FROM res$s").mkString(" UNION ALL ")
    s"""
    WITH c AS (
      SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    tot AS (SELECT count(*) AS n FROM c),
    grid AS (
      SELECT CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([${qPms.mkString(", ")}]) AS q_pm), tot),
    ${blocks.mkString(",")}
    SELECT * FROM ($unions) ORDER BY s, q_pm"""
  }

  lazy val qsketchSSweepSql: String = qsketchSSweepSqlFor(QSketchSweepSs)

  /** B54: `q_value_quantiles_by_type` — the GROUPED sketch path: one
    * events pass builds a 29 KiB sketch PER event type (the shape that
    * matters at scale: per-segment quantile state is fixed-size, so a
    * million segments cost a million small rows, not a million sorts),
    * then the identical readout runs per type off the cached sketch
    * relation. The per-type cumsum window partitions by type over
    * histogram rows — an aggregate of the corpus, geometry-bounded. */
  def valueQuantilesByType(spark: SparkSession, dir: String,
      s: Int = graft.functions.Kernels.QSketchS,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val sk = eventCents(spark, dir)
      .groupBy("event_type")
      .agg(expr(s"graft_qsketch_s(cents, $s)").as("regs"),
        count(lit(1)).as("n")).cache()
    qReadout(sk, "regs", Seq("event_type"), s, qPms)
  }

  def valueQuantilesByTypeSqlFor(s: Int,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql}
    s"""
    WITH c AS (
      SELECT event_type,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT event_type, ${qsketchBucketSql("cents", s)} AS bucket FROM c),
    h AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bucket, cnt,
        CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
          AS BIGINT) AS n_thru
      FROM h),
    tot AS (SELECT event_type, count(*) AS n FROM c GROUP BY 1),
    grid AS (
      SELECT event_type, CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([${qPms.mkString(", ")}]) AS q_pm), tot),
    pick AS (
      SELECT g.event_type, q_pm, n, r, MIN(bucket) AS bucket
      FROM grid g JOIN cum
        ON cum.event_type = g.event_type AND cum.n_thru >= g.r
      GROUP BY 1, 2, 3, 4)
    SELECT p.event_type, p.q_pm, p.n, p.r,
      ${qsketchLowerSql("p.bucket", s)} AS est_lo,
      ${qsketchLowerSql("(p.bucket + 1)", s)} AS est_hi,
      cum.n_thru - cum.cnt AS n_below, cum.n_thru
    FROM pick p
    JOIN cum ON cum.event_type = p.event_type AND cum.bucket = p.bucket
    ORDER BY p.event_type, p.q_pm"""
  }

  lazy val valueQuantilesByTypeSql: String =
    valueQuantilesByTypeSqlFor(graft.functions.Kernels.QSketchS)

  /** B54's grouped path with a SYNTHETIC segment explosion — probe-only
    * device for the `segment` sweep of [[graft.ScaleProbe]] (round 11):
    * the segment key is event_type × (event_id mod segMul), so the SAME
    * corpus builds |types|·segMul fixed-size sketches instead of |types|.
    * This measures the granularity contract documented on
    * [[graft.functions.QuantileSketchAgg]] — per-group state is a fixed
    * (64−s)·2^s longs, so total aggregation-map state grows ∝ segment
    * count while the build stays ONE corpus pass and the readout stays
    * one geometry-bounded histogram per segment. */
  private[graft] def valueQuantilesBySyntheticSegments(spark: SparkSession,
      dir: String, segMul: Int,
      s: Int = graft.functions.Kernels.QSketchS,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val sk = Tables.events(spark, dir)
      .select(
        concat_ws("_", col("event_type"),
          pmod(col("event_id"), lit(segMul.toLong)).cast("string"))
          .as("segment"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .groupBy("segment")
      .agg(expr(s"graft_qsketch_s(cents, $s)").as("regs"),
        count(lit(1)).as("n")).cache()
    qReadout(sk, "regs", Seq("segment"), s, qPms)
  }

  /** The per-day (day_epoch, regs, n) quantile-sketch relation B55 reads
    * and [[SketchArtifacts]] persists — epoch day from the event's UTC
    * nanos (the B37 bucket device), cents from the C113 device. */
  private[operators] def dayValueSketches(spark: SparkSession, dir: String,
      s: Int): DataFrame =
    dayValueSketchesOf(Tables.events(spark, dir), s)

  /** [[dayValueSketches]] of an ARBITRARY events frame — frame-parametric
    * so the store's per-day APPEND can feed it one day's (date-pruned)
    * slice instead of the whole table. */
  private[operators] def dayValueSketchesOf(ev: DataFrame,
      s: Int): DataFrame =
    ev.select(expr("ts div 86400000000000").as("day_epoch"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .groupBy("day_epoch")
      .agg(expr(s"graft_qsketch_s(cents, $s)").as("regs"),
        count(lit(1)).as("n"))

  /** B56's week assembly from a per-day sketch relation — shared verbatim
    * by the inline plan and the [[SketchArtifacts]] store consumer: weeks
    * merge by elementwise REGISTER SUM (zip_with over ≤ 7 day vectors per
    * week — the quantile sketch is a pure distributive count vector, so
    * the merged sketch is bit-identical to sketching the week's stream in
    * one pass), then the identical keyed readout. */
  private[operators] def weekQuantileAssemble(days: DataFrame, s: Int,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val nb = graft.functions.Kernels.qsketchBuckets(s)
    val wk = days
      .groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(
        expr(s"aggregate(collect_list(regs), " +
          s"array_repeat(CAST(0 AS BIGINT), $nb), " +
          "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))").as("regs"),
        sum("n").as("n")).cache()
    qReadout(wk, "regs", Seq("week_epoch"), s, qPms)
  }

  /** B56: `q_value_quantile_week` — the quantile sketch's MERGE exercised
    * cross-engine (the B51 max-merge analog for the third sketch family):
    * ONE events pass builds the per-day register vectors (exactly the
    * rows [[SketchArtifacts]] persists), and each week's quantiles come
    * from CELL-SUMMING its ≤ 7 day vectors — never re-touching a value.
    * At 100 TB this is the whole point of the mergeable-sketch store: any
    * calendar roll-up (week, month, quarter) is integer register
    * arithmetic over a handful of 29 KiB rows. The DuckDB twin performs
    * the SAME register sum relationally (per-day bucket histograms
    * cell-summed onto weeks) — the merge itself is what the oracle
    * checks, bit-exactly, not just each day's readout. */
  def valueQuantileWeek(spark: SparkSession, dir: String,
      s: Int = graft.functions.Kernels.QSketchS,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    weekQuantileAssemble(dayValueSketches(spark, dir, s), s, qPms)
  }

  def valueQuantileWeekSqlFor(s: Int,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql}
    s"""
    WITH c AS (
      SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_epoch,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT day_epoch, ${qsketchBucketSql("cents", s)} AS bucket FROM c),
    hd AS (  -- the per-day register vectors (what the store persists)
      SELECT day_epoch, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    h AS (   -- the REGISTER SUM merge: cells add across a week's days
      SELECT day_epoch // 7 AS week_epoch, bucket,
        CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM hd GROUP BY 1, 2),
    cum AS (
      SELECT week_epoch, bucket, cnt,
        CAST(SUM(cnt) OVER (PARTITION BY week_epoch ORDER BY bucket)
          AS BIGINT) AS n_thru
      FROM h),
    tot AS (
      SELECT week_epoch, CAST(SUM(cnt) AS BIGINT) AS n
      FROM h GROUP BY 1),
    grid AS (
      SELECT week_epoch, CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([${qPms.mkString(", ")}]) AS q_pm), tot),
    pick AS (
      SELECT g.week_epoch, q_pm, n, r, MIN(bucket) AS bucket
      FROM grid g JOIN cum
        ON cum.week_epoch = g.week_epoch AND cum.n_thru >= g.r
      GROUP BY 1, 2, 3, 4)
    SELECT p.week_epoch, p.q_pm, p.n, p.r,
      ${qsketchLowerSql("p.bucket", s)} AS est_lo,
      ${qsketchLowerSql("(p.bucket + 1)", s)} AS est_hi,
      cum.n_thru - cum.cnt AS n_below, cum.n_thru
    FROM pick p
    JOIN cum ON cum.week_epoch = p.week_epoch AND cum.bucket = p.bucket
    ORDER BY p.week_epoch, p.q_pm"""
  }

  lazy val valueQuantileWeekSql: String =
    valueQuantileWeekSqlFor(graft.functions.Kernels.QSketchS)

  /** B62's oracle: B56's week merge plus the persisted-day count column
    * (the B61 shape — DuckDB rebuilds the per-day registers relationally
    * and merges them; the Spark side reads the PERSISTED rows, and the
    * store-fed ≡ inline byte-equality is what makes this one oracle check
    * the whole store round trip). */
  def qsketchWeekEstimatesSqlFor(s: Int,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql}
    s"""
    WITH c AS (
      SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_epoch,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT day_epoch, ${qsketchBucketSql("cents", s)} AS bucket FROM c),
    hd AS (  -- the per-day register vectors (what the store persists)
      SELECT day_epoch, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    nd AS (  -- persisted day rows per week (the B61 n_days column)
      SELECT day_epoch // 7 AS week_epoch,
        CAST(count(DISTINCT day_epoch) AS BIGINT) AS n_days
      FROM hd GROUP BY 1),
    h AS (   -- the REGISTER SUM merge: cells add across a week's days
      SELECT day_epoch // 7 AS week_epoch, bucket,
        CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM hd GROUP BY 1, 2),
    cum AS (
      SELECT week_epoch, bucket, cnt,
        CAST(SUM(cnt) OVER (PARTITION BY week_epoch ORDER BY bucket)
          AS BIGINT) AS n_thru
      FROM h),
    tot AS (
      SELECT week_epoch, CAST(SUM(cnt) AS BIGINT) AS n
      FROM h GROUP BY 1),
    grid AS (
      SELECT week_epoch, CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([${qPms.mkString(", ")}]) AS q_pm), tot),
    pick AS (
      SELECT g.week_epoch, q_pm, n, r, MIN(bucket) AS bucket
      FROM grid g JOIN cum
        ON cum.week_epoch = g.week_epoch AND cum.n_thru >= g.r
      GROUP BY 1, 2, 3, 4)
    SELECT p.week_epoch, nd.n_days, p.q_pm, p.n, p.r,
      ${qsketchLowerSql("p.bucket", s)} AS est_lo,
      ${qsketchLowerSql("(p.bucket + 1)", s)} AS est_hi,
      cum.n_thru - cum.cnt AS n_below, cum.n_thru
    FROM pick p
    JOIN cum ON cum.week_epoch = p.week_epoch AND cum.bucket = p.bucket
    JOIN nd ON nd.week_epoch = p.week_epoch
    ORDER BY p.week_epoch, p.q_pm"""
  }

  lazy val qsketchWeekEstimatesSql: String =
    qsketchWeekEstimatesSqlFor(graft.functions.Kernels.QSketchS)

  /** B57's geometry — deliberately UNDER-provisioned (the B49 curve's
    * collision regime) so the merged week matrices carry visible
    * overestimate mass and the merge arithmetic is exercised on inflated
    * cells, not just exact ones. */
  val WeekCmsDepth: Int = 2
  val WeekCmsWidth: Int = 64

  /** B57: `q_cms_week_merge` — the CMS register-SUM merge exercised
    * cross-engine (the B56 analog for the frequency family, completing
    * the per-family merge-oracle trilogy: B51 HLL max-merge, B56 qsketch
    * sum-merge, this one CMS sum-merge): per-DAY count-min matrices over
    * the value-bucket key stream cell-sum onto weeks — the days partition
    * the stream, so every merged cell is exactly the week's single-pass
    * cell — and each week reports its estimate-quality rollup (keys read
    * back exactly, total/max overestimate) against the exact per-week
    * counts. At 100 TB the per-day matrices are what an ingest pass
    * leaves behind; any calendar roll-up is cell arithmetic over
    * depth·width-long rows. The DuckDB twin builds the SAME per-day cells
    * relationally and sums them onto weeks — the merge is what the
    * oracle checks.
    *
    * Exactness: pure integer algebra (cell sums, min over rows, count/
    * sum/max rollups) except the one final share division. */
  /** B57's per-day key stream: (day_epoch, value-bucket key). */
  private[graft] def dayValueKeys(spark: SparkSession,
      dir: String): DataFrame =
    Tables.events(spark, dir).select(
      expr("ts div 86400000000000").as("day_epoch"),
      floor(col("value")).cast("long").cast("string").as("key"))

  /** B57's per-day CMS matrices — the rows [[SketchArtifacts]] persists
    * as `cms_day`. Frame-parametric for the store's per-day append. */
  private[graft] def dayCmsSketchesOf(ev: DataFrame, depth: Int,
      width: Int): DataFrame =
    ev.groupBy("day_epoch")
      .agg(expr(s"graft_cms_sketch_g(key, $depth, $width)").as("m"))

  /** B57's week assembly from a per-day matrix relation + the exact
    * per-week key counts (the evaluation harness) — shared verbatim by
    * the inline plan and the [[SketchArtifacts]] store consumer. */
  private[operators] def cmsWeekAssemble(daySk: DataFrame, kc: DataFrame,
      depth: Int, width: Int): DataFrame = {
    val cells = depth * width
    val wkSk = daySk.groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(expr(s"aggregate(collect_list(m), " +
        s"array_repeat(CAST(0 AS BIGINT), $cells), " +
        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))").as("m"))
    kc.join(broadcast(wkSk), Seq("week_epoch"))
      .select(col("week_epoch"), col("n_true"),
        expr(s"array_min(transform(graft_cms_cells_g(key, $depth, $width), " +
          "c -> element_at(m, CAST(c + 1 AS INT))))").as("est"))
      .groupBy("week_epoch")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("est") === col("n_true"), 1L).otherwise(0L))
          .as("n_exact_keys"),
        sum(col("est") - col("n_true")).as("overest_total"),
        max(col("est") - col("n_true")).as("overest_max"))
      .withColumn("exact_share",
        col("n_exact_keys").cast("double") / col("n_keys").cast("double"))
      .orderBy("week_epoch")
  }

  def cmsWeekMerge(spark: SparkSession, dir: String,
      depth: Int = WeekCmsDepth, width: Int = WeekCmsWidth): DataFrame = {
    val ev = dayValueKeys(spark, dir)
    val kc = ev.groupBy(expr("day_epoch div 7").as("week_epoch"), col("key"))
      .agg(count(lit(1)).as("n_true"))
    cmsWeekAssemble(dayCmsSketchesOf(ev, depth, width), kc, depth, width)
  }

  def cmsWeekMergeSqlFor(depth: Int = WeekCmsDepth,
      width: Int = WeekCmsWidth): String = {
    import graft.functions.Kernels.{rowASql, rowBSql}
    s"""
    WITH e AS (
      SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_epoch,
        CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS key
      FROM events),
    kcd AS (SELECT day_epoch, key, count(*) AS n FROM e GROUP BY 1, 2),
    dk AS (SELECT DISTINCT key FROM kcd),
    hk AS (
      SELECT key,
        list_reduce(list_transform(range(1, length(key) + 1), i ->
          CAST(ascii(substr(key, CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM dk),
    kcell AS (
      SELECT key, d,
        (${rowASql("d + 1")} * h + ${rowBSql("d + 1")})
          % 2147483647 % $width AS g
      FROM hk, (SELECT unnest(range(0, $depth)) AS d)),
    cellsd AS (  -- the per-day matrices (what an ingest pass persists)
      SELECT kcd.day_epoch, kcell.d, kcell.g, CAST(SUM(kcd.n) AS BIGINT) AS c
      FROM kcd JOIN kcell ON kcd.key = kcell.key
      GROUP BY 1, 2, 3),
    cellsw AS (  -- the REGISTER SUM merge: cells add across a week's days
      SELECT day_epoch // 7 AS week_epoch, d, g, CAST(SUM(c) AS BIGINT) AS c
      FROM cellsd GROUP BY 1, 2, 3),
    kcw AS (
      SELECT day_epoch // 7 AS week_epoch, key, CAST(SUM(n) AS BIGINT)
        AS n_true
      FROM kcd GROUP BY 1, 2),
    est AS (
      SELECT kcw.week_epoch, kcw.key, kcw.n_true, MIN(cw.c) AS est
      FROM kcw
      JOIN kcell ON kcell.key = kcw.key
      JOIN cellsw cw ON cw.week_epoch = kcw.week_epoch
        AND cw.d = kcell.d AND cw.g = kcell.g
      GROUP BY 1, 2, 3)
    SELECT week_epoch, count(*) AS n_keys,
      CAST(SUM(CASE WHEN est = n_true THEN 1 ELSE 0 END) AS BIGINT)
        AS n_exact_keys,
      CAST(SUM(est - n_true) AS BIGINT) AS overest_total,
      CAST(MAX(est - n_true) AS BIGINT) AS overest_max,
      CAST(SUM(CASE WHEN est = n_true THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS exact_share
    FROM est GROUP BY 1 ORDER BY 1"""
  }

  lazy val cmsWeekMergeSql: String = cmsWeekMergeSqlFor()

  /** B58's register count — B20's production m, now on the calendar
    * roll-up path. */
  val WeekHllM: Int = 64

  /** B58: `q_hll_week_actives` — the HLL register MAX-merge on the
    * CALENDAR axis (B51's venn is the month-PAIR overlap; this is the
    * roll-up a WAU dashboard runs): per-day HLL register vectors over the
    * user stream max-merge onto weeks — max is associative and
    * idempotent, so the merged vector is bit-identical to sketching the
    * week in one pass — and each week reports the estimate next to the
    * exact distinct-user count (the B37 evaluation column). The DuckDB
    * twin builds per-day registers and MAXes them onto weeks — the merge
    * is what the oracle checks, at both engines' register grain.
    *
    * Exactness: registers are exact integers; the estimate is the B48
    * fold (sequential Σ2^−r in register order, exact-double powers of
    * two); rel_err one subtraction + division on bit-identical inputs. */
  /** B58's per-day user stream. */
  private[operators] def dayUsers(spark: SparkSession,
      dir: String): DataFrame =
    Tables.events(spark, dir).select(
      expr("ts div 86400000000000").as("day_epoch"), col("user_id"))

  /** B58's per-day HLL register vectors — the rows [[SketchArtifacts]]
    * persists as `hll_day`. Frame-parametric for the per-day append. */
  private[operators] def dayHllSketchesOf(ev: DataFrame, m: Int): DataFrame =
    ev.groupBy("day_epoch")
      .agg(expr(s"graft_hll_sketch_m(user_id, $m)").as("regs"))

  /** B58's week assembly from a per-day register relation + the exact
    * per-week distinct counts (the evaluation column) — shared verbatim
    * by the inline plan and the [[SketchArtifacts]] store consumer. */
  private[operators] def hllWeekAssemble(daySk: DataFrame, ex: DataFrame,
      m: Int): DataFrame = {
    val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
    val wkSk = daySk.groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(expr(s"aggregate(collect_list(regs), " +
        s"array_repeat(CAST(0 AS BIGINT), $m), " +
        "(acc, x) -> zip_with(acc, x, (a, b) -> greatest(a, b)))")
        .as("regs"))
    wkSk.join(ex, Seq("week_epoch"))
      .select(col("week_epoch"), col("n_exact"),
        expr(s"CAST('$am2' AS DOUBLE) / aggregate(regs, " +
          "CAST(0 AS DOUBLE), (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))")
          .as("hll_est"))
      .withColumn("rel_err",
        (col("hll_est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"))
      .orderBy("week_epoch")
  }

  def hllWeekActives(spark: SparkSession, dir: String,
      m: Int = WeekHllM): DataFrame = {
    val ev = dayUsers(spark, dir)
    val ex = ev.groupBy(expr("day_epoch div 7").as("week_epoch"))
      .agg(countDistinct("user_id").as("n_exact"))
    hllWeekAssemble(dayHllSketchesOf(ev, m), ex, m)
  }

  def hllWeekActivesSqlFor(m: Int = WeekHllM): String = {
    val maxRho = graft.functions.Kernels.hllMaxRhoOf(m)
    val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
    s"""
    WITH e AS (
      SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_epoch,
        user_id
      FROM events),
    du AS (SELECT DISTINCT day_epoch, user_id FROM e),
    h AS (
      SELECT day_epoch, ${graft.functions.Kernels.hllHashSql("user_id")} AS h
      FROM du),
    rd AS (  -- the per-day register vectors (what an ingest pass persists)
      SELECT day_epoch, h % $m AS j,
        MAX(CASE WHEN h // $m = 0 THEN $maxRho
            ELSE $maxRho - length(bin(h // $m)) END) AS r
      FROM h GROUP BY 1, 2),
    rw AS (  -- the register MAX merge: registers max across a week's days
      SELECT day_epoch // 7 AS week_epoch, j, MAX(r) AS r
      FROM rd GROUP BY 1, 2),
    grid AS (
      SELECT wg.week_epoch, wg.j, coalesce(rw.r, 0) AS r
      FROM (SELECT w.week_epoch, g.j
            FROM (SELECT DISTINCT week_epoch FROM rw) w,
                 (SELECT unnest(range(0, $m)) AS j) g) wg
      LEFT JOIN rw ON rw.week_epoch = wg.week_epoch AND rw.j = wg.j),
    est AS (
      SELECT week_epoch,
        CAST('$am2' AS DOUBLE) / list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(list(r ORDER BY j),
              x -> pow(CAST(2 AS DOUBLE), -x))),
          (acc, b) -> acc + b) AS hll_est
      FROM grid GROUP BY 1),
    ex AS (
      SELECT day_epoch // 7 AS week_epoch, count(DISTINCT user_id) AS n_exact
      FROM e GROUP BY 1)
    SELECT est.week_epoch, ex.n_exact, est.hll_est,
      (est.hll_est - CAST(ex.n_exact AS DOUBLE))
        / CAST(ex.n_exact AS DOUBLE) AS rel_err
    FROM est JOIN ex ON ex.week_epoch = est.week_epoch
    ORDER BY est.week_epoch"""
  }

  lazy val hllWeekActivesSql: String = hllWeekActivesSqlFor()

  /** B60's fixed probe-key panel: the value buckets a deployment's weekly
    * frequency dashboard watches. Literal — the estimates-only consumer
    * must know its keys WITHOUT scanning events (that is the point). */
  val CmsProbeKeys: Seq[String] = (0 until 16).map(_.toString)

  /** B60's oracle: DuckDB rebuilds the per-day cells relationally
    * (exactly [[cmsWeekMergeSqlFor]]'s cellsd/cellsw), then estimates the
    * SAME literal probe keys from the merged week cells — LEFT-joined
    * onto the dense cell grid with `coalesce(c, 0)`, because a probe key
    * may hash to a cell no stream key touched (the dense matrix reads 0
    * there; a bare relational MIN over present cells would silently
    * overestimate). */
  def cmsWeekEstimatesSqlFor(depth: Int = WeekCmsDepth,
      width: Int = WeekCmsWidth,
      keys: Seq[String] = CmsProbeKeys): String = {
    import graft.functions.Kernels.{rowASql, rowBSql}
    keys.foreach(DedupArtifacts.requireSafeToken("CMS probe key", _))
    val keyList = keys.map(k => s"'$k'").mkString(", ")
    s"""
    WITH e AS (
      SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_epoch,
        CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS key
      FROM events),
    kcd AS (SELECT day_epoch, key, count(*) AS n FROM e GROUP BY 1, 2),
    dk AS (SELECT DISTINCT key FROM kcd),
    hk AS (
      SELECT key,
        list_reduce(list_transform(range(1, length(key) + 1), i ->
          CAST(ascii(substr(key, CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM dk),
    kcell AS (
      SELECT key, d,
        (${rowASql("d + 1")} * h + ${rowBSql("d + 1")})
          % 2147483647 % $width AS g
      FROM hk, (SELECT unnest(range(0, $depth)) AS d)),
    cellsd AS (
      SELECT kcd.day_epoch, kcell.d, kcell.g, CAST(SUM(kcd.n) AS BIGINT) AS c
      FROM kcd JOIN kcell ON kcd.key = kcell.key
      GROUP BY 1, 2, 3),
    cellsw AS (
      SELECT day_epoch // 7 AS week_epoch, d, g, CAST(SUM(c) AS BIGINT) AS c
      FROM cellsd GROUP BY 1, 2, 3),
    wk AS (SELECT DISTINCT day_epoch // 7 AS week_epoch FROM kcd),
    pk AS (SELECT unnest([$keyList]) AS key),
    pkh AS (
      SELECT key,
        list_reduce(list_transform(range(1, length(key) + 1), i ->
          CAST(ascii(substr(key, CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM pk),
    pkcell AS (
      SELECT key, d,
        (${rowASql("d + 1")} * h + ${rowBSql("d + 1")})
          % 2147483647 % $width AS g
      FROM pkh, (SELECT unnest(range(0, $depth)) AS d)),
    grid AS (
      SELECT wk.week_epoch, pkcell.key, pkcell.d, pkcell.g
      FROM wk, pkcell),
    est AS (
      SELECT grid.week_epoch, grid.key,
        MIN(coalesce(cw.c, CAST(0 AS BIGINT))) AS est
      FROM grid LEFT JOIN cellsw cw
        ON cw.week_epoch = grid.week_epoch
        AND cw.d = grid.d AND cw.g = grid.g
      GROUP BY 1, 2)
    SELECT week_epoch, key, CAST(est AS BIGINT) AS est
    FROM est ORDER BY week_epoch, key"""
  }

  lazy val cmsWeekEstimatesSql: String = cmsWeekEstimatesSqlFor()

  /** B61's oracle: per-day registers rebuilt relationally (exactly
    * [[hllWeekActivesSqlFor]]'s rd/rw/grid/est) plus the persisted-row
    * count per week — every output column derivable from the day rows
    * an ingest pass leaves behind. */
  def hllWeekEstimatesSqlFor(m: Int = WeekHllM): String = {
    val maxRho = graft.functions.Kernels.hllMaxRhoOf(m)
    val am2 = graft.functions.Kernels.hllAlphaM2Of(m)
    s"""
    WITH e AS (
      SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_epoch,
        user_id
      FROM events),
    du AS (SELECT DISTINCT day_epoch, user_id FROM e),
    h AS (
      SELECT day_epoch, ${graft.functions.Kernels.hllHashSql("user_id")} AS h
      FROM du),
    rd AS (
      SELECT day_epoch, h % $m AS j,
        MAX(CASE WHEN h // $m = 0 THEN $maxRho
            ELSE $maxRho - length(bin(h // $m)) END) AS r
      FROM h GROUP BY 1, 2),
    rw AS (
      SELECT day_epoch // 7 AS week_epoch, j, MAX(r) AS r
      FROM rd GROUP BY 1, 2),
    grid AS (
      SELECT wg.week_epoch, wg.j, coalesce(rw.r, 0) AS r
      FROM (SELECT w.week_epoch, g.j
            FROM (SELECT DISTINCT week_epoch FROM rw) w,
                 (SELECT unnest(range(0, $m)) AS j) g) wg
      LEFT JOIN rw ON rw.week_epoch = wg.week_epoch AND rw.j = wg.j),
    est AS (
      SELECT week_epoch,
        CAST('$am2' AS DOUBLE) / list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(list(r ORDER BY j),
              x -> pow(CAST(2 AS DOUBLE), -x))),
          (acc, b) -> acc + b) AS hll_est
      FROM grid GROUP BY 1),
    nd AS (
      SELECT day_epoch // 7 AS week_epoch,
        count(DISTINCT day_epoch) AS n_days
      FROM e GROUP BY 1)
    SELECT est.week_epoch, nd.n_days, est.hll_est
    FROM est JOIN nd ON nd.week_epoch = est.week_epoch
    ORDER BY est.week_epoch"""
  }

  lazy val hllWeekEstimatesSql: String = hllWeekEstimatesSqlFor()

  /** B59: `q_order_value_quantiles_by_month` — the quantile sketch on the
    * ORDERS domain with a real multi-year calendar axis (80 months at
    * every test SF, vs the events table's single January): per calendar
    * month (ym = year·100 + month, integer both engines) the order-value
    * quantile brackets from one orders pass — the monthly pricing-trend
    * panel B21/B24's exact cents histogram cannot give at unbounded value
    * domains, and the shape a finance dashboard trends: 80 × 29 KiB of
    * distributive state instead of 80 sorts of a month's orders. Same
    * exact-integer readout contract as B52/B54 (rank bracket guarantee,
    * ≤ 2^−s value bracket). */
  def orderValueQuantilesByMonth(spark: SparkSession, dir: String,
      s: Int = graft.functions.Kernels.QSketchS,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val sk = Tables.orders(spark, dir)
      .select((year(col("o_orderdate")) * lit(100) + month(col("o_orderdate")))
          .cast("long").as("ym"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("cents"))
      .groupBy("ym")
      .agg(expr(s"graft_qsketch_s(cents, $s)").as("regs"),
        count(lit(1)).as("n")).cache()
    qReadout(sk, "regs", Seq("ym"), s, qPms)
  }

  def orderValueQuantilesByMonthSqlFor(s: Int,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql}
    s"""
    WITH c AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
          AS ym,
        CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders),
    b AS (SELECT ym, ${qsketchBucketSql("cents", s)} AS bucket FROM c),
    h AS (SELECT ym, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT ym, bucket, cnt,
        CAST(SUM(cnt) OVER (PARTITION BY ym ORDER BY bucket) AS BIGINT)
          AS n_thru
      FROM h),
    tot AS (SELECT ym, count(*) AS n FROM c GROUP BY 1),
    grid AS (
      SELECT ym, CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([${qPms.mkString(", ")}]) AS q_pm), tot),
    pick AS (
      SELECT g.ym, q_pm, n, r, MIN(bucket) AS bucket
      FROM grid g JOIN cum ON cum.ym = g.ym AND cum.n_thru >= g.r
      GROUP BY 1, 2, 3, 4)
    SELECT p.ym, p.q_pm, p.n, p.r,
      ${qsketchLowerSql("p.bucket", s)} AS est_lo,
      ${qsketchLowerSql("(p.bucket + 1)", s)} AS est_hi,
      cum.n_thru - cum.cnt AS n_below, cum.n_thru
    FROM pick p JOIN cum ON cum.ym = p.ym AND cum.bucket = p.bucket
    ORDER BY p.ym, p.q_pm"""
  }

  lazy val orderValueQuantilesByMonthSql: String =
    orderValueQuantilesByMonthSqlFor(graft.functions.Kernels.QSketchS)

  /** C114: `q_doclen_quantiles_by_source` — the quantile sketch on the
    * DOCUMENTS domain: per-source document-length quantile brackets
    * (n_chars is already an exact long) from one corpus pass. The
    * datasheet length panel at 100 TB scale: C43's exact histogram
    * shuffles every length; this holds one 29 KiB vector per source and
    * still answers p25/p50/p75/p90/p99 brackets with the exact rank
    * guarantee — the per-source length-distribution row a curation
    * pipeline trends per crawl (truncation regressions, boilerplate
    * floods, a source suddenly shipping fragments all move these
    * quantiles before they move the mean). */
  def doclenQuantilesBySource(spark: SparkSession, dir: String,
      s: Int = graft.functions.Kernels.QSketchS,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): DataFrame = {
    val sk = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"))
      .groupBy("source")
      .agg(expr(s"graft_qsketch_s(n_chars, $s)").as("regs"),
        count(lit(1)).as("n")).cache()
    qReadout(sk, "regs", Seq("source"), s, qPms)
  }

  def doclenQuantilesBySourceSqlFor(s: Int,
      qPms: Seq[Int] = graft.functions.Kernels.QuantileGridPm): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql}
    s"""
    WITH c AS (SELECT source, n_chars FROM documents),
    b AS (
      SELECT source, ${qsketchBucketSql("n_chars", s)} AS bucket FROM c),
    h AS (SELECT source, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT source, bucket, cnt,
        CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bucket)
          AS BIGINT) AS n_thru
      FROM h),
    tot AS (SELECT source, count(*) AS n FROM c GROUP BY 1),
    grid AS (
      SELECT source, CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([${qPms.mkString(", ")}]) AS q_pm), tot),
    pick AS (
      SELECT g.source, q_pm, n, r, MIN(bucket) AS bucket
      FROM grid g JOIN cum
        ON cum.source = g.source AND cum.n_thru >= g.r
      GROUP BY 1, 2, 3, 4)
    SELECT p.source, p.q_pm, p.n, p.r,
      ${qsketchLowerSql("p.bucket", s)} AS est_lo,
      ${qsketchLowerSql("(p.bucket + 1)", s)} AS est_hi,
      cum.n_thru - cum.cnt AS n_below, cum.n_thru
    FROM pick p
    JOIN cum ON cum.source = p.source AND cum.bucket = p.bucket
    ORDER BY p.source, p.q_pm"""
  }

  lazy val doclenQuantilesBySourceSql: String =
    doclenQuantilesBySourceSqlFor(graft.functions.Kernels.QSketchS)

  /** B55's drift assembly from a per-day sketch relation — shared
    * verbatim by the inline plan and the [[SketchArtifacts]] store
    * consumer (the B51 pattern for the quantile family). */
  private[operators] def quantileDriftAssemble(sk: DataFrame,
      s: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Kernels
    def pickCols(df: DataFrame, qPm: Int, out: String): DataFrame =
      df.withColumn(s"r_$qPm", expr(s"($qPm * n + 999) div 1000"))
        .withColumn(s"b_$qPm",
          expr(Kernels.qsketchPickSparkSql("regs", s"r_$qPm")))
        .withColumn(out,
          expr(Kernels.qsketchLowerSparkSql(s"b_$qPm", s)))
    // calendar-bounded lag (one row per observed day, above the aggregate)
    val w = Window.orderBy("day_epoch")
    pickCols(pickCols(sk, 500, "p50_lo"), 900, "p90_lo")
      .select(col("day_epoch"), col("n"), col("p50_lo"), col("p90_lo"))
      .withColumn("d50", col("p50_lo") - lag("p50_lo", 1).over(w))
      .withColumn("d90", col("p90_lo") - lag("p90_lo", 1).over(w))
      .orderBy("day_epoch")
  }

  /** B55: `q_value_quantile_drift` — the quantile sketch's PRODUCTION
    * CONSUMER (the B50/B51 pattern applied to the third sketch family):
    * day-over-day value-distribution drift read from PER-DAY quantile
    * sketches alone — per day the median and p90 value (bucket lower
    * bounds, ≤ 2^−s relative) plus their deltas against the previous
    * day. At 100 TB each day's ingest leaves a 29 KiB sketch behind
    * ([[SketchArtifacts]] persists them, byte-equality pinned) and ANY
    * later drift question is a calendar-row readout — no fact re-scan;
    * the exact twin re-sorts a day of values per cell. A p50 step says
    * the typical value moved; p90-only movement says the tail did — the
    * monitoring row a pricing/anomaly pipeline trends daily.
    *
    * Exactness: the readout is the B52 integer algebra as a higher-order
    * fold per day row (the D36 device); deltas are long subtraction; the
    * lag window orders one row per calendar day above the aggregate. */
  def valueQuantileDrift(spark: SparkSession, dir: String,
      s: Int = graft.functions.Kernels.QSketchS): DataFrame = {
    quantileDriftAssemble(dayValueSketches(spark, dir, s), s)
  }

  def valueQuantileDriftSqlFor(s: Int): String = {
    import graft.functions.Kernels.{qsketchBucketSql, qsketchLowerSql}
    s"""
    WITH c AS (
      SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day_epoch,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT day_epoch, ${qsketchBucketSql("cents", s)} AS bucket FROM c),
    h AS (SELECT day_epoch, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT day_epoch, bucket, cnt,
        CAST(SUM(cnt) OVER (PARTITION BY day_epoch ORDER BY bucket)
          AS BIGINT) AS n_thru
      FROM h),
    tot AS (SELECT day_epoch, count(*) AS n FROM c GROUP BY 1),
    grid AS (
      SELECT day_epoch, CAST(q_pm AS BIGINT) AS q_pm, n,
        (q_pm * n + 999) // 1000 AS r
      FROM (SELECT unnest([500, 900]) AS q_pm), tot),
    pick AS (
      SELECT g.day_epoch, g.q_pm, g.n, MIN(bucket) AS bucket
      FROM grid g
      JOIN cum ON cum.day_epoch = g.day_epoch AND cum.n_thru >= g.r
      GROUP BY 1, 2, 3),
    vals AS (
      SELECT day_epoch, n,
        MIN(CASE WHEN q_pm = 500
          THEN ${qsketchLowerSql("bucket", s)} END) AS p50_lo,
        MIN(CASE WHEN q_pm = 900
          THEN ${qsketchLowerSql("bucket", s)} END) AS p90_lo
      FROM pick GROUP BY 1, 2)
    SELECT day_epoch, n, p50_lo, p90_lo,
      p50_lo - lag(p50_lo, 1) OVER (ORDER BY day_epoch) AS d50,
      p90_lo - lag(p90_lo, 1) OVER (ORDER BY day_epoch) AS d90
    FROM vals ORDER BY day_epoch"""
  }

  lazy val valueQuantileDriftSql: String =
    valueQuantileDriftSqlFor(graft.functions.Kernels.QSketchS)

  /** B14: `q_events_paths` — each user's full event journey as an ordered
    * path string (funnel/path analysis input). One shuffle on user_id; the
    * per-user sort happens inside the aggregate on collected structs, and
    * event times are unique per user so the order — and the hash — is
    * deterministic. */
  def eventsPaths(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        concat_ws(">", expr(
          "transform(array_sort(collect_list(struct(ts_us, event_type))), x -> x.event_type)"))
          .as("path"))
      .orderBy("user_id")

  val eventsPathsSql: String = """
    SELECT user_id, count(*) AS n_events,
      string_agg(event_type, '>' ORDER BY epoch_us(ts), event_type) AS path
    FROM events GROUP BY user_id ORDER BY user_id"""

  /** B15/C19: `q_text_top_terms` — exact top-k vocabulary over the corpus.
    * Token explode partial-aggregates map-side; the global top-k is a
    * TakeOrderedAndProject (per-partition top-k, then a k-row merge on the
    * driver) — never a full sort of the vocabulary. Ties broken by token so
    * the cut is deterministic. */
  def topTerms(spark: SparkSession, dir: String, k: Int = TopTermsK): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Top-k cut for B15 — shared by operator and oracle. */
  val TopTermsK: Int = 100

  val topTermsSql: String = s"""
    SELECT token, count(*) AS n
    FROM (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents)
    WHERE length(token) > 0
    GROUP BY token ORDER BY n DESC, token LIMIT $TopTermsK"""
}
