package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact.{cents, centsToUnits}
import graft.sources.Tables

/** User-journey analytics over the event stream and order history
  * (SURVEY.md §2 B22-B23): staged funnel conversion and cohort retention —
  * the product-analytics queries the reference's BigQuery surface would
  * serve (documento_venta per-customer history, scheduler event audit:
  * /root/reference/app/db/bigquery_client.py:100-137,
  * app/api/scheduler_endpoints.py).
  *
  * Scale design (100 TB): both operators shuffle ONCE on their entity key
  * (user_id resp. o_custkey); the staged-minimum windows and the first-order
  * cohort run as whole-partition frames over that single exchange, and the
  * final roll-ups aggregate tiny (cohort, stage) keyspaces with map-side
  * partials. No window carries an ORDER BY frame, so no per-row running
  * state; nothing is ever broadcast or collected.
  */
object Journeys {

  /** B22: staged funnel — view → click-after-view → purchase-after-click
    * per user, rolled up into daily cohorts of the user's first view.
    *
    * Stage timestamps are *sequenced* conditional minima: the first click
    * at-or-after the first view, then the first purchase at-or-after that
    * click — three whole-partition window passes over ONE user_id exchange
    * (same partitioning, Catalyst plans a single Exchange). Event time is
    * integer micros ([[Tables.events]] nanos div 1000 — matches DuckDB's
    * µs-truncated read of TIMESTAMP_NS parquet). Conversion rates are one
    * double division per cohort row; a zero-click cohort yields NULL
    * purchase_rate on both engines rather than an engine-specific ±inf. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
    val staged = ev
      .withColumn("first_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(wu))
      .withColumn("first_click",
        min(when(col("event_type") === "click" &&
          col("ts_us") >= col("first_view"), col("ts_us"))).over(wu))
      .withColumn("first_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts_us") >= col("first_click"), col("ts_us"))).over(wu))
    val users = staged.groupBy("user_id").agg(
        min("first_view").as("first_view"),
        min("first_click").as("first_click"),
        min("first_purchase").as("first_purchase"))
      .filter(col("first_view").isNotNull)
    users
      .withColumn("cohort_day", expr("first_view div 86400000000"))
      .groupBy("cohort_day")
      .agg(count(col("first_view")).as("n_view_users"),
        count(col("first_click")).as("n_click_users"),
        count(col("first_purchase")).as("n_purchase_users"))
      .withColumn("click_rate",
        col("n_click_users").cast("double") / col("n_view_users").cast("double"))
      .withColumn("purchase_rate", when(col("n_click_users") > 0,
        col("n_purchase_users").cast("double") / col("n_click_users").cast("double")))
      .orderBy("cohort_day")
  }

  val funnelConversionSql: String = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
    v AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
        OVER (PARTITION BY user_id) AS first_view FROM e),
    c AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us >= first_view
        THEN ts_us END) OVER (PARTITION BY user_id) AS first_click FROM v),
    p AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us >= first_click
        THEN ts_us END) OVER (PARTITION BY user_id) AS first_purchase FROM c),
    u AS (
      SELECT user_id, MIN(first_view) AS first_view,
             MIN(first_click) AS first_click,
             MIN(first_purchase) AS first_purchase
      FROM p GROUP BY 1),
    f AS (
      SELECT *, first_view // 86400000000 AS cohort_day
      FROM u WHERE first_view IS NOT NULL)
    SELECT cohort_day,
      COUNT(first_view) AS n_view_users,
      COUNT(first_click) AS n_click_users,
      COUNT(first_purchase) AS n_purchase_users,
      CAST(COUNT(first_click) AS DOUBLE) / CAST(COUNT(first_view) AS DOUBLE) AS click_rate,
      CASE WHEN COUNT(first_click) > 0
           THEN CAST(COUNT(first_purchase) AS DOUBLE) / CAST(COUNT(first_click) AS DOUBLE)
      END AS purchase_rate
    FROM f GROUP BY cohort_day ORDER BY cohort_day"""

  /** B23: cohort retention — customers bucketed by their first-order month
    * (cohort), counted once per (cohort, months-since-cohort) cell: the
    * classic retention matrix over the documento_venta history. The month
    * index is exact integer arithmetic (year·12 + month) so cross-engine
    * equality never touches date intervals; the per-customer distinct
    * collapses on the same custkey exchange the cohort window built. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("ym"))
    val active = o
      .withColumn("cohort_ym", min("ym").over(Window.partitionBy("o_custkey")))
      .select(col("o_custkey"), col("cohort_ym"),
        (col("ym") - col("cohort_ym")).as("months_since"))
      .distinct()
    active.groupBy("cohort_ym", "months_since")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("cohort_ym", "months_since")
  }

  val cohortRetentionSql: String = """
    WITH o AS (
      SELECT o_custkey,
        CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym
      FROM orders),
    w AS (
      SELECT *, MIN(ym) OVER (PARTITION BY o_custkey) AS cohort_ym FROM o),
    d AS (
      SELECT DISTINCT o_custkey, cohort_ym, ym - cohort_ym AS months_since
      FROM w)
    SELECT cohort_ym, months_since, COUNT(*) AS n_customers
    FROM d GROUP BY 1, 2 ORDER BY 1, 2"""

  /** B38: `q_cohort_ltv` — the lifetime-value curve per acquisition cohort:
    * cumulative revenue per cohort customer by months-since-first-order —
    * the payback chart next to B23's retention matrix (retention counts
    * who comes back; LTV counts what they're worth).
    *
    * Exactness: revenue accumulates in integer cents along the cumulative
    * window; cohort size is the month-0 DISTINCT customer count; the
    * per-customer LTV is one final division.
    *
    * Scale: ONE custkey exchange serves both the cohort-month window and
    * the per-(cohort, month) roll-up feeding it (same reuse as B23); the
    * cumulative window then runs over the ≤ months² (cohort, k) grid,
    * never raw orders. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    // collapse to customer-months FIRST (partial-agg shuffle), window the
    // collapsed relation, and cache it: the month grid AND the cohort-size
    // count both read this bounded (customers × months) relation — without
    // the cache the cohort-size branch re-scans orders and repeats the
    // custkey window (seen in the executed plan; scanLeaves-guarded)
    val cm = Caches.keep(Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("ym"),
        cents(col("o_totalprice")).as("total_c"))
      .groupBy("o_custkey", "ym").agg(sum("total_c").as("rev_c"))
      .withColumn("cohort_ym", min("ym").over(Window.partitionBy("o_custkey"))))
    val cohortSize = cm.filter(col("ym") === col("cohort_ym"))
      .groupBy(col("cohort_ym").as("cs_ym"))
      .agg(count(lit(1)).as("cohort_n"))
    val grid = cm.groupBy(col("cohort_ym"),
        (col("ym") - col("cohort_ym")).as("months_since"))
      .agg(sum("rev_c").as("rev_c"))
    val wCum = Window.partitionBy("cohort_ym").orderBy("months_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_rev_c", sum("rev_c").over(wCum))
      .join(cohortSize, col("cohort_ym") === col("cs_ym"))
      .select(col("cohort_ym"), col("months_since"), col("cohort_n"),
        centsToUnits(col("rev_c")).as("revenue"),
        centsToUnits(col("cum_rev_c")).as("cum_revenue"),
        (col("cum_rev_c").cast("double") / col("cohort_n").cast("double") /
          lit(100.0)).as("ltv_per_customer"))
      .orderBy("cohort_ym", "months_since")
  }

  val cohortLtvSql: String = """
    WITH o AS (
      SELECT o_custkey,
        CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_c
      FROM orders),
    w AS (
      SELECT *, MIN(ym) OVER (PARTITION BY o_custkey) AS cohort_ym FROM o),
    cs AS (
      SELECT cohort_ym AS cs_ym, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS cohort_n
      FROM w WHERE ym = cohort_ym GROUP BY 1),
    grid AS (
      SELECT cohort_ym, ym - cohort_ym AS months_since,
        CAST(SUM(total_c) AS BIGINT) AS rev_c
      FROM w GROUP BY 1, 2),
    c AS (
      SELECT *, CAST(SUM(rev_c) OVER (PARTITION BY cohort_ym
        ORDER BY months_since
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_c
      FROM grid)
    SELECT cohort_ym, months_since, cohort_n,
      CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
      CAST(cum_rev_c AS DOUBLE) / 100.0 AS cum_revenue,
      CAST(cum_rev_c AS DOUBLE) / CAST(cohort_n AS DOUBLE) / 100.0 AS ltv_per_customer
    FROM c JOIN cs ON cohort_ym = cs_ym
    ORDER BY cohort_ym, months_since"""
}
