package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact._
import graft.sources.Tables

/** Analytics query surface — the BigQuery-side capabilities of the
  * reference (star-schema reporting over cliente/producto/documento_venta/
  * detalle_documento, /root/reference/app/db/bigquery_client.py:100-137)
  * re-expressed as declarative Spark plans.
  *
  * Scale notes (100 TB):
  *  - only the fixed-size dims (region: 5 rows, nation: 25 rows) are force-
  *    broadcast; customer/part/supplier scale linearly with SF (customer =
  *    SF x 150k rows — multi-GB at 100 TB), so those joins carry no hint and
  *    AQE picks broadcast-hash at small SF or sort-merge at scale;
  *  - fact⋈fact joins shuffle once on the join key and aggregate partially
  *    before the exchange (all aggs are sum/count of longs);
  *  - every query filters/selects straight off the scan so pushdown and
  *    column pruning reach parquet.
  */
object Analytics {

  /** B1: pricing summary (TPC-H Q1 flavor). Narrow scan -> partial agg ->
    * single shuffle on (returnflag, linestatus): optimal at any scale. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"),
        cents(col("l_discount")).as("disc_pct"),
        cents(col("l_tax")).as("tax_pct"))
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("qty_c")).as("sum_qty_c"),
        sum(col("price_c")).as("sum_price_c"),
        sum(discounted(col("price_c"), col("disc_pct"))).as("sum_disc_u"),
        sum(charged(col("price_c"), col("disc_pct"), col("tax_pct"))).as("sum_charge_u"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        centsToUnits(col("sum_qty_c")).as("sum_qty"),
        centsToUnits(col("sum_price_c")).as("sum_base_price"),
        (col("sum_disc_u").cast("double") / lit(10000.0)).as("sum_disc_price"),
        (col("sum_charge_u").cast("double") / lit(1000000.0)).as("sum_charge"),
        avgFromCents(col("sum_qty_c"), col("count_order")).as("avg_qty"),
        avgFromCents(col("sum_price_c"), col("count_order")).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** B1 oracle — mirrors the integer-cents pipeline exactly. */
  val pricingSummarySql: String = """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(qty_c) AS DOUBLE) / 100.0 AS sum_qty,
      CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_base_price,
      CAST(SUM(price_c * (100 - disc_pct)) AS DOUBLE) / 10000.0 AS sum_disc_price,
      CAST(SUM(price_c * (100 - disc_pct) * (100 + tax_pct)) AS DOUBLE) / 1000000.0 AS sum_charge,
      CAST(SUM(qty_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_qty,
      CAST(SUM(price_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_price,
      COUNT(*) AS count_order
    FROM (
      SELECT l_returnflag, l_linestatus,
        CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
        CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
        CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_pct
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** B2: top unshipped orders (TPC-H Q3 flavor). customer scales with SF so
    * its join is unhinted (AQE chooses); lineitem⋈orders shuffles once on
    * orderkey; exact cents revenue makes the top-10 ranking deterministic. */
  def topUnshipped(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"),
        discounted(cents(col("l_extendedprice")), cents(col("l_discount"))).as("rev_u"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_u")).as("rev_u"))
      .select(col("l_orderkey"),
        (col("rev_u").cast("double") / lit(10000.0)).as("revenue"),
        col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val topUnshippedSql: String = """
    SELECT l_orderkey,
      CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
      CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10"""

  /** B3: revenue by nation (TPC-H Q5 flavor). Only region/nation (fixed
    * size) are force-broadcast; customer/supplier joins are unhinted so AQE
    * picks the strategy. Big shuffles: lineitem⋈orders on orderkey, then
    * the final small agg. */
  def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_nationkey").as("cn_key"), col("n_name"))
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        discounted(cents(col("l_extendedprice")), cents(col("l_discount"))).as("rev_u"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("cn_key"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_u")).as("rev_u"), count(lit(1)).as("n_lines"))
      .select(col("n_name"),
        (col("rev_u").cast("double") / lit(10000.0)).as("revenue"), col("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val nationRevenueSql: String = """
    SELECT n_name,
      CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
      COUNT(*) AS n_lines
    FROM region JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  /** B4: monthly sales roll-up — the reference's Sheets "reporte ventas"
    * analog; one shuffle on the (truncated) month key. */
  def salesByMonth(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(date_trunc("month", col("o_orderdate")).cast("date").as("mes"),
        cents(col("o_totalprice")).as("total_c"))
      .groupBy("mes")
      .agg(count(lit(1)).as("n_documentos"),
        sum(col("total_c")).as("total_c"))
      .select(col("mes"), col("n_documentos"),
        centsToUnits(col("total_c")).as("monto_total"),
        avgFromCents(col("total_c"), col("n_documentos")).as("ticket_promedio"))
      .orderBy("mes")

  val salesByMonthSql: String = """
    SELECT mes, COUNT(*) AS n_documentos,
      CAST(SUM(total_c) AS DOUBLE) / 100.0 AS monto_total,
      CAST(SUM(total_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS ticket_promedio
    FROM (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mes,
            CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_c FROM orders)
    GROUP BY mes ORDER BY mes"""

  /** B30: `q_sales_forecast_features` — the lag/rolling feature matrix a
    * demand-forecasting model trains on: per month, revenue plus lag-1,
    * lag-12 (year-over-year), a trailing 3-month sum, and the month-over-
    * month delta. All features are windows over the MONTHLY aggregate —
    * calendar-bounded, a few thousand rows a century — so the window
    * partition is trivially bounded no matter how many raw orders feed it;
    * the raw scan contributes one partial-agg shuffle. Exact integer cents
    * throughout; divisions happen once per emitted column. */
  def salesForecastFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("mes")
    val monthly = Tables.orders(spark, dir)
      .select(date_trunc("month", col("o_orderdate")).cast("date").as("mes"),
        cents(col("o_totalprice")).as("total_c"))
      .groupBy("mes").agg(sum("total_c").as("rev_c"))
    monthly
      .withColumn("lag1_c", lag("rev_c", 1).over(w))
      .withColumn("lag12_c", lag("rev_c", 12).over(w))
      .withColumn("roll3_c", sum("rev_c").over(w.rowsBetween(-2, 0)))
      .select(col("mes"),
        centsToUnits(col("rev_c")).as("ingresos"),
        centsToUnits(col("lag1_c")).as("lag_1m"),
        centsToUnits(col("lag12_c")).as("lag_12m"),
        centsToUnits(col("roll3_c")).as("suma_movil_3m"),
        centsToUnits(col("rev_c") - col("lag1_c")).as("delta_mensual"))
      .orderBy("mes")
  }

  val salesForecastFeaturesSql: String = """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mes,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1)
    SELECT mes,
      CAST(rev_c AS DOUBLE) / 100.0 AS ingresos,
      CAST(lag(rev_c, 1) OVER (ORDER BY mes) AS DOUBLE) / 100.0 AS lag_1m,
      CAST(lag(rev_c, 12) OVER (ORDER BY mes) AS DOUBLE) / 100.0 AS lag_12m,
      CAST(SUM(rev_c) OVER (ORDER BY mes
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        AS suma_movil_3m,
      CAST(rev_c - lag(rev_c, 1) OVER (ORDER BY mes) AS DOUBLE) / 100.0
        AS delta_mensual
    FROM monthly ORDER BY mes"""

  /** B31: `q_events_markov` — first-order event-type transition matrix
    * (the Markov chain a journey model estimates): per user, consecutive
    * event pairs ordered by time feed exact integer transition counts and
    * P(next|cur) = c(cur,next)/c(cur,·). The head total is DERIVED from
    * the transition sums (single source of truth, same discipline as the
    * C30 bigram LM). ONE user_id shuffle orders each user's events (the
    * lead window); the (cur, next) aggregate and the tiny cur-total window
    * ride type-cardinality-bounded keys. Deterministic because per-user
    * event times are unique in this corpus. */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy("ts")
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type").as("cur"))
      .withColumn("next", lead("cur", 1).over(wu))
      .filter(col("next").isNotNull)
      .groupBy("cur", "next").agg(count(lit(1)).as("c_trans"))
    trans
      .withColumn("c_cur", sum("c_trans").over(Window.partitionBy("cur")))
      .withColumn("p_trans",
        col("c_trans").cast("double") / col("c_cur").cast("double"))
      .select("cur", "next", "c_trans", "c_cur", "p_trans")
      .orderBy("cur", "next")
  }

  val eventsMarkovSql: String = """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
        lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts) AS next
      FROM events),
    trans AS (
      SELECT cur, next, count(*) AS c_trans
      FROM seq WHERE next IS NOT NULL GROUP BY 1, 2)
    SELECT cur, next, c_trans,
      CAST(SUM(c_trans) OVER (PARTITION BY cur) AS BIGINT) AS c_cur,
      CAST(c_trans AS DOUBLE) /
        CAST(SUM(c_trans) OVER (PARTITION BY cur) AS DOUBLE) AS p_trans
    FROM trans ORDER BY cur, next"""

  /** B5: top products per brand — revenue rank window over the exact cents
    * aggregate (deterministic with partkey tie-break). part scales with SF
    * so the join is unhinted (AQE chooses). */
  def topProducts(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        discounted(cents(col("l_extendedprice")), cents(col("l_discount"))).as("rev_u"))
      .groupBy("l_partkey").agg(sum(col("rev_u")).as("rev_u"))
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_name")
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("rev_u").desc, col("p_partkey"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .withColumn("rango", row_number().over(w).cast("long"))
      .filter(col("rango") <= k)
      .select(col("p_brand"), col("rango"), col("p_partkey"), col("p_name"),
        (col("rev_u").cast("double") / lit(10000.0)).as("revenue"))
      .orderBy("p_brand", "rango")
  }

  val topProductsSql: String = """
    SELECT p_brand, rango, p_partkey, p_name,
      CAST(rev_u AS DOUBLE) / 10000.0 AS revenue
    FROM (
      SELECT p_brand, p_partkey, p_name, rev_u,
        row_number() OVER (PARTITION BY p_brand ORDER BY rev_u DESC, p_partkey) AS rango
      FROM (
        SELECT l_partkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_u
        FROM lineitem GROUP BY l_partkey) r
      JOIN part ON l_partkey = p_partkey)
    WHERE rango <= 3
    ORDER BY p_brand, rango"""

  /** B6: per-customer stats — single shuffle on custkey; the customer join
    * is unhinted (customer scales with SF, AQE chooses the strategy). */
  def customerStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), cents(col("o_totalprice")).as("total_c"),
        col("o_orderdate").cast("date").as("d"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_documentos"), sum(col("total_c")).as("total_c"),
        min(col("d")).as("primera_compra"), max(col("d")).as("ultima_compra"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_mktsegment")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").as("id_cliente"), col("c_name").as("nombre"),
        col("c_mktsegment").as("segmento"), col("n_documentos"),
        centsToUnits(col("total_c")).as("monto_total"),
        avgFromCents(col("total_c"), col("n_documentos")).as("ticket_promedio"),
        col("primera_compra"), col("ultima_compra"))
      .orderBy("id_cliente")
  }

  val customerStatsSql: String = """
    SELECT c_custkey AS id_cliente, c_name AS nombre, c_mktsegment AS segmento,
      n_documentos,
      CAST(total_c AS DOUBLE) / 100.0 AS monto_total,
      CAST(total_c AS DOUBLE) / CAST(n_documentos AS DOUBLE) / 100.0 AS ticket_promedio,
      primera_compra, ultima_compra
    FROM (
      SELECT o_custkey, COUNT(*) AS n_documentos,
        SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_c,
        MIN(CAST(o_orderdate AS DATE)) AS primera_compra,
        MAX(CAST(o_orderdate AS DATE)) AS ultima_compra
      FROM orders GROUP BY o_custkey) a
    JOIN customer ON o_custkey = c_custkey
    ORDER BY id_cliente"""

  /** B7: margin analysis — the reference's negative-margin warning
    * (etl_service.py:86-88) as a brand-level aggregate. Per-row margin is
    * converted to exact cents before the order-independent sum. */
  def marginAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"),
      (col("p_retailprice") * lit(0.65)).as("unit_cost"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round((col("unit_price") - col("unit_cost")) * lit(100)).cast("long").as("margin_c"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lineas"),
        sum(when(col("margin_c") < 0, 1L).otherwise(0L)).as("n_margen_negativo"),
        sum(col("margin_c")).as("margin_c"))
      .select(col("p_brand"), col("n_lineas"), col("n_margen_negativo"),
        centsToUnits(col("margin_c")).as("margen_total"))
      .orderBy("p_brand")
  }

  val marginAnalysisSql: String = """
    SELECT p_brand, COUNT(*) AS n_lineas,
      CAST(SUM(CASE WHEN margin_c < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_margen_negativo,
      CAST(SUM(margin_c) AS DOUBLE) / 100.0 AS margen_total
    FROM (
      SELECT p_brand,
        CAST(ROUND((l_extendedprice / l_quantity - p_retailprice * 0.65) * 100) AS BIGINT) AS margin_c
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_quantity > 0)
    GROUP BY p_brand ORDER BY p_brand"""

  /** B8: hourly event roll-up (batch twin of streaming.EventStream).
    * Event time stays in integer nanos (Tables.events note); the hour
    * bucket is an exact integer division. */
  def eventsWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("ts div 3600000000000").as("hora_epoch"),
        col("event_type"), cents(col("value")).as("val_c"))
      .groupBy("hora_epoch", "event_type")
      .agg(count(lit(1)).as("n_eventos"), sum(col("val_c")).as("val_c"))
      .select(col("hora_epoch"), col("event_type"), col("n_eventos"),
        centsToUnits(col("val_c")).as("valor_total"))
      .orderBy("hora_epoch", "event_type")

  val eventsWindowAggSql: String = """
    SELECT hora_epoch, event_type, COUNT(*) AS n_eventos,
      CAST(SUM(val_c) AS DOUBLE) / 100.0 AS valor_total
    FROM (SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hora_epoch,
            event_type, CAST(ROUND(value * 100) AS BIGINT) AS val_c
          FROM events)
    GROUP BY hora_epoch, event_type
    ORDER BY hora_epoch, event_type"""

  /** B28: `q_events_gapfill` — zero-filled hourly event counts per type: the
    * gap-fill every time-series chart/model needs (a missing hour must read
    * as 0, not as an absent row). Each type's span [min hour, max hour] is
    * densified via an integer `sequence` explode and left-joined back onto
    * the observed counts; `relleno` marks synthesized rows.
    *
    * Scale: the raw scan partial-aggregates map-side into at most
    * types × hours rows — bounded and tiny (a decade of hours is <90k per
    * type) — so the explode and the left join run over post-agg cardinality,
    * never over raw events; AQE broadcasts whichever side it likes. */
  def eventsGapfill(spark: SparkSession, dir: String): DataFrame = {
    // cache(): hourly feeds the span aggregate AND the left join, and
    // per-branch pruning defeats ReuseExchange — without it the raw events
    // scan runs twice. The cached relation is post-agg (≤ types × hours
    // rows), bounded at any event volume.
    val hourly = Caches.keep(Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hora_epoch"))
      .groupBy("event_type", "hora_epoch").agg(count(lit(1)).as("n")))
    val spans = hourly.groupBy("event_type")
      .agg(min("hora_epoch").as("h0"), max("hora_epoch").as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hora_epoch"))
    spans.join(hourly, Seq("event_type", "hora_epoch"), "left")
      .select(col("event_type"), col("hora_epoch"),
        coalesce(col("n"), lit(0L)).as("n_eventos"),
        col("n").isNull.as("relleno"))
      .orderBy("event_type", "hora_epoch")
  }

  val eventsGapfillSql: String = """
    WITH hourly AS (
      SELECT event_type,
        CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hora_epoch,
        count(*) AS n
      FROM events GROUP BY 1, 2),
    sp AS (
      SELECT event_type, min(hora_epoch) AS h0, max(hora_epoch) AS h1
      FROM hourly GROUP BY 1),
    spans AS (
      SELECT event_type, unnest(range(h0, h1 + 1)) AS hora_epoch FROM sp)
    SELECT s.event_type, s.hora_epoch,
      CAST(coalesce(h.n, 0) AS BIGINT) AS n_eventos,
      h.n IS NULL AS relleno
    FROM spans s LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.hora_epoch = h.hora_epoch
    ORDER BY s.event_type, s.hora_epoch"""

  /** B29: `q_orders_backlog` — open-order aging report: non-finalized
    * orders bucketed by days outstanding at the audit instant (the
    * dataset's latest order date, so the query is self-contained), with
    * exact integer-cents amounts per (status, bucket). The ops-side twin
    * of the reference's scheduler monitoring: what's stuck, how old, how
    * much money it holds.
    *
    * Plan: the status filter pushes into BOTH scans; the 1-row audit date
    * is a partial-agged broadcast (a global max-window would serialize the
    * table through one partition); bucketing is codegen'd date arithmetic;
    * one (status, bucket) shuffle over ≤ statuses × 4 groups. */
  def ordersBacklog(spark: SparkSession, dir: String): DataFrame = {
    def open = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") =!= "F")
      .select(col("o_orderstatus"), col("o_orderdate").cast("date").as("d"),
        cents(col("o_totalprice")).as("monto_c"))
    val audit = open.agg(max("d").as("fecha_auditoria"))
    open.crossJoin(broadcast(audit))
      .withColumn("dias", datediff(col("fecha_auditoria"), col("d")))
      .withColumn("tramo",
        when(col("dias") <= 30, "0-30")
          .when(col("dias") <= 90, "31-90")
          .when(col("dias") <= 365, "91-365")
          .otherwise(">365"))
      .groupBy(col("o_orderstatus").as("estado"), col("tramo"))
      .agg(count(lit(1)).as("n_pedidos"), sum("monto_c").as("monto_c"))
      .select(col("estado"), col("tramo"), col("n_pedidos"),
        centsToUnits(col("monto_c")).as("monto_total"))
      .orderBy("estado", "tramo")
  }

  val ordersBacklogSql: String = """
    WITH o AS (
      SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS d,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS monto_c
      FROM orders WHERE o_orderstatus <> 'F'),
    a AS (SELECT MAX(d) AS fecha_auditoria FROM o),
    b AS (
      SELECT o_orderstatus, date_diff('day', d, fecha_auditoria) AS dias,
             monto_c
      FROM o, a)
    SELECT o_orderstatus AS estado,
      CASE WHEN dias <= 30 THEN '0-30' WHEN dias <= 90 THEN '31-90'
           WHEN dias <= 365 THEN '91-365' ELSE '>365' END AS tramo,
      COUNT(*) AS n_pedidos,
      CAST(SUM(monto_c) AS DOUBLE) / 100.0 AS monto_total
    FROM b GROUP BY 1, 2
    ORDER BY estado, tramo"""

  /** B25 slide width (µs) and slides per window — 15-minute slide, 1-hour
    * window (4 overlapping slides). */
  val SlideUs: Long = 900000000L
  val SlidesPerWindow: Int = 4

  /** B25: `q_events_sliding_window` — sliding-window aggregation (1-hour
    * windows every 15 minutes), the overlapping generalization of B8's
    * tumbling hour. Implemented by exact integer bucket math instead of the
    * engine-specific `window()` helper: each event lands in slide bucket
    * `ts_us div slide` and contributes to the [[SlidesPerWindow]] windows
    * starting at that bucket and the 3 before it — a bounded explode (×4),
    * identical arithmetic in both engines, then one (window, type) shuffle
    * with map-side partial aggregation. At 100 TB the explode factor stays
    * the constant window/slide ratio and state is O(active windows), which
    * is also exactly how the streaming twin's state store scales. */
  def eventsSlidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("ts div 1000").as("ts_us"), col("event_type"),
        cents(col("value")).as("val_c"))
      .withColumn("b", expr(s"ts_us div $SlideUs"))
      .select(col("event_type"), col("val_c"),
        explode(expr(s"sequence(b - ${SlidesPerWindow - 1}, b)")).as("w"))
      .groupBy("w", "event_type")
      .agg(count(lit(1)).as("n_eventos"), sum(col("val_c")).as("val_c"))
      .select((col("w") * SlideUs).as("win_start_us"), col("event_type"),
        col("n_eventos"), centsToUnits(col("val_c")).as("valor_total"))
      .orderBy("win_start_us", "event_type")

  val eventsSlidingWindowSql: String = s"""
    SELECT w * $SlideUs AS win_start_us, event_type, COUNT(*) AS n_eventos,
      CAST(SUM(val_c) AS DOUBLE) / 100.0 AS valor_total
    FROM (
      SELECT event_type, val_c, unnest(range(b - ${SlidesPerWindow - 1}, b + 1)) AS w
      FROM (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS val_c,
          epoch_us(ts) // $SlideUs AS b
        FROM events))
    GROUP BY w, event_type
    ORDER BY win_start_us, event_type"""

  /** B27 top-k pair count. */
  val AffinityTopK: Int = 50

  /** B27: `q_part_affinity` — association-rule mining over order baskets:
    * part pairs bought in the same order, ranked by support (number of
    * orders), with confidence (support / orders containing part_a) and
    * lift (support·N / (n_a·n_b)) — all from EXACT integer counts, one
    * double division each, identical expression trees on both engines.
    * The self-join keys on l_orderkey, so pair expansion is C(items, 2)
    * WITHIN one order (TPC-H orders hold ≤ 7 lines) — bounded per key,
    * never catalog²; per-order parts dedup first so support counts orders,
    * not line pairs. Per-part order counts join back onto the k-bounded
    * pair set (part-keyed, unhinted — AQE picks). Top-k goes through a
    * deterministic full tie-break so the cut is stable. */
  def partAffinity(spark: SparkSession, dir: String): DataFrame = {
    // Baskets, not a self-join: ONE orderkey shuffle builds each order's
    // sorted distinct part set (collect_set dedups in-aggregate), and the
    // in-basket pair expansion is a narrow array transform — basket size is
    // bounded by order size, so the explode factor is k(k−1)/2 over a SMALL
    // k, never catalog². The self-join alternative either broadcasts the
    // fact-scaled basket relation (OOM at 100 TB; measured slower + 3×
    // noisier locally) or shuffles it twice. A pathological mega-basket
    // would need a per-order part cap before expansion — the natural guard
    // at real scale.
    // cache(): baskets feed three consumers (pairs, per-part counts, the
    // order count) and per-branch pruning defeats ReuseExchange.
    val baskets = Caches.keep(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set("l_partkey")).as("parts")))
    val perPart = baskets.select(explode(col("parts")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_part"))
    val nOrders = baskets.select(count(lit(1)).as("n_orders"))
    val pairs = baskets.select(explode(expr(
        """flatten(transform(parts, (x, i) ->
             transform(slice(parts, i + 2, size(parts)), y ->
               struct(x AS part_a, y AS part_b))))""")).as("pr"))
      .select(col("pr.part_a"), col("pr.part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(AffinityTopK)
    pairs
      .join(perPart.withColumnRenamed("l_partkey", "part_a")
        .withColumnRenamed("n_part", "n_a"), "part_a")
      .join(perPart.withColumnRenamed("l_partkey", "part_b")
        .withColumnRenamed("n_part", "n_b"), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("support"),
        (col("support").cast("double") / col("n_a").cast("double")).as("confianza"),
        (col("support").cast("double") * col("n_orders").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
  }

  val partAffinitySql: String = s"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    per_part AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      ORDER BY support DESC, part_a, part_b
      LIMIT $AffinityTopK)
    SELECT part_a, part_b, support,
      CAST(support AS DOUBLE) / CAST(pa.n_part AS DOUBLE) AS confianza,
      CAST(support AS DOUBLE) * CAST(n.n_orders AS DOUBLE) /
        (CAST(pa.n_part AS DOUBLE) * CAST(pb.n_part AS DOUBLE)) AS lift
    FROM pairs
      JOIN per_part pa ON pairs.part_a = pa.l_partkey
      JOIN per_part pb ON pairs.part_b = pb.l_partkey, n
    ORDER BY support DESC, part_a, part_b"""

  /** B26 anomaly threshold on |z|. */
  val AnomalyZ: Double = 2.0

  /** B26: `q_events_anomaly` — hourly event-rate anomaly detection per
    * event type (the monitoring query the reference's scheduler loop
    * implies: flag hours whose event count deviates from that type's
    * baseline). Every statistical moment is derived from EXACT integer
    * aggregates — Σn and Σn² over hourly counts — so mean, variance and
    * z-score are identical doubles on both engines; a naive
    * `stddev(count)` would fold doubles in partition order and
    * hash-mismatch. Plan: ONE events scan, one (hour, type) partial-agg
    * shuffle, then per-type moments as whole-partition windows over the
    * bounded hourly rows (hours per type is calendar-bounded);
    * zero-variance types yield NULL z instead of ±inf. */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(expr("ts div 3600000000000").as("hora_epoch"), col("event_type"))
      .groupBy("hora_epoch", "event_type")
      .agg(count(lit(1)).as("n"))
    // per-type moments as whole-partition windows over the hourly rows —
    // ONE events scan (a join against a separate stats aggregate re-scans
    // the fact table); the window partition is hours-per-type, bounded by
    // the calendar, never by event volume
    val wt = Window.partitionBy("event_type")
    val withStats = hourly
      .withColumn("n_horas", count(lit(1)).over(wt))
      .withColumn("sum_n", sum("n").over(wt))
      .withColumn("sum_n2", sum(col("n") * col("n")).over(wt))
    val mean = col("sum_n").cast("double") / col("n_horas").cast("double")
    val variance = col("sum_n2").cast("double") / col("n_horas").cast("double") -
      (col("sum_n").cast("double") / col("n_horas").cast("double")) *
      (col("sum_n").cast("double") / col("n_horas").cast("double"))
    withStats
      .withColumn("media_h", mean)
      .withColumn("varianza", variance)
      .withColumn("z", when(col("varianza") > 0,
        (col("n").cast("double") - col("media_h")) / sqrt(col("varianza"))))
      .withColumn("anomalo", abs(col("z")) > AnomalyZ)
      .select("event_type", "hora_epoch", "n", "media_h", "z", "anomalo")
      .orderBy("event_type", "hora_epoch")
  }

  val eventsAnomalySql: String = s"""
    WITH hourly AS (
      SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hora_epoch,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, COUNT(*) AS n_horas,
        CAST(SUM(n) AS BIGINT) AS sum_n,
        CAST(SUM(n * n) AS BIGINT) AS sum_n2
      FROM hourly GROUP BY 1),
    j AS (
      SELECT h.event_type, h.hora_epoch, h.n,
        CAST(s.sum_n AS DOUBLE) / CAST(s.n_horas AS DOUBLE) AS media_h,
        CAST(s.sum_n2 AS DOUBLE) / CAST(s.n_horas AS DOUBLE) -
          (CAST(s.sum_n AS DOUBLE) / CAST(s.n_horas AS DOUBLE)) *
          (CAST(s.sum_n AS DOUBLE) / CAST(s.n_horas AS DOUBLE)) AS varianza
      FROM hourly h JOIN stats s ON h.event_type = s.event_type)
    SELECT event_type, hora_epoch, n, media_h,
      CASE WHEN varianza > 0
           THEN (CAST(n AS DOUBLE) - media_h) / sqrt(varianza) END AS z,
      abs(CASE WHEN varianza > 0
           THEN (CAST(n AS DOUBLE) - media_h) / sqrt(varianza) END)
        > $AnomalyZ AS anomalo
    FROM j
    ORDER BY event_type, hora_epoch"""

  /** B9: gap-based sessionization (batch twin of streaming.Sessionizer).
    * One shuffle on user_id; lag + running sum over integer nanos; 30-min
    * gap threshold. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    // micros, not nanos: DuckDB truncates parquet TIMESTAMP_NS to micro
    // precision, so we match it at the source for cross-engine exactness
    val gapUs = 30L * 60 * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      // integer div: `/` on longs is double division in Spark and epoch
      // nanos (~1.7e18) exceed double's 2^53 exact integer range
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), cents(col("value")).as("val_c"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("nueva", when(col("prev_ts").isNull ||
        col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("nueva")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min(col("ts_us")).as("inicio_us"), max(col("ts_us")).as("fin_us"),
        count(lit(1)).as("n_eventos"), sum(col("val_c")).as("val_c"))
      .select(col("user_id"), col("session_idx"), col("inicio_us"), col("fin_us"),
        col("n_eventos"), centsToUnits(col("val_c")).as("valor_total"))
      .orderBy("user_id", "session_idx")
  }

  val sessionizeSql: String = """
    SELECT user_id, session_idx, MIN(ts_us) AS inicio_us, MAX(ts_us) AS fin_us,
      COUNT(*) AS n_eventos, CAST(SUM(val_c) AS DOUBLE) / 100.0 AS valor_total
    FROM (
      SELECT user_id, ts_us, val_c,
        CAST(SUM(nueva) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM (
        SELECT user_id, ts_us, event_id, val_c,
          CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS nueva
        FROM (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id,
            CAST(ROUND(value * 100) AS BIGINT) AS val_c,
            lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
          FROM events)))
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx"""

  /** B10: JSON property extraction + roll-up. Regex extraction keeps the
    * expression codegen'd and engine-portable. */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eventos"), sum(col("k")).as("suma_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Peak events-per-minute at or above which B41 flags a user. */
  val BotPeakPerMin: Long = 5L

  /** B41: `q_events_bot_detection` — abuse/bot screening over the event
    * stream: per user, total events, distinct active minutes, the PEAK
    * events-per-minute burst and the mean rate while active; users whose
    * peak hits [[BotPeakPerMin]] get flagged — the traffic-hygiene filter
    * a pipeline runs before user events feed any training signal (bot
    * sessions poison sessionization, funnels and Markov matrices alike).
    *
    * Exactness: every measure is an exact integer off integer-nano minute
    * buckets; the mean rate is one final division. Deterministic order.
    *
    * Scale: the raw scan partial-aggregates onto (user, minute) — bursts
    * collapse map-side — then one user-keyed roll-up; both shuffles carry
    * tiny long rows. The flag threshold is a constant, so no second pass
    * or join. */
  def eventsBotDetection(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 60000000000").as("minute"))
      .groupBy("user_id", "minute")
      .agg(count(lit(1)).as("n_in_min"))
      .groupBy("user_id")
      .agg(sum("n_in_min").as("n_events"),
        count(lit(1)).as("active_minutes"),
        max("n_in_min").as("peak_per_min"))
      .select(col("user_id"), col("n_events"), col("active_minutes"),
        col("peak_per_min"),
        (col("n_events").cast("double") / col("active_minutes").cast("double"))
          .as("mean_rate"),
        (col("peak_per_min") >= BotPeakPerMin).as("sospechoso"))
      .orderBy("user_id")

  val eventsBotDetectionSql: String = s"""
    WITH pm AS (
      SELECT user_id, CAST(epoch_ns(ts) // 60000000000 AS BIGINT) AS minute,
        COUNT(*) AS n_in_min
      FROM events GROUP BY 1, 2)
    SELECT user_id,
      CAST(SUM(n_in_min) AS BIGINT) AS n_events,
      COUNT(*) AS active_minutes,
      CAST(MAX(n_in_min) AS BIGINT) AS peak_per_min,
      CAST(SUM(n_in_min) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_rate,
      MAX(n_in_min) >= $BotPeakPerMin AS sospechoso
    FROM pm
    GROUP BY user_id
    ORDER BY user_id"""

  /** B40: `q_seasonality_index` — month-of-year seasonality factors: each
    * calendar month's average monthly revenue relative to the overall
    * monthly average (index 1.0 = typical month) — the multiplicative
    * decomposition factor that pairs with B30's lag features in a demand
    * forecast.
    *
    * Exactness: revenue and month counts are exact integer sums off ONE
    * (year, month) partial-agg shuffle; the index is computed from those
    * integers in a fixed double expression (per-month mean / grand mean)
    * with identical operation order in both engines. The grand totals ride
    * a 1-row broadcast join (never a global window over the grid).
    *
    * Scale: the fact scan collapses to the calendar-bounded (year, month)
    * grid first; everything after is grid-sized. */
  def seasonalityIndex(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("anio"),
        month(col("o_orderdate")).cast("long").as("mes"),
        cents(col("o_totalprice")).as("total_c"))
      .groupBy("anio", "mes")
      .agg(sum("total_c").as("rev_c"), count(lit(1)).as("n_orders"))
    val perMonth = monthly.groupBy("mes")
      .agg(sum("rev_c").as("rev_c"), sum("n_orders").as("n_orders"),
        count(lit(1)).as("n_months"))
    val totals = monthly.agg(sum("rev_c").as("t_rev"),
      count(lit(1)).as("t_months"))
    perMonth.join(broadcast(totals))
      .select(col("mes"), col("n_months"), col("n_orders"),
        centsToUnits(col("rev_c")).as("revenue"),
        ((col("rev_c").cast("double") / col("n_months").cast("double")) /
          (col("t_rev").cast("double") / col("t_months").cast("double")))
          .as("index"))
      .orderBy("mes")
  }

  val seasonalityIndexSql: String = """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS anio,
        CAST(month(o_orderdate) AS BIGINT) AS mes,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
        COUNT(*) AS n_orders
      FROM orders GROUP BY 1, 2),
    per_month AS (
      SELECT mes, CAST(SUM(rev_c) AS BIGINT) AS rev_c,
        CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        COUNT(*) AS n_months
      FROM monthly GROUP BY mes),
    totals AS (
      SELECT CAST(SUM(rev_c) AS BIGINT) AS t_rev, COUNT(*) AS t_months
      FROM monthly)
    SELECT mes, n_months, n_orders,
      CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
      (CAST(rev_c AS DOUBLE) / CAST(n_months AS DOUBLE)) /
        (CAST(t_rev AS DOUBLE) / CAST(t_months AS DOUBLE)) AS index
    FROM per_month, totals
    ORDER BY mes"""

  /** B39: `q_price_elasticity` — least-squares slope of quantity vs
    * discount per brand (how much an extra point of discount moves
    * volume): the demand-side feature a pricing model starts from,
    * computed like B26's anomaly stats — from EXACT INTEGER MOMENTS
    * (n, Σx, Σy, Σxy, Σx²) so the fold is order-independent, with the
    * classic OLS formula (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) evaluated in ONE
    * double division at the end. Zero x-variance brands → NULL slope,
    * never ±inf.
    *
    * Scale: one partial-aggregated shuffle from the fact scan onto the
    * brand key space (x = integer discount points, y = integer quantity —
    * both tiny longs); the part join attaches the brand BEFORE the roll-up
    * with AQE picking the strategy. Moment magnitudes: Σxy ≤ 10·50·rows —
    * a long holds it past 10¹⁶ rows. */
  def priceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), cents(col("l_discount")).as("x"),
        col("l_quantity").cast("long").as("y"))
      .join(Tables.part(spark, dir).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
    val m = joined.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val den = m("n") * m("sxx") - m("sx") * m("sx")
    m.select(col("p_brand"), col("n"),
        (col("sx").cast("double") / col("n").cast("double")).as("avg_disc_pct"),
        (col("sy").cast("double") / col("n").cast("double")).as("avg_qty"),
        when(den > 0, (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") / den.cast("double")).as("slope_qty_per_pct"))
      .orderBy("p_brand")
  }

  val priceElasticitySql: String = """
    WITH m AS (
      SELECT p_brand, COUNT(*) AS n,
        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM (
        SELECT p_brand,
          CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
          CAST(l_quantity AS BIGINT) AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey)
      GROUP BY p_brand)
    SELECT p_brand, n,
      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS avg_disc_pct,
      CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS avg_qty,
      CASE WHEN n * sxx - sx * sx > 0
        THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      END AS slope_qty_per_pct
    FROM m
    ORDER BY p_brand"""

  /** B37: `q_events_dau_wau` — daily/weekly active users over the event
    * stream, the engagement report every product dashboard leads with.
    * WAU(d) counts distinct users active in [d−6, d].
    *
    * Exactness: days are exact integer epoch-day indices off the nanos
    * column; both distincts are exact; the stickiness ratio is one final
    * division.
    *
    * Scale: the raw scan partial-aggregates to DISTINCT (user, day) first
    * (one shuffle, map-side combine collapses each user's intra-day
    * events); the rolling window is a CONSTANT ×7 integer explode of those
    * collapsed rows — never a per-day rescan or an unbounded window — and
    * the second distinct shuffles (user, report_day) once more. Output
    * contract: a row is emitted only for days with at least one ACTIVE
    * user (the inner join to the DAU side) — an in-span day with zero
    * events has no row (dau=0 would be the B28-gapfill variant), and days
    * past the observed span are likewise absent, so trailing partial
    * windows can't fabricate days. */
  def eventsDauWau(spark: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("report_day"))
      .distinct()
      .groupBy("report_day").agg(count(lit(1)).as("wau"))
    dau.join(wau, col("day") === col("report_day"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }

  val eventsDauWauSql: String = """
    WITH user_days AS (
      SELECT DISTINCT user_id,
        CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day
      FROM events),
    dau AS (SELECT day, COUNT(*) AS dau FROM user_days GROUP BY day),
    wau AS (
      SELECT report_day, COUNT(*) AS wau FROM (
        SELECT DISTINCT user_id, CAST(u.rd AS BIGINT) AS report_day
        FROM user_days, LATERAL unnest(range(day, day + 7)) u(rd))
      GROUP BY report_day)
    SELECT day, dau, wau,
      CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON day = report_day
    ORDER BY day"""

  /** B35: `q_nation_trade_matrix` — customer-nation × supplier-nation
    * revenue matrix (TPC-H Q7 flavor without the year split): who buys
    * from whom, the cross-border trade report over the star schema.
    *
    * Scale: ONE fact-fact shuffle (lineitem⋈orders on orderkey); the
    * customer/supplier joins are unhinted (AQE picks BHJ at test scale,
    * SMJ at 100 TB) and both nation lookups broadcast a fixed dim. The
    * final aggregate lands on the ≤ nations² key space with map-side
    * partials. Exact cents revenue, deterministic matrix order. */
  def nationTradeMatrix(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        discounted(cents(col("l_extendedprice")), cents(col("l_discount")))
          .as("rev_u"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("cust_nation", "supp_nation")
      .agg(count(lit(1)).as("n_lines"), sum("rev_u").as("rev_u"))
      .select(col("cust_nation"), col("supp_nation"), col("n_lines"),
        (col("rev_u").cast("double") / lit(10000.0)).as("revenue"))
      .orderBy("cust_nation", "supp_nation")
  }

  val nationTradeMatrixSql: String = """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      COUNT(*) AS n_lines,
      CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
        (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0
        AS revenue
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2"""

  /** B36: `q_shipping_delay` — order-to-ship latency per order priority
    * (TPC-H Q4 flavor as a latency report): exact integer day gaps between
    * o_orderdate and each line's l_shipdate, with mean/extremes and the
    * late-line share (> 90 days) per priority — the fulfilment-SLA report.
    *
    * Exactness: day gaps are exact integers; mean and late share are one
    * final division each; priority is a closed enum so the output is
    * schema-stable.
    *
    * Scale: ONE fact-fact shuffle (lineitem⋈orders on orderkey — the date
    * columns ride it), then map-side partials onto the 5-row priority key
    * space. No window, no second scan. */
  def shippingDelay(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("delay_days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum("delay_days").as("delay_sum"),
        min("delay_days").as("min_delay"),
        max("delay_days").as("max_delay"),
        sum(when(col("delay_days") > 90, 1L).otherwise(0L)).as("n_late"))
      .select(col("o_orderpriority"), col("n_lines"),
        (col("delay_sum").cast("double") / col("n_lines").cast("double"))
          .as("avg_delay_days"),
        col("min_delay"), col("max_delay"),
        (col("n_late").cast("double") / col("n_lines").cast("double"))
          .as("late_share"))
      .orderBy("o_orderpriority")

  val shippingDelaySql: String = """
    WITH d AS (
      SELECT o_orderpriority,
        CAST(date_diff('day', CAST(o_orderdate AS DATE),
          CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT o_orderpriority, COUNT(*) AS n_lines,
      CAST(SUM(delay_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_delay_days,
      MIN(delay_days) AS min_delay,
      MAX(delay_days) AS max_delay,
      CAST(SUM(CASE WHEN delay_days > 90 THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE) AS late_share
    FROM d
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** B34: `q_supplier_scorecard` — per-supplier performance report: line
    * volume, discounted revenue, catalog breadth (distinct parts shipped),
    * mean discount given and return rate, with the supplier's nation
    * attached — the vendor-management twin of the customer-side reports
    * (the reference scores its product feed per provider the same way,
    * /root/reference/app/services/etl_service.py:59-107).
    *
    * Exactness: revenue in integer hundredth-of-cent units; mean discount
    * and return rate are single final divisions of exact integer sums;
    * deterministic ORDER BY (revenue DESC, suppkey).
    *
    * Scale: the lineitem scan partial-aggregates everything per suppkey in
    * ONE exchange — count, revenue, discount sum, return count are plain
    * longs and the distinct-parts count is Spark's two-phase partial
    * distinct on the same key — so the fact table shuffles once, keyed on
    * the natural supplier key. The supplier join then runs on
    * supplier-catalog-sized rows (AQE picks the strategy) and nation is a
    * fixed dim, explicitly broadcast. */
  def supplierScorecard(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_partkey"),
        discounted(cents(col("l_extendedprice")), cents(col("l_discount")))
          .as("rev_u"),
        cents(col("l_discount")).as("disc_pct"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("is_ret"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        sum("rev_u").as("rev_u"),
        countDistinct("l_partkey").as("n_parts"),
        sum("disc_pct").as("disc_sum"),
        sum("is_ret").as("n_returns"))
    perSupp
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("n_lines"), col("n_parts"),
        (col("rev_u").cast("double") / lit(10000.0)).as("revenue"),
        (col("disc_sum").cast("double") / col("n_lines").cast("double"))
          .as("avg_disc_pct"),
        (col("n_returns").cast("double") / col("n_lines").cast("double"))
          .as("return_rate"))
      .orderBy(col("revenue").desc, col("s_suppkey"))
  }

  val supplierScorecardSql: String = """
    WITH per_supp AS (
      SELECT l_suppkey,
        COUNT(*) AS n_lines,
        SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
            (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_u,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS disc_sum,
        SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returns
      FROM lineitem GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, n_name, n_lines, n_parts,
      CAST(rev_u AS DOUBLE) / 10000.0 AS revenue,
      CAST(disc_sum AS DOUBLE) / CAST(n_lines AS DOUBLE) AS avg_disc_pct,
      CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS return_rate
    FROM per_supp
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    ORDER BY revenue DESC, s_suppkey"""

  val eventsJsonSql: String = """
    SELECT event_type, COUNT(*) AS n_eventos,
      CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS suma_k,
      MAX(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Attribution lookback window (µs): a touch older than this before the
    * purchase earns no credit. */
  val AttributionWindowUs: Long = 7L * 86400L * 1000000L

  /** B42: `q_events_attribution` — first-touch / last-touch conversion
    * attribution: each purchase event credits its value to the FIRST and
    * to the LAST non-purchase touch by the same user inside the
    * [[AttributionWindowUs]] lookback, reported per (model, touch type)
    * with conversion counts and attributed cents; purchases with no touch
    * in the window land in the '(none)' bucket so the models always
    * account for every conversion. The marketing-analog of the
    * reference's sales reporting joined to its scheduler/audit stream.
    *
    * Exactness: credit is exact integer cents (floor(v·100 + 0.5));
    * first/last picks are row_number with a full (ts, event_id) tie-break
    * — deterministic in both engines even under timestamp collisions.
    *
    * Scale: purchases ⋈ touches equi-keys on user_id with the time band
    * as a residual predicate — per-user fanout is bounded by the user's
    * own 7-day activity (the B41 bot screen bounds hot users upstream,
    * same vetting as sessionize), and the per-purchase pick windows run
    * on that bounded candidate relation, never the raw stream. Everything
    * after collapses map-side onto the (model × touch-type) grid. */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("t_id"),
        col("ts_us").as("t_ts"), col("event_type").as("t_type"))
    val cand = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - AttributionWindowUs)
    val wLast = Window.partitionBy("p_id")
      .orderBy(col("t_ts").desc, col("t_id").desc)
    val wFirst = Window.partitionBy("p_id")
      .orderBy(col("t_ts").asc, col("t_id").asc)
    val picks = cand
      .withColumn("rn_l", row_number().over(wLast))
      .withColumn("rn_f", row_number().over(wFirst))
      .groupBy("p_id").agg(
        max(when(col("rn_l") === 1, col("t_type"))).as("last_touch"),
        max(when(col("rn_f") === 1, col("t_type"))).as("first_touch"))
    val attributed = purchases.join(picks, Seq("p_id"), "left")
      .select(col("cents"),
        coalesce(col("first_touch"), lit("(none)")).as("first_touch"),
        coalesce(col("last_touch"), lit("(none)")).as("last_touch"))
    // One pass, not a per-model union: a self-union over `attributed`
    // would recompute the touch×purchase join and both windows per
    // branch (round-7 plan audit: 6 events scans instead of 3). The
    // 2-entry map explode doubles only the ALREADY-AGGREGATED-SIZED
    // attributed rows, and a single (model, touch_type) roll-up follows.
    attributed
      .select(col("cents"), explode(map(
        lit("first_touch"), col("first_touch"),
        lit("last_touch"), col("last_touch"))).as(Seq("model", "touch_type")))
      .groupBy("model", "touch_type")
      .agg(count(lit(1)).as("n_conversions"),
        sum("cents").as("attributed_cents"))
      .orderBy("model", "touch_type")
  }

  val eventsAttributionSql: String = s"""
    WITH ev AS (
      SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        event_type, value
      FROM events),
    p AS (
      SELECT event_id AS p_id, user_id, ts_us AS p_ts,
        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM ev WHERE event_type = 'purchase'),
    t AS (
      SELECT user_id, event_id AS t_id, ts_us AS t_ts,
        event_type AS t_type
      FROM ev WHERE event_type <> 'purchase'),
    cand AS (
      SELECT p.p_id, p.cents, t.t_id, t.t_ts, t.t_type
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - $AttributionWindowUs),
    rk AS (
      SELECT *,
        row_number() OVER (PARTITION BY p_id
          ORDER BY t_ts DESC, t_id DESC) AS rn_l,
        row_number() OVER (PARTITION BY p_id
          ORDER BY t_ts ASC, t_id ASC) AS rn_f
      FROM cand),
    picks AS (
      SELECT p_id,
        max(CASE WHEN rn_l = 1 THEN t_type END) AS last_touch,
        max(CASE WHEN rn_f = 1 THEN t_type END) AS first_touch
      FROM rk GROUP BY 1),
    attributed AS (
      SELECT p.cents,
        coalesce(picks.first_touch, '(none)') AS first_touch,
        coalesce(picks.last_touch, '(none)') AS last_touch
      FROM p LEFT JOIN picks USING (p_id))
    SELECT 'first_touch' AS model, first_touch AS touch_type,
      COUNT(*) AS n_conversions,
      CAST(SUM(cents) AS BIGINT) AS attributed_cents
    FROM attributed GROUP BY 2
    UNION ALL
    SELECT 'last_touch' AS model, last_touch AS touch_type,
      COUNT(*) AS n_conversions,
      CAST(SUM(cents) AS BIGINT) AS attributed_cents
    FROM attributed GROUP BY 2
    ORDER BY model, touch_type"""

  /** B44: `q_promo_revenue_share` — monthly promo-type revenue share
    * (TPC-H Q14 flavor, widened from one month to the full curve): per
    * ship month, discounted revenue from `p_type = 'PROMO'` parts vs
    * total, and the share — the marketing-mix read next to B4's volume
    * curve and B40's seasonality index. Conditional aggregation over ONE
    * lineitem⋈part pass; part is a true dimension but SF-scaled, so the
    * join is unhinted (AQE picks broadcast at bench scale, shuffle-hash
    * beyond — the B2 customer-join precedent) and only (p_partkey,
    * p_type) survives pruning into it. Exact integer discounted units
    * (price_c·(100−disc), the B1 device) with one division per emitted
    * double; months are calendar-bounded so the output stays tiny at any
    * corpus size. */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(date_trunc("month", col("l_shipdate")).cast("date").as("mes"),
        col("l_partkey"),
        discounted(cents(col("l_extendedprice")), cents(col("l_discount")))
          .as("disc_u"))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("mes")
      .agg(
        count(lit(1)).as("n_items"),
        sum(when(col("is_promo"), col("disc_u")).otherwise(0L))
          .as("promo_u"),
        sum(col("disc_u")).as("total_u"))
      .select(col("mes"), col("n_items"),
        (col("promo_u").cast("double") / lit(10000.0)).as("promo_revenue"),
        (col("total_u").cast("double") / lit(10000.0)).as("total_revenue"),
        (col("promo_u").cast("double") / col("total_u").cast("double"))
          .as("promo_share"))
      .orderBy("mes")
  }

  val promoRevenueShareSql: String = """
    WITH l AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mes,
        l_partkey,
        CAST(ROUND(l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS disc_u
      FROM lineitem),
    j AS (
      SELECT l.mes, l.disc_u, (p.p_type = 'PROMO') AS is_promo
      FROM l JOIN part p ON l.l_partkey = p.p_partkey)
    SELECT mes, COUNT(*) AS n_items,
      CAST(SUM(CASE WHEN is_promo THEN disc_u ELSE 0 END) AS DOUBLE)
        / 10000.0 AS promo_revenue,
      CAST(SUM(disc_u) AS DOUBLE) / 10000.0 AS total_revenue,
      CAST(SUM(CASE WHEN is_promo THEN disc_u ELSE 0 END) AS DOUBLE)
        / CAST(SUM(disc_u) AS DOUBLE) AS promo_share
    FROM j GROUP BY mes ORDER BY mes"""

  /** B63: `q_band_revenue` — the TPC-H Q19 flavor (disjunctive
    * cross-table predicate bands), completing the star-schema classics
    * next to B44 (Q14), B45 (Q17), B46 (Q4), B47 (Q16): revenue from
    * lineitem × part restricted to three DISJOINT brand/size/quantity
    * bands — the "discounted revenue for matching brand+packaging+volume
    * combinations" query whose WHERE is an OR of per-band conjunctions
    * spanning BOTH tables (this schema carries no container/shipmode, so
    * the bands key on brand set × size range × quantity range). Per band:
    * line count, exact-cents discounted revenue, quantity mass + mean.
    *
    * Plan (round 14 — the round-13 shape hid the residues inside a CASE's
    * null-ness, which Catalyst cannot decompose, so both scans pushed only
    * IsNotNull): the single-table residues of the OR-of-ANDs are applied
    * as EXPLICIT pre-join disjunctions — the brand-set × size-range union
    * reaches the part scan as Or(And(In(p_brand,…),…),…) in PushedFilters
    * (only band-eligible parts are read), and the quantity-range union
    * prunes lineitem row groups the same way. Each residue is implied by
    * the band predicate (it is the OR of that table's per-band conjuncts),
    * so semantics are unchanged. The cross-table OR itself cannot push
    * (Q19's defining shape) — the band CASE labels the pre-pruned joined
    * rows codegen'd post-join, and its IS NOT NULL drops the survivors
    * that pass both residues without aligning on the SAME band (e.g. a
    * band-A part on a qty-30 line). PushedFilters pinned in PlanSpec.
    *
    * Exactness: the cents device (price·(100−pct) integer micro-units,
    * one division); quantities are integral doubles cast long; the mean
    * is a single division. */
  def bandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val qtyResidue =
      col("l_quantity").between(1, 15) ||
      col("l_quantity").between(10, 30) ||
      col("l_quantity").between(20, 50)
    val partResidue =
      (col("p_brand").isin("Brand#11", "Brand#12", "Brand#13") &&
        col("p_size").between(1, 15)) ||
      (col("p_brand").isin("Brand#21", "Brand#22", "Brand#23") &&
        col("p_size").between(10, 30)) ||
      (col("p_brand").isin("Brand#20", "Brand#24", "Brand#25") &&
        col("p_size").between(20, 50))
    val l = Tables.lineitem(spark, dir)
      .filter(qtyResidue)
      .select(col("l_partkey"), col("l_quantity"),
        discounted(cents(col("l_extendedprice")), cents(col("l_discount")))
          .as("disc_u"))
    val p = Tables.part(spark, dir)
      .filter(partResidue)
      .select("p_partkey", "p_brand", "p_size")
    val band =
      when(col("p_brand").isin("Brand#11", "Brand#12", "Brand#13") &&
        col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 15), "A")
      .when(col("p_brand").isin("Brand#21", "Brand#22", "Brand#23") &&
        col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 30), "B")
      .when(col("p_brand").isin("Brand#20", "Brand#24", "Brand#25") &&
        col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 50), "C")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .withColumn("band", band)
      .filter(col("band").isNotNull)
      .groupBy("band")
      .agg(count(lit(1)).as("n_items"),
        sum("disc_u").as("rev_u"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .select(col("band"), col("n_items"),
        (col("rev_u").cast("double") / lit(10000.0)).as("revenue"),
        col("sum_qty"),
        (col("sum_qty").cast("double") / col("n_items").cast("double"))
          .as("avg_qty"))
      .orderBy("band")
  }

  val bandRevenueSql: String = """
    WITH j AS (
      SELECT CASE
          WHEN p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')
               AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 15 THEN 'A'
          WHEN p.p_brand IN ('Brand#21', 'Brand#22', 'Brand#23')
               AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity BETWEEN 10 AND 30 THEN 'B'
          WHEN p.p_brand IN ('Brand#20', 'Brand#24', 'Brand#25')
               AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity BETWEEN 20 AND 50 THEN 'C'
        END AS band,
        CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS disc_u,
        CAST(l.l_quantity AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
    SELECT band, COUNT(*) AS n_items,
      CAST(SUM(disc_u) AS DOUBLE) / 10000.0 AS revenue,
      CAST(SUM(qty) AS BIGINT) AS sum_qty,
      CAST(SUM(qty) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
    FROM j WHERE band IS NOT NULL
    GROUP BY band ORDER BY band"""

  /** B45: `q_small_qty_revenue` — revenue locked in below-average-quantity
    * order lines, per brand (TPC-H Q17 flavor): a line is "small" when
    * its quantity is under 20% of its part's average line quantity — the
    * inventory-consolidation read (ship-in-bulk candidates). The
    * textbook form is a correlated per-part AVG subquery re-joined to
    * the fact; here the per-part mean rides a PARTITION BY l_partkey
    * window over the single lineitem pass — one shuffle on partkey,
    * no self-join, partitions bounded by lines-per-part (a few dozen at
    * any SF). The smallness test cross-multiplies exact integers
    * (qty_c · 5 · n < Σqty_c ⟺ qty < 0.2·avg) so no float threshold
    * exists on either engine; the brand rollup joins the SF-scaled part
    * dimension unhinted (AQE decides, the B2 precedent). */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy("l_partkey")
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"))
      .withColumn("sum_qty_c", sum("qty_c").over(wp))
      .withColumn("n_part", count(lit(1)).over(wp))
      .withColumn("is_small",
        col("qty_c") * lit(5L) * col("n_part") < col("sum_qty_c"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        sum(when(col("is_small"), 1L).otherwise(0L)).as("n_small_items"),
        sum(col("price_c")).as("total_c"),
        sum(when(col("is_small"), col("price_c")).otherwise(0L))
          .as("small_c"))
      .select(col("p_brand"), col("n_items"), col("n_small_items"),
        centsToUnits(col("total_c")).as("total_revenue"),
        centsToUnits(col("small_c")).as("small_revenue"),
        (col("small_c").cast("double") / col("total_c").cast("double"))
          .as("small_revenue_share"))
      .orderBy("p_brand")
  }

  val smallQtyRevenueSql: String = """
    WITH l AS (
      SELECT l_partkey,
        CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem),
    w AS (
      SELECT l_partkey, qty_c, price_c,
        SUM(qty_c) OVER (PARTITION BY l_partkey) AS sum_qty_c,
        COUNT(*) OVER (PARTITION BY l_partkey) AS n_part
      FROM l),
    f AS (
      SELECT l_partkey, price_c,
        (qty_c * 5 * n_part < sum_qty_c) AS is_small
      FROM w)
    SELECT p.p_brand, COUNT(*) AS n_items,
      CAST(SUM(CASE WHEN f.is_small THEN 1 ELSE 0 END) AS BIGINT)
        AS n_small_items,
      CAST(SUM(f.price_c) AS DOUBLE) / 100.0 AS total_revenue,
      CAST(SUM(CASE WHEN f.is_small THEN f.price_c ELSE 0 END) AS DOUBLE)
        / 100.0 AS small_revenue,
      CAST(SUM(CASE WHEN f.is_small THEN f.price_c ELSE 0 END) AS DOUBLE)
        / CAST(SUM(f.price_c) AS DOUBLE) AS small_revenue_share
    FROM f JOIN part p ON f.l_partkey = p.p_partkey
    GROUP BY p.p_brand ORDER BY p.p_brand"""

  /** B46 late-fulfilment threshold: a line shipping more than this many
    * days after the order date marks the order late. */
  val LateDays: Int = 90

  /** B46: `q_priority_fulfilment` — order-priority fulfilment check
    * (TPC-H Q4 flavor): per `o_orderpriority`, how many orders exist and
    * how many are LATE — at least one line shipped more than
    * [[LateDays]] days after the order date — plus the late share: the
    * SLA read that says whether urgent orders actually move faster. The
    * textbook form is an EXISTS subquery; here the existential collapses
    * to a MAX(flag) in the orderkey-grouped aggregate riding the SAME
    * shuffle the join just paid — join on orderkey, group on orderkey,
    * zero extra exchanges before the ≤5-row priority rollup. LEFT join
    * keeps line-less orders in the denominator (never late by
    * definition). Integer flags, one division per row. */
  def priorityFulfilment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(max(when(
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"),
        1L).otherwise(0L)).as("late"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce(col("late"), lit(0L))).as("n_late_orders"))
      .select(col("o_orderpriority"), col("n_orders"), col("n_late_orders"),
        (col("n_late_orders").cast("double") / col("n_orders").cast("double"))
          .as("late_share"))
      .orderBy("o_orderpriority")
  }

  val priorityFulfilmentSql: String = s"""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority,
        MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL $LateDays DAY
                 THEN 1 ELSE 0 END) AS late
      FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2)
    SELECT o_orderpriority, COUNT(*) AS n_orders,
      CAST(SUM(COALESCE(late, 0)) AS BIGINT) AS n_late_orders,
      CAST(SUM(COALESCE(late, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        AS late_share
    FROM per_order GROUP BY 1 ORDER BY 1"""

  /** B47: `q_supplier_breadth` — supplier coverage per part category
    * (TPC-H Q16 flavor without a partsupp table: the supplier relation is
    * derived from what actually SHIPPED): per (p_type, p_size), the
    * distinct parts moved, the distinct suppliers who moved them, and
    * suppliers-per-part — the supply-risk read (a category with breadth
    * ≈ 1 has a single point of failure). The multi-DISTINCT aggregate is
    * the one classic rollup shape the surface lacked; Spark plans it as
    * an Expand (×2 row multiplier) over the SAME partkey-joined pass —
    * no self-join, no second scan — and the category grid is
    * O(types × sizes), map-side collapsible. Counts only; one final
    * division. */
  def supplierBreadth(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
    val p = Tables.part(spark, dir)
      .select("p_partkey", "p_type", "p_size")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_type", "p_size")
      .agg(countDistinct("l_partkey").as("n_parts"),
        countDistinct("l_suppkey").as("n_suppliers"))
      .select(col("p_type"), col("p_size"), col("n_parts"),
        col("n_suppliers"),
        (col("n_suppliers").cast("double") / col("n_parts").cast("double"))
          .as("breadth_ratio"))
      .orderBy("p_type", "p_size")
  }

  val supplierBreadthSql: String = """
    SELECT p.p_type, p.p_size,
      COUNT(DISTINCT l.l_partkey) AS n_parts,
      COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
      CAST(COUNT(DISTINCT l.l_suppkey) AS DOUBLE)
        / CAST(COUNT(DISTINCT l.l_partkey) AS DOUBLE) AS breadth_ratio
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_type, p.p_size ORDER BY p.p_type, p.p_size"""

  /** B64: `q_supplier_blame` — waiting-supplier blame report (TPC-H Q21
    * flavor on the available axes: this schema has no l_receiptdate /
    * l_commitdate, so "kept the order waiting" is the B46 SLA read — a
    * line shipped more than [[LateDays]] days after the order date). Per
    * supplier: in how many FINALIZED multi-supplier orders was THIS
    * supplier the only late one — the textbook form is an EXISTS (some
    * other supplier contributed) plus a NOT EXISTS (no other supplier was
    * late) correlated against the same fact table.
    *
    * Both existentials collapse into arithmetic riding ONE orderkey
    * shuffle (the B46 MAX-flag device extended to window form): the
    * orders⋈lineitem join shuffles on orderkey; the per-(order, supplier)
    * late flag groups on (orderkey, suppkey) — a superset of the join's
    * hash partitioning, so no new exchange; the per-order supplier count
    * and late-supplier count are window aggregates over the SAME orderkey
    * partitioning (again no exchange — WindowExec only adds an in-
    * partition sort); "blame" is then the row-local predicate
    * late=1 ∧ n_supp>1 ∧ n_late=1. No self-join, no second fact scan, no
    * cache. The supplier dim joins AFTER blame collapses the relation to
    * ≤ one row per (order, supplier) — supplier scales with SF so it
    * carries no broadcast hint (AQE decides); nation (25 rows) is force-
    * broadcast. Final rollup is a ≤|supplier|-row shuffle.
    *
    * Reference: the "who is holding the queue" read of the scheduler's
    * stuck-job blame view (/root/reference/app/services/scheduler.py) on
    * the order fulfilment domain. */
  def supplierBlame(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val w = Window.partitionBy("o_orderkey")
    val blamed = o
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "l_suppkey")
      .agg(max(when(
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"),
        1L).otherwise(0L)).as("late"))
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("late")).over(w))
      .filter(col("late") === 1L && col("n_supp") > 1 && col("n_late") === 1L)
    val dim = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    blamed.join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val supplierBlameSql: String = s"""
    WITH per AS (
      SELECT o.o_orderkey, l.l_suppkey,
        MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL $LateDays DAY
                 THEN 1 ELSE 0 END) AS late
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2),
    w AS (
      SELECT l_suppkey, late,
        COUNT(*) OVER (PARTITION BY o_orderkey) AS n_supp,
        SUM(late) OVER (PARTITION BY o_orderkey) AS n_late
      FROM per)
    SELECT s.s_name, n.n_name, COUNT(*) AS numwait
    FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE w.late = 1 AND w.n_supp > 1 AND w.n_late = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_name"""

  /** B65 bucket list — the Q22 "country code" analog: the last two digits
    * of the customer name's zero-padded id, a stable pseudo-geography this
    * schema offers (no c_phone column). Seven literal buckets, as Q22
    * samples seven country codes. */
  val IdleBuckets: Seq[String] =
    Seq("01", "13", "25", "31", "42", "50", "67")

  /** B65: `q_idle_high_balance` — idle high-balance customers (TPC-H Q22
    * flavor): within the sampled name-digit buckets, customers whose
    * balance beats the bucket population's positive-balance average and
    * who placed NO order since [[Cubes.InactiveSince]] — the "capital
    * parked with inactive accounts" read, per bucket. Composes B29's
    * 1-row broadcast scalar with B19's anti-join:
    *
    *  - the positive-balance average is a partial-agged 1-row aggregate
    *    cross-joined back as a broadcast — never a global window. The
    *    above-average test is EXACT integer math on cents
    *    (bal_c × n_pos > sum_pos_c avoids the double division entirely,
    *    so both engines pick the same customers bit-for-bit);
    *  - idleness is a `left_anti` against orders with the date bound
    *    pushed into the orders scan (only the recent slice crosses);
    *  - the customer scan reads 3 columns; the bucket filter is codegen'd
    *    post-scan (substring cannot push to parquet). Like B29's audit
    *    scalar, the 1-row aggregate re-scans the (pruned, filtered)
    *    customer relation rather than caching it — two cheap dim scans
    *    beat pinning a corpus-day working set for a one-shot report.
    *
    * Final rollup: ≤7 groups, map-side collapsible. */
  def idleHighBalance(spark: SparkSession, dir: String): DataFrame = {
    def cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), substring(col("c_name"), 17, 2).as("bucket"),
        cents(col("c_acctbal")).as("bal_c"))
      .filter(col("bucket").isin(IdleBuckets: _*))
    val stats = cust.filter(col("bal_c") > 0L)
      .agg(sum("bal_c").as("tot"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(stats))
      .filter(col("bal_c") * col("n_pos") > col("tot"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >=
            lit(Cubes.InactiveSince).cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_customers"), sum("bal_c").as("bal_sum_c"))
      .select(col("bucket"), col("n_customers"),
        centsToUnits(col("bal_sum_c")).as("acctbal_total"))
      .orderBy("bucket")
  }

  val idleHighBalanceSql: String = s"""
    WITH cust AS (
      SELECT c_custkey, substring(c_name, 17, 2) AS bucket,
        CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
      WHERE substring(c_name, 17, 2) IN
        (${IdleBuckets.map("'" + _ + "'").mkString(", ")})),
    stats AS (
      SELECT CAST(SUM(bal_c) AS BIGINT) AS tot, COUNT(*) AS n_pos
      FROM cust WHERE bal_c > 0)
    SELECT bucket, COUNT(*) AS n_customers,
      CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS acctbal_total
    FROM cust, stats
    WHERE bal_c * n_pos > tot
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '${Cubes.InactiveSince} 00:00:00')
    GROUP BY 1 ORDER BY 1"""

  /** B66: `q_customer_order_distribution` — the TPC-H Q13 classic: the
    * customer order-count distribution INCLUDING the zero bucket, the
    * everyday "how engaged is the customer base" report (the reference's
    * per-client document counts — etl_service.py:577-624 groups documents
    * per cliente — generalized to a distribution over ALL clients, churned
    * ones included). Orders qualify only since [[Cubes.InactiveSince]], so
    * the zero bucket is EXACTLY B19's churn set and the two queries
    * cross-check each other.
    *
    * The Q13 trap: the qualifier must restrict which orders COUNT, not
    * which customers APPEAR — an ON-clause predicate, never a post-join
    * WHERE (which silently turns the left join inner and drops the zero
    * bucket). Here the predicate filters the orders INPUT pre-join —
    * equivalent to the ON clause for a left join, and it reaches the
    * parquet scan by construction.
    *
    * Plan (the 100 TB shape): orders pre-aggregate to (custkey, n) BEFORE
    * the join — map-side partial count shrinks the fact shuffle to one row
    * per distinct customer, and the aggregate's hashpartitioning(custkey)
    * is REUSED by the sort-merge join, so the fact table pays exactly ONE
    * exchange (Q13's textbook join-then-count would shuffle every order
    * row). Customer pays the second custkey exchange; the distribution
    * rollup is a ≤max-orders-per-customer grid. PlanSpec pins the two
    * custkey exchanges and the pushed date bound. */
  def customerOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(Cubes.InactiveSince).cast("timestamp"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
    Tables.customer(spark, dir).select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(coalesce(col("n"), lit(0L)).as("c_count"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("c_count").desc)
  }

  val customerOrderDistributionSql: String = s"""
    SELECT c_count, COUNT(*) AS n_customers FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey
       AND o_orderdate >= TIMESTAMP '${Cubes.InactiveSince} 00:00:00'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY n_customers DESC, c_count DESC"""

  /** B67 revenue window — one quarter, Q15's three-month span. */
  val TopRevenueQuarterStart: String = "1996-01-01"
  val TopRevenueQuarterEnd: String = "1996-04-01"

  /** B67: `q_top_supplier_revenue` — the TPC-H Q15 argmax-over-aggregate:
    * per-supplier discounted revenue over one quarter, then the supplier(s)
    * at the global maximum (ties → ALL rows, Q15's stated semantics). The
    * teaching device is argmax WITHOUT a global window: the 1-row MAX
    * aggregate joins back as a broadcast (B29's scalar device lifted from
    * a scan to an AGGREGATE) — a rank()/max() over Window.partitionBy()
    * would serialize every supplier through one partition.
    *
    * Plan: the quarter bound pushes into the lineitem scan; revenue is the
    * exact-integer device (cents × (100 − pct), one final division); the
    * per-supplier aggregate — supplier-dim-sized, tiny next to the fact —
    * is cache()d and read TWICE (once for the MAX, once for the filter).
    * This is the deliberate inverse of B29/B65's re-scan-don't-cache call:
    * there the re-scanned relation was a pruned cheap scan, here a second
    * pass would re-read the FACT table — Q15's CREATE VIEW revenue
    * materialization expressed as a cache. The supplier dim joins AFTER
    * the argmax collapse (≥1 row reaches it). Catalyst folds the
    * crossJoin+filter into an EQUALITY BroadcastHashJoin on rev_u=max_u —
    * a broadcast hash probe, tighter than the nested-loop the device is
    * written as. PlanSpec pins one lineitem materialization (2 mem +
    * 1 file leaves), the pushed quarter bound, the broadcast hash-join
    * scalar, and no Window. */
  def topSupplierRevenue(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Caches.keep(Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >=
          lit(TopRevenueQuarterStart).cast("timestamp") &&
        col("l_shipdate") < lit(TopRevenueQuarterEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discounted(cents(col("l_extendedprice")),
        cents(col("l_discount")))).as("rev_u")))
    val top = perSupp.agg(max("rev_u").as("max_u"))
    perSupp.crossJoin(broadcast(top))
      .filter(col("rev_u") === col("max_u"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_u").cast("double") / lit(10000.0)).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val topSupplierRevenueSql: String = s"""
    WITH revenue AS (
      SELECT l_suppkey,
        SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
          * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_u
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '$TopRevenueQuarterStart 00:00:00'
        AND l_shipdate < TIMESTAMP '$TopRevenueQuarterEnd 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
      CAST(rev_u AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE rev_u = (SELECT MAX(rev_u) FROM revenue)
    ORDER BY s_suppkey"""
}
