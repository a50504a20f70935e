package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Clean
import graft.sources.{Feeds, Tables}

/** ETL core — the reference's extract/validate/load semantics
  * (/root/reference/app/services/etl_service.py) re-expressed as
  * declarative Spark plans over the star schema.
  *
  * All validation passes are narrow (scan -> project/filter, no shuffle)
  * and stay inside WholeStageCodegen; the only shuffles in this file are
  * the keyed upsert and dedup windows, which shuffle exactly once on the
  * entity key — the minimum possible at any scale.
  */
object Etl {

  // ---- A1: client validation (etl_service.py:20-56) --------------------
  /** Valid clients: required id + name, junk-literal normalization, RUT &
    * email format flags, amount sanity flag. */
  def validateClients(spark: SparkSession, dir: String): DataFrame =
    clientRows(spark, dir).orderBy("id_cliente")

  /** [[validateClients]] unsorted — the body the reports aggregate (see
    * [[entityCounts]] for why it must stay unsorted). Each validator below
    * has the same split: the rule is written once, in the body. */
  private def clientRows(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val rut = concat((col("c_custkey") + lit(10000000)).cast("string"),
      lit("-"), (col("c_custkey") % 10).cast("string"))
    c.select(
        col("c_custkey").as("id_cliente"),
        Clean.normStr(col("c_name")).as("nombre"),
        col("c_mktsegment").as("segmento"),
        col("c_acctbal").as("saldo"),
        rut.as("rut"),
        lower(regexp_replace(trim(col("c_name")), lit("[# ]"), lit("."))).as("email_local"))
      .withColumn("email", concat(col("email_local"), lit("@imperio.cl")))
      .drop("email_local")
      .filter(col("id_cliente").isNotNull && col("nombre").isNotNull)
      .withColumn("rut_valido", Clean.rutValid(col("rut")))
      .withColumn("email_valido", Clean.emailValid(col("email")))
      .withColumn("saldo_ok", col("saldo") >= 0)
  }

  val validateClientsSql: String = s"""
    SELECT id_cliente, nombre, segmento, saldo, rut, email,
      ${Clean.rutValidSql("rut")} AS rut_valido,
      ${Clean.emailValidSql("email")} AS email_valido,
      saldo >= 0 AS saldo_ok
    FROM (
      SELECT c_custkey AS id_cliente,
        ${Clean.normStrSql("c_name")} AS nombre,
        c_mktsegment AS segmento, c_acctbal AS saldo,
        CAST(c_custkey + 10000000 AS VARCHAR) || '-' || CAST(c_custkey % 10 AS VARCHAR) AS rut,
        lower(regexp_replace(trim(c_name), '[# ]', '.')) || '@imperio.cl' AS email
      FROM customer)
    WHERE id_cliente IS NOT NULL AND nombre IS NOT NULL
    ORDER BY id_cliente"""

  // ---- A2: product validation + cost fallback (etl_service.py:59-107,588-615)
  /** Valid products, the reference's full rule set:
    *  - price comes from the MANDATORY price-list-2 lookup
    *    ([[Feeds.priceList]]); a product with no price-list row is REJECTED
    *    (inner join = the reference's "SIN PRECIO en lista 2 - OMITIDO",
    *    etl_service.py:588-594);
    *  - cost is the average of the positive cost history when one exists
    *    ([[Feeds.costHistory]]), else falls back to price·0.65
    *    (etl_service.py:600-615) — a real two-branch coalesce;
    *  - field fidelity: codigo_barras (nullable), controla_stock 1/0,
    *    descripcion junk-literal → NULL (etl_service.py:98-107);
    *  - negative margin flagged, not rejected (etl_service.py:86-88).
    * Both side inputs scale with the fact data, so neither is force-broadcast
    * — key-key joins, AQE decides the physical strategy. */
  def validateProducts(spark: SparkSession, dir: String): DataFrame =
    productRows(spark, dir).orderBy("id_producto")

  private def productRows(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(
      col("p_partkey").as("id_producto"),
      Clean.normStr(col("p_name")).as("nombre"),
      concat(col("p_brand"), lit("-"), col("p_partkey").cast("string")).as("codigo_sku"),
      Clean.normStr(col("p_type")).as("descripcion"),
      when(col("p_partkey") % 31 === 0, lit(null))
        .otherwise(lpad(col("p_partkey").cast("string"), 13, "0")).as("codigo_barras"),
      (col("p_size") > 0).cast("int").as("controla_stock"))
    p.join(Feeds.priceList(spark, dir), Seq("id_producto"))
      .withColumnRenamed("precio_lista", "precio_neto")
      .join(Feeds.costHistory(spark, dir), Seq("id_producto"), "left")
      .withColumn("costo_neto",
        coalesce(col("costo_promedio"), col("precio_neto") * lit(0.65)))
      .drop("costo_promedio")
      .filter(col("precio_neto") > 0 && col("costo_neto") >= 0 &&
        col("nombre").isNotNull && col("id_producto").isNotNull)
      .withColumn("margen_negativo", col("precio_neto") <= col("costo_neto"))
      .withColumn("estado", lit(1))
  }

  val validateProductsSql: String = s"""
    WITH price_list AS (${Feeds.priceListSql}),
    cost_history AS (${Feeds.costHistorySql}),
    p AS (
      SELECT p_partkey AS id_producto,
        ${Clean.normStrSql("p_name")} AS nombre,
        p_brand || '-' || CAST(p_partkey AS VARCHAR) AS codigo_sku,
        ${Clean.normStrSql("p_type")} AS descripcion,
        CASE WHEN p_partkey % 31 = 0 THEN NULL
             ELSE lpad(CAST(p_partkey AS VARCHAR), 13, '0') END AS codigo_barras,
        CAST(p_size > 0 AS INT) AS controla_stock
      FROM part)
    SELECT p.id_producto, p.nombre, p.codigo_sku, p.descripcion,
      p.codigo_barras, p.controla_stock,
      pl.precio_lista AS precio_neto,
      coalesce(ch.costo_promedio, pl.precio_lista * 0.65) AS costo_neto,
      pl.precio_lista <= coalesce(ch.costo_promedio, pl.precio_lista * 0.65) AS margen_negativo,
      1 AS estado
    FROM p
      JOIN price_list pl ON p.id_producto = pl.id_producto
      LEFT JOIN cost_history ch ON p.id_producto = ch.id_producto
    WHERE pl.precio_lista > 0
      AND coalesce(ch.costo_promedio, pl.precio_lista * 0.65) >= 0
      AND p.nombre IS NOT NULL AND p.id_producto IS NOT NULL
    ORDER BY p.id_producto"""

  // ---- A3: document validation (etl_service.py:110-155) ----------------
  /** Valid sale documents: required id/date, total > 0, negative net/IVA
    * rejected, amount-coherence flag (|total − (net+iva)| ≤ 1 cent) over the
    * three INDEPENDENTLY-supplied amounts of the incoming feed
    * ([[Feeds.documents]]) — pure validation of what the source carries,
    * exactly like the reference's `validate_document`
    * (etl_service.py:125-141). Narrow pass, stays in WholeStageCodegen. */
  def validateDocuments(spark: SparkSession, dir: String): DataFrame =
    documentRows(spark, dir).orderBy("id_documento")

  private def documentRows(spark: SparkSession, dir: String): DataFrame = {
    def cents(c: Column): Column = floor(c * lit(100.0) + lit(0.5)).cast("double")
    Feeds.documents(spark, dir)
      .filter(col("id_documento").isNotNull && col("fecha_emision").isNotNull &&
        col("monto_total") > 0 && col("monto_neto") >= 0 && col("monto_iva") >= 0)
      .withColumn("montos_coherentes",
        abs(cents(col("monto_total")) -
          (cents(col("monto_neto")) + cents(col("monto_iva")))) <= lit(1.0))
  }

  val validateDocumentsSql: String = s"""
    WITH feed AS (${Feeds.documentsSql})
    SELECT *,
      abs(floor(monto_total * CAST(100.0 AS DOUBLE) + 0.5)
        - (floor(monto_neto * CAST(100.0 AS DOUBLE) + 0.5)
           + floor(monto_iva * CAST(100.0 AS DOUBLE) + 0.5))) <= 1.0 AS montos_coherentes
    FROM feed
    WHERE id_documento IS NOT NULL AND fecha_emision IS NOT NULL
      AND monto_total > 0 AND monto_neto >= 0 AND monto_iva >= 0
    ORDER BY id_documento"""

  // ---- A4: line-detail validation (etl_service.py:158-201) -------------
  /** Valid document lines: qty > 0, unit price > 0, and line-total coherence
    * — the INCOMING `monto_total_linea` of the feed ([[Feeds.details]])
    * checked against the recomputation qty·unit·(1−disc/100) with 1-cent
    * tolerance, mirroring the reference's `validate_document_detail`
    * (etl_service.py:182-188). Narrow pass, stays in WholeStageCodegen. */
  def validateDetails(spark: SparkSession, dir: String): DataFrame =
    detailRows(spark, dir).orderBy("id_documento", "numero_linea")

  private def detailRows(spark: SparkSession, dir: String): DataFrame =
    Feeds.details(spark, dir)
      .filter(col("cantidad") > 0 && col("precio_neto_unitario") > 0)
      .withColumn("linea_coherente",
        abs(col("monto_total_linea") -
          (col("cantidad") * col("precio_neto_unitario") * (lit(1.0) - col("descuento_porcentual") / lit(100.0)))) <= lit(0.01))

  val validateDetailsSql: String = s"""
    WITH feed AS (${Feeds.detailsSql})
    SELECT *,
      abs(monto_total_linea - (cantidad * precio_neto_unitario * (1.0 - descuento_porcentual / 100.0))) <= 0.01 AS linea_coherente
    FROM feed
    WHERE cantidad > 0 AND precio_neto_unitario > 0
    ORDER BY id_documento, numero_linea"""

  /** Sample size per (entity, reason) for [[quarantineSamples]]. */
  val QuarantineK: Int = 5

  /** A14: `q_quarantine_samples` — the first-k quarantined rows per
    * (entity, reason): hard rejects (product with no price-list-2 row —
    * the reference's "SIN PRECIO en lista 2 - OMITIDO" log line,
    * etl_service.py:588-594) and soft warnings (incoherent document
    * amounts, incoherent line totals, negative margins) — the sample a
    * sync operator reads FIRST when a run report (A13) shows nonzero
    * skips, mirroring the reference's per-row skip logging.
    *
    * Determinism: samples are the k SMALLEST ids per reason (id +
    * line tie-break), never "any k".
    *
    * Scale: each quarantine slice is a narrow filter off the SAME
    * validator plans the load runs (no second rule encoding that could
    * drift), read as their unsorted bodies — the window and the final
    * `orderBy` fix the order, so a validator's sort would only add a
    * range-exchange job; the per-reason window is rank ≤ k over a closed
    * 4-reason key space, so Spark's WindowGroupLimit prunes to k rows per
    * partition map-side before the single tiny shuffle. */
  def quarantineSamples(spark: SparkSession, dir: String): DataFrame = {
    val noPrice = Tables.part(spark, dir)
      .select(col("p_partkey").as("id_producto"))
      .join(Feeds.priceList(spark, dir), Seq("id_producto"), "left_anti")
      .select(lit("producto").as("entidad"),
        lit("SIN_PRECIO_LISTA_2").as("motivo"),
        col("id_producto").as("id_registro"), lit(0).cast("int").as("id_detalle"))
    val negMargin = productRows(spark, dir)
      .filter(col("margen_negativo"))
      .select(lit("producto").as("entidad"),
        lit("MARGEN_NEGATIVO").as("motivo"),
        col("id_producto").as("id_registro"), lit(0).cast("int").as("id_detalle"))
    val docsIncoherent = documentRows(spark, dir)
      .filter(!col("montos_coherentes"))
      .select(lit("documento").as("entidad"),
        lit("MONTOS_INCOHERENTES").as("motivo"),
        col("id_documento").as("id_registro"), lit(0).cast("int").as("id_detalle"))
    val linesIncoherent = detailRows(spark, dir)
      .filter(!col("linea_coherente"))
      .select(lit("detalle").as("entidad"),
        lit("LINEA_INCOHERENTE").as("motivo"),
        col("id_documento").as("id_registro"),
        col("numero_linea").cast("int").as("id_detalle"))
    val w = Window.partitionBy("entidad", "motivo")
      .orderBy(col("id_registro").asc, col("id_detalle").asc)
    noPrice.unionByName(negMargin).unionByName(docsIncoherent)
      .unionByName(linesIncoherent)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= QuarantineK)
      .orderBy("entidad", "motivo", "rn")
  }

  val quarantineSamplesSql: String = s"""
    WITH q AS (
      SELECT 'producto' AS entidad, 'SIN_PRECIO_LISTA_2' AS motivo,
        p_partkey AS id_registro, 0 AS id_detalle
      FROM part WHERE p_partkey NOT IN (
        SELECT id_producto FROM (${Feeds.priceListSql}))
      UNION ALL
      SELECT 'producto', 'MARGEN_NEGATIVO', id_producto, 0
      FROM ($validateProductsSql) WHERE margen_negativo
      UNION ALL
      SELECT 'documento', 'MONTOS_INCOHERENTES', id_documento, 0
      FROM ($validateDocumentsSql) WHERE NOT montos_coherentes
      UNION ALL
      SELECT 'detalle', 'LINEA_INCOHERENTE', id_documento,
        CAST(numero_linea AS INT)
      FROM ($validateDetailsSql) WHERE NOT linea_coherente)
    SELECT entidad, motivo, id_registro, id_detalle, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY entidad, motivo
        ORDER BY id_registro ASC, id_detalle ASC) AS BIGINT) AS rn
      FROM q) WHERE rn <= $QuarantineK
    ORDER BY entidad, motivo, rn"""

  // ---- A5: keyed upsert / MERGE (etl_service.py:252-293) ---------------
  /** Generic latest-wins keyed merge: one shuffle on the key, window
    * row_number, no driver-side loop (the reference loops 50-row MERGE
    * batches; at 100 TB this is a single wide transformation instead). */
  def merge(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val src = updates.withColumn("_pri", lit(1))
      .unionByName(base.withColumn("_pri", lit(0)))
    val w = Window.partitionBy(col(key)).orderBy(col("_pri").desc)
    src.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_pri", "_rn")
  }

  /** A5 query: apply a derived update batch (10% of orders re-priced) to
    * the orders snapshot via merge. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"))
    val updates = o.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      .withColumn("o_orderstatus", lit("U"))
    merge(o, updates, "o_orderkey").orderBy("o_orderkey")
  }

  val mergeUpsertSql: String = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        CAST(o_orderdate AS DATE) AS o_orderdate FROM orders),
    updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        o_totalprice * 1.1 AS o_totalprice, o_orderdate
      FROM base WHERE o_orderkey % 10 = 0),
    src AS (
      SELECT *, 1 AS _pri FROM updates
      UNION ALL SELECT *, 0 AS _pri FROM base)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY _pri DESC) AS _rn FROM src)
    WHERE _rn = 1
    ORDER BY o_orderkey"""

  // ---- A6: incremental sync (etl_service.py:652, scheduler_endpoints) --
  /** Documents since start_date — a partition-prunable predicate that
    * reaches the parquet scan (PushedFilters), the scale-correct analog of
    * the reference's date-bounded re-extraction. */
  def incrementalSync(spark: SparkSession, dir: String,
      startDate: String = "2000-01-01"): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(startDate).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")

  val incrementalSyncSql: String = """
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      o_totalprice, o_orderstatus
    FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    ORDER BY o_orderkey"""

  /** Default start date for the events sync oracle row — mid-range of the
    * synthetic event month, so the pushed predicate prunes about half the
    * scan at test scale. */
  val SyncEventsStartDate: String = "2024-01-15"

  /** A6 (events entity): date-bounded re-extraction of the event stream.
    * Event time stays in integer nanoseconds inside the engine (see
    * [[Tables.events]]); the date bound goes through [[Tables.eventsSince]]
    * so the predicate lands on the RAW scan column (PushedFilters → parquet
    * row-group pruning), exact and cheaper than re-scanning 100 TB of
    * history. The EXPORTED column is microseconds (ts div 1000): DuckDB's
    * parquet reader truncates nanosecond timestamps to µs, so µs is the
    * finest grain both engines agree on bit-for-bit. */
  def syncEvents(spark: SparkSession, dir: String,
      startDate: String = SyncEventsStartDate): DataFrame = {
    val startNanos = java.time.LocalDate.parse(startDate)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L
    Tables.eventsSince(spark, dir, startNanos)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id")
  }

  val syncEventsSql: String = s"""
    SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id,
      event_type, value
    FROM events WHERE ts >= TIMESTAMP '$SyncEventsStartDate 00:00:00'
    ORDER BY event_id"""

  /** The reference's per-entity sync surface — `run_sync(entity, start_date)`
    * (/root/reference/app/api/endpoints.py:50-51): one date-bounded,
    * partition-prunable extraction per entity, dispatched on the entity's
    * event-time column. Unknown entities fail fast like the reference's 404. */
  def syncEntity(spark: SparkSession, dir: String, entity: String,
      startDate: String): DataFrame = entity match {
    case "orders" => incrementalSync(spark, dir, startDate)
    case "events" => syncEvents(spark, dir, startDate)
    case "lineitem" =>
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit(startDate).cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_shipdate").cast("date").as("l_shipdate"))
        .orderBy("l_orderkey", "l_linenumber")
    case other => throw new IllegalArgumentException(
      s"unknown sync entity '$other' (expected orders|events|lineitem)")
  }

  /** Audit instant for the A12 snapshot — epoch µs of 2024-01-15 12:00 UTC,
    * mid-range of the synthetic event month. */
  val Scd2SnapshotUs: Long = 1705320000000000L

  /** A12: `q_scd2_snapshot` — the point-in-time read that makes the SCD2
    * history queryable: each user's version valid AT the audit instant
    * (valid_from ≤ T < valid_to, open version = current). This is the
    * time-travel query a warehouse answers from the A10 table — and why a
    * history-preserving load beats latest-wins MERGE for audits. Same one
    * user_id shuffle as A10; the interval predicate filters the windowed
    * rows, ≤ 1 row per user survives by construction. */
  def scd2Snapshot(spark: SparkSession, dir: String,
      atUs: Long = Scd2SnapshotUs): DataFrame =
    scd2History(spark, dir)
      .filter(col("valid_from_us") <= atUs &&
        (col("valid_to_us").isNull || col("valid_to_us") > atUs))
      .select("user_id", "version", "event_id", "valor",
        "valid_from_us", "valid_to_us", "is_current")
      .orderBy("user_id")

  val scd2SnapshotSql: String = s"""
    SELECT user_id, version, event_id, valor,
      valid_from_us, valid_to_us, valid_to_us IS NULL AS is_current
    FROM (
      SELECT user_id, event_id, value AS valor,
        CAST(row_number() OVER w AS BIGINT) AS version,
        epoch_us(ts) AS valid_from_us,
        lead(epoch_us(ts), 1) OVER w AS valid_to_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
    WHERE valid_from_us <= $Scd2SnapshotUs
      AND (valid_to_us IS NULL OR valid_to_us > $Scd2SnapshotUs)
    ORDER BY user_id"""

  /** The reference's smoke-test extraction — `test_etl(entity, limit)`
    * (/root/reference/app/api/scheduler_endpoints.py:140-141): the first
    * `limit` rows of an entity, deterministically keyed (a bare LIMIT is
    * partition-order-dependent in a distributed engine, so the key sort
    * makes the smoke slice reproducible). The sort is bounded by
    * TakeOrderedAndProject — per-partition top-k, never a full sort. */
  def testSlice(spark: SparkSession, dir: String, entity: String,
      limit: Int = 10): DataFrame = {
    require(limit > 0, s"limit must be positive, got $limit")
    val (df, key) = entity match {
      case "clients" => (Tables.customer(spark, dir), "c_custkey")
      case "products" => (Tables.part(spark, dir), "p_partkey")
      case "documents" => (Tables.orders(spark, dir), "o_orderkey")
      case "details" => (Tables.lineitem(spark, dir), "l_orderkey")
      case other => throw new IllegalArgumentException(
        s"unknown test entity '$other' (expected clients|products|documents|details)")
    }
    df.orderBy(key).limit(limit)
  }

  /** A11 as an oracle row: the clients smoke slice is fully deterministic
    * (c_custkey is unique, so ORDER BY + LIMIT is a total order) and hence
    * SQL-expressible — registered as `q_test_slice` so the one remaining
    * §2 A-row gets the same CORRECTNESS gate as everything else. */
  val testSliceSql: String =
    "SELECT * FROM customer ORDER BY c_custkey LIMIT 10"

  // ---- A7: keep-first dedup (etl_service.py:577-624) -------------------
  /** First line per document — the reference's "first active variant per
    * product" rule as a window dedup (single shuffle on the key). */
  def firstPerKey(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    // total order: (orderkey, linenumber) is not unique in the synthetic
    // data, so tie-break on every output column to keep the pick
    // deterministic across engines
    val w = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    l.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .orderBy("l_orderkey")
  }

  val firstPerKeySql: String = """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
    FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
            row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity, l_extendedprice) AS _rn
          FROM lineitem)
    WHERE _rn = 1
    ORDER BY l_orderkey"""

  // ---- A8: reload audit (endpoints.py:18 clean_and_reload) -------------
  /** Snapshot audit after a full reload: per-table row counts + key
    * checksums (exact integer sums — order-independent). */
  def reloadAudit(spark: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, key: Column) =
      df.agg(count(lit(1)).as("row_count"), sum(key.cast("long")).as("key_checksum"))
        .select(lit(name).as("table_name"), col("row_count"), col("key_checksum"))
    one("customer", Tables.customer(spark, dir), col("c_custkey"))
      .unionByName(one("orders", Tables.orders(spark, dir), col("o_orderkey")))
      .unionByName(one("lineitem", Tables.lineitem(spark, dir), col("l_orderkey")))
      .unionByName(one("part", Tables.part(spark, dir), col("p_partkey")))
      .unionByName(one("supplier", Tables.supplier(spark, dir), col("s_suppkey")))
      .orderBy("table_name")
  }

  // NOTE: DuckDB widens SUM over any integer type (even BIGINT input) to
  // HUGEINT (int128); the outer CAST keeps the oracle column int64 so its
  // hash matches Spark's LongType sum.
  val reloadAuditSql: String = """
    SELECT 'customer' AS table_name, COUNT(*) AS row_count, CAST(SUM(c_custkey) AS BIGINT) AS key_checksum FROM customer
    UNION ALL SELECT 'orders', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*), CAST(SUM(l_orderkey) AS BIGINT) FROM lineitem
    UNION ALL SELECT 'part', COUNT(*), CAST(SUM(p_partkey) AS BIGINT) FROM part
    UNION ALL SELECT 'supplier', COUNT(*), CAST(SUM(s_suppkey) AS BIGINT) FROM supplier
    ORDER BY table_name"""

  // ---- A10: SCD2 history build (the versioned twin of the A5 MERGE) ----
  /** Slowly-changing-dimension type-2 history over the event stream: each
    * per-user change event becomes a versioned row with a validity interval
    * [valid_from, valid_to) — `valid_to` is the NEXT change's time (lead
    * window), NULL marks the open current version. The reference's MERGE
    * keeps only latest-wins state (etl_service.py:252-293); this is the
    * history-preserving load a warehouse runs next to it, and the as-of
    * join (B11) queries it point-in-time. One shuffle on user_id; version
    * numbering and the interval lead ride the same totally-ordered window
    * (event_id tie-break). The tracked attribute passes through untouched —
    * no arithmetic, so cross-engine exactness is free. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"), col("value").as("valor"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select("user_id", "version", "event_id", "valor",
        "valid_from_us", "valid_to_us", "is_current")
      .orderBy("user_id", "version")
  }

  val scd2HistorySql: String = """
    SELECT user_id, version, event_id, valor,
      valid_from_us, valid_to_us, valid_to_us IS NULL AS is_current
    FROM (
      SELECT user_id, event_id, value AS valor,
        CAST(row_number() OVER w AS BIGINT) AS version,
        epoch_us(ts) AS valid_from_us,
        lead(epoch_us(ts), 1) OVER w AS valid_to_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
    ORDER BY user_id, version"""

  /** A13: `q_sync_report` — the run report the reference's sync endpoints
    * return ({processed, loaded, skipped} per entity,
    * /root/reference/app/api/endpoints.py): for each entity one row with
    * input volume, loaded volume, rejected volume (input − loaded, the
    * validators' hard filters) and warning volume (soft flags on loaded
    * rows — invalid RUT/email/negative balance, negative margin, amount
    * incoherence). Every number is an exact integer count off the same
    * validator plans the load itself runs. Each entity row is ONE global
    * aggregate over its loaded and input rows ([[entityCounts]]), so the
    * report costs one partial-agg pass per scan, one single-partition
    * exchange per entity and no join. The loaded side is the validator's
    * unsorted body: a Sort under that union would survive as a range
    * exchange plus a sampling job per entity (OperatorsSpec pins the job
    * count). */
  def syncReport(spark: SparkSession, dir: String): DataFrame = {
    def entityRow(entity: String, input: DataFrame, loaded: DataFrame,
        warn: Column): DataFrame =
      entityCounts(input, loaded, warn)
        .select(lit(entity).as("entidad"), col("*"))
    entityRow("clientes", Tables.customer(spark, dir),
        clientRows(spark, dir), ClientWarning)
      .unionByName(entityRow("productos", Tables.part(spark, dir),
        productRows(spark, dir), col("margen_negativo")))
      .unionByName(entityRow("documentos", Tables.orders(spark, dir),
        documentRows(spark, dir), !col("montos_coherentes")))
      .unionByName(entityRow("detalles", Tables.lineitem(spark, dir),
        detailRows(spark, dir), !col("linea_coherente")))
      .orderBy("entidad")
  }

  /** The soft flags a loaded client is warned for. */
  private val ClientWarning: Column =
    !(col("rut_valido") && col("email_valido") && col("saldo_ok"))

  /** One entity's report counts as ONE global aggregate over the tagged
    * union of its loaded and input rows: (n_entrada, n_cargados,
    * n_rechazados, n_advertencias), the warnings summed over the loaded
    * side only. `loaded` must be a validator's UNSORTED body: the
    * optimizer drops a Sort under an order-insensitive aggregate only
    * through narrow operators, never through a Union, and each surviving
    * Sort costs a range exchange plus a sampling job. */
  private def entityCounts(input: DataFrame, loaded: DataFrame,
      warn: Column): DataFrame =
    loaded.select(lit(true).as("_cargado"), warn.cast("long").as("_adv"))
      .unionByName(input.select(lit(false).as("_cargado"),
        lit(null).cast("long").as("_adv")))
      .agg(count_if(!col("_cargado")).as("n_entrada"),
        count_if(col("_cargado")).as("n_cargados"),
        coalesce(sum("_adv"), lit(0L)).as("n_advertencias"))
      .select(col("n_entrada"), col("n_cargados"),
        (col("n_entrada") - col("n_cargados")).as("n_rechazados"),
        col("n_advertencias"))

  val syncReportSql: String = s"""
    SELECT 'clientes' AS entidad,
      (SELECT count(*) FROM customer) AS n_entrada,
      count(*) AS n_cargados,
      (SELECT count(*) FROM customer) - count(*) AS n_rechazados,
      CAST(coalesce(SUM(CAST(NOT (rut_valido AND email_valido AND saldo_ok)
        AS INT)), 0) AS BIGINT) AS n_advertencias
    FROM ($validateClientsSql)
    UNION ALL
    SELECT 'productos',
      (SELECT count(*) FROM part), count(*),
      (SELECT count(*) FROM part) - count(*),
      CAST(coalesce(SUM(CAST(margen_negativo AS INT)), 0) AS BIGINT)
    FROM ($validateProductsSql)
    UNION ALL
    SELECT 'documentos',
      (SELECT count(*) FROM orders), count(*),
      (SELECT count(*) FROM orders) - count(*),
      CAST(coalesce(SUM(CAST(NOT montos_coherentes AS INT)), 0) AS BIGINT)
    FROM ($validateDocumentsSql)
    UNION ALL
    SELECT 'detalles',
      (SELECT count(*) FROM lineitem), count(*),
      (SELECT count(*) FROM lineitem) - count(*),
      CAST(coalesce(SUM(CAST(NOT linea_coherente AS INT)), 0) AS BIGINT)
    FROM ($validateDetailsSql)
    ORDER BY entidad"""

  /** A15 window start — the reference's `_run_complete_etl` syncs documents
    * from "the last 7 days" (scheduler_endpoints.py:197); pinned to the
    * synthetic corpus's final week (max o_orderdate 2001-08-01 − 7 days) so
    * the daily run is deterministic at every scale factor. */
  val DailyEtlCutoff: String = "2001-07-25"

  /** The A15 per-step report before the total row: clients and products run
    * COMPLETE (the reference re-syncs both wholesale every morning,
    * scheduler_endpoints.py:188-194), documents and their detail lines run
    * INCREMENTAL over the [[DailyEtlCutoff]] window (ibid:196-199). Every
    * count comes off the SAME validator plans the loads themselves run
    * (A1-A4) — no second rule encoding that could drift. */
  private def dailyEtlSteps(spark: SparkSession, dir: String): DataFrame = {
    val cutoffTs = lit(DailyEtlCutoff).cast("timestamp")
    def stepRow(paso: Long, entity: String, modo: String, input: DataFrame,
        loaded: DataFrame, warn: Column): DataFrame =
      entityCounts(input, loaded, warn).select(lit(paso).as("paso"),
        lit(entity).as("entidad"), lit(modo).as("modo"), col("*"))
    val winIds = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= cutoffTs)
      .select(col("o_orderkey").as("id_documento"))
    stepRow(1L, "clientes", "completa", Tables.customer(spark, dir),
        clientRows(spark, dir), ClientWarning)
      .unionByName(stepRow(2L, "productos", "completa",
        Tables.part(spark, dir), productRows(spark, dir),
        col("margen_negativo")))
      .unionByName(stepRow(3L, "documentos", "incremental", winIds,
        documentRows(spark, dir)
          .filter(col("fecha_emision") >= cutoffTs.cast("date")),
        !col("montos_coherentes")))
      .unionByName(stepRow(4L, "detalles", "incremental",
        Feeds.details(spark, dir).join(winIds, Seq("id_documento"),
          "left_semi"),
        detailRows(spark, dir).join(winIds, Seq("id_documento"),
          "left_semi"),
        !col("linea_coherente")))
  }

  /** A15: `q_daily_etl_report` — the reference's daily scheduler run
    * (`run_daily_etl` → `_run_complete_etl`, scheduler_endpoints.py:19-70,
    * 184-199) as ONE composed report: per step (clients complete, products
    * complete, documents + detail lines incremental over the last-week
    * window) the input/loaded/rejected/warning counts the per-entity sync
    * endpoints report individually (A13), plus the TOTAL row the scheduler
    * response summarizes — overall volumes and the run's success flag
    * (every step loaded something). This is the ETL-side capstone mirroring
    * how C81 composes the corpus gates: the steps stay independently
    * oracle-checked (A1-A4, A13), and this row proves they compose into the
    * one artifact the morning operator reads.
    *
    * Exactness: integer counts throughout; `paso_ok`/`run ok` are count
    * comparisons.
    *
    * Scale: each step is ONE 1-row aggregate over the tagged union of its
    * loaded and input rows ([[entityCounts]] — the validator bodies go in
    * unsorted, since a Sort under the union would survive as a range
    * exchange plus a sampling job); narrow codegen'd scans; the detail
    * window is a semi-join on the week's doc ids — at 100 TB the window is
    * days, not history, and the semi-join broadcasts it. The 4-row step
    * relation is computed ONCE and cache()d — the TOTAL row re-reads the
    * cache instead of replaying the validator subtrees (the C75 lesson:
    * union branches do not share exchanges), so composing the total adds
    * ZERO scans (PlanSpec-pinned). The cache is matched by plan, and a
    * plan names its files by path, not by content: each call first drops
    * the entry an earlier call cached, so a report over grown or rewritten
    * files never reads the old counts. */
  def dailyEtlReport(spark: SparkSession, dir: String): DataFrame = {
    val steps = dailyEtlSteps(spark, dir)
      .withColumn("paso_ok", col("n_cargados") > 0)
    steps.unpersist()
    Caches.keep(steps): Unit
    val total = steps.agg(sum("n_entrada").as("n_entrada"),
        sum("n_cargados").as("n_cargados"),
        sum("n_rechazados").as("n_rechazados"),
        sum("n_advertencias").as("n_advertencias"),
        bool_and(col("paso_ok")).as("paso_ok"))
      .select(lit(5L).as("paso"), lit("total").as("entidad"),
        lit("resumen").as("modo"), col("n_entrada"), col("n_cargados"),
        col("n_rechazados"), col("n_advertencias"), col("paso_ok"))
    steps.unionByName(total).orderBy("paso")
  }

  lazy val dailyEtlReportSql: String = s"""
    WITH win AS (
      SELECT o_orderkey AS id_documento FROM orders
      WHERE o_orderdate >= TIMESTAMP '$DailyEtlCutoff 00:00:00'),
    steps AS (
      SELECT CAST(1 AS BIGINT) AS paso, 'clientes' AS entidad,
        'completa' AS modo,
        (SELECT count(*) FROM customer) AS n_entrada,
        count(*) AS n_cargados,
        CAST(coalesce(SUM(CAST(NOT (rut_valido AND email_valido AND saldo_ok)
          AS INT)), 0) AS BIGINT) AS n_advertencias
      FROM ($validateClientsSql)
      UNION ALL
      SELECT 2, 'productos', 'completa',
        (SELECT count(*) FROM part), count(*),
        CAST(coalesce(SUM(CAST(margen_negativo AS INT)), 0) AS BIGINT)
      FROM ($validateProductsSql)
      UNION ALL
      SELECT 3, 'documentos', 'incremental',
        (SELECT count(*) FROM win), count(*),
        CAST(coalesce(SUM(CAST(NOT montos_coherentes AS INT)), 0) AS BIGINT)
      FROM ($validateDocumentsSql)
      WHERE id_documento IN (SELECT id_documento FROM win)
      UNION ALL
      SELECT 4, 'detalles', 'incremental',
        (SELECT count(*) FROM (${Feeds.detailsSql})
         WHERE id_documento IN (SELECT id_documento FROM win)),
        count(*),
        CAST(coalesce(SUM(CAST(NOT linea_coherente AS INT)), 0) AS BIGINT)
      FROM ($validateDetailsSql)
      WHERE id_documento IN (SELECT id_documento FROM win)),
    flagged AS (
      SELECT paso, entidad, modo, n_entrada, n_cargados,
        n_entrada - n_cargados AS n_rechazados, n_advertencias,
        n_cargados > 0 AS paso_ok
      FROM steps)
    SELECT * FROM flagged
    UNION ALL
    SELECT 5, 'total', 'resumen',
      CAST(SUM(n_entrada) AS BIGINT), CAST(SUM(n_cargados) AS BIGINT),
      CAST(SUM(n_rechazados) AS BIGINT), CAST(SUM(n_advertencias) AS BIGINT),
      bool_and(paso_ok)
    FROM flagged
    ORDER BY paso"""

  /** Replace-partition load — the Spark-native twin of the reference's
    * DELETE+INSERT fallback (`_bigquery_delete_and_insert`,
    * /root/reference/app/services/etl_service.py:296-325): when a keyed
    * MERGE is unavailable or failed, the degraded-but-safe load replaces
    * the affected slice wholesale. Here the slice is ONE hive-style
    * partition directory (`col=value`) of a partitioned parquet table:
    * the new rows are written to a staging dir and swapped in with
    * [[graft.sources.Export.publish]]'s write-new → rename publish, so
    * readers see the old slice or the new, never a mix, and re-running a
    * failed/duplicate load is IDEMPOTENT (run twice ≡ run once —
    * spec-pinned), which is the whole point of replace-over-append for
    * retry loops. Rows are filtered to the target partition value first
    * (a mislabeled row can never leak into the slice), and untouched
    * partitions are never rewritten — at 100 TB the cost is the slice,
    * not the table. */
  def replaceSlice(spark: SparkSession, tablePath: String,
      partitionCol: String, partitionValue: String, slice: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$tablePath/$partitionCol=$partitionValue")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (slice.columns.contains(partitionCol))
        slice.filter(col(partitionCol) === lit(partitionValue))
          .drop(partitionCol) // hive layout: the value lives in the path
      else slice
    // staged INSIDE the table root but `_`-prefixed: `key=value.staging`
    // would match hive partition naming and be discovered as a data
    // partition by any reader that runs while a swap is in flight (or
    // after a crash that is never retried) — duplicating the slice and
    // flipping the inferred partition type to string. Spark's FileIndex
    // ignores `_`-prefixed dirs, so the staging copy is invisible.
    val tmp = new Path(dir.getParent, "_" + dir.getName + ".staging")
    rows.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(tmp.toString)
    graft.sources.Export.publish(fs, tmp, dir)
  }
}
