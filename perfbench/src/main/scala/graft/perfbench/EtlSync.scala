package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Etl}
import graft.sources.Tables

/** `etl_sync` — the paper's own surface: one scheduled sync run (extract a
  * fixed-width window, validate, merge into the warehouse table, load the
  * slice, report), then the morning reports, cycled, by one client that
  * waits for each call. Almost every call is a handful of small jobs, so
  * the driver's per-job floor, not row work, sets the pace. */
object EtlSync {
  val WindowDays = 30
  val EventWindowDays = 2

  val reports: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "pricingSummary" -> graft.Reports.pricingSummary,
    "salesByMonth" -> graft.Reports.salesByMonth,
    "customerStats" -> graft.Reports.customerStats,
    "customerRfm" -> graft.Reports.customerRfm,
    "ordersBacklog" -> graft.Reports.ordersBacklog,
    "customerOrderDistribution" -> graft.Reports.customerOrderDistribution,
    "topSupplierRevenue" -> graft.Reports.topSupplierRevenue,
    "nationRevenue" -> Analytics.nationRevenue,
    "marginAnalysis" -> Analytics.marginAnalysis)

  private val validators: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("validateClients", "clientes", Etl.validateClients),
    ("validateProducts", "productos", Etl.validateProducts),
    ("validateDocuments", "documentos", Etl.validateDocuments),
    ("validateDetails", "detalles", Etl.validateDetails))

  def run(ctx: Ctx): Outcome = {
    val base = s"${ctx.in}/base"
    val (spark, sessionS) = Setup.session(ctx)(s => Tables.orders(s, base).head(1): Unit)
    val problems = ArrayBuffer[String]()
    var attempted = 0

    // the sync window: a seed-chosen, fixed-width slice of one order year
    // and of the event month
    val rng = new java.util.Random(ctx.seed)
    val yr = 1995 + rng.nextInt(6)
    val start = java.time.LocalDate.of(yr, 1, 1).plusDays(rng.nextInt(365 - WindowDays))
    val end = start.plusDays(WindowDays)
    val evStart = java.time.LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(28))
    val evEndUs = evStart.plusDays(EventWindowDays).toEpochDay * 86400L * 1000000L

    // the warehouse table the window merges into (generated: orders
    // partitioned by year, with every fifth key not yet loaded)
    val target = s"${ctx.in}/warehouse/orders"
    val slicePath = s"$target/o_year=$yr"
    val baseKeys = spark.read.parquet(slicePath).select("o_orderkey").collect()
      .map(_.getLong(0)).toSet
    val targetRows0 = spark.read.parquet(target).count()

    val tr = new Tracer(spark, ctx.traced)
    def call[A](layer: String, name: String)(body: => A): A = {
      attempted += 1
      tr.call(layer, name)(body)
    }

    // ---- the scheduled sync run
    val (window, validRows, merged, sync, daily) = tr.span("Etl", "syncRun") {
      val window = call("Etl", "incrementalSync") {
        Etl.incrementalSync(spark, base, start.toString)
          .filter(col("o_orderdate") < lit(end.toString).cast("date")).collect()
      }
      call("Etl", "syncEvents") {
        Etl.syncEvents(spark, base, evStart.toString)
          .filter(col("ts_us") < evEndUs).collect()
      }
      val validRows = validators.map { case (name, entity, f) =>
        entity -> call("Etl", name)(f(spark, base).collect()).length.toLong
      }.toMap
      val updates = spark.createDataFrame(
        java.util.Arrays.asList(window.toIndexedSeq: _*), window.head.schema)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
        .withColumn("o_orderstatus", lit("U"))
      val merged = call("Etl", "merge") {
        val m = Etl.merge(spark.read.parquet(slicePath), updates, "o_orderkey").cache()
        m.count(); m
      }
      call("Etl", "replaceSlice") {
        Etl.replaceSlice(spark, target, "o_year", yr.toString, merged)
      }
      call("Etl", "scd2History")(Etl.scd2History(spark, base).collect())
      val sync = call("Etl", "syncReport")(Etl.syncReport(spark, base).collect())
      val daily = call("Etl", "dailyEtlReport")(Etl.dailyEtlReport(spark, base).collect())
      (window, validRows, merged, sync, daily)
    }
    val syncRun = tr.spans.last
    val chain = tr.spans.filter(_.parent == syncRun.id).toSeq

    val windowKeys = window.map(_.getLong(0)).toSet
    problems ++= Checks.mergedSlice(
      merged.select("o_orderkey").collect().map(_.getLong(0)).toSeq, baseKeys, windowKeys)
    merged.unpersist()
    val syncRows = sync.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    problems ++= Checks.syncReport(syncRows,
      Map("clientes" -> ctx.rows("base/customer"), "productos" -> ctx.rows("base/part"),
        "documentos" -> ctx.rows("base/orders"), "detalles" -> ctx.rows("base/lineitem")),
      validRows)
    problems ++= Checks.dailyTotal(daily.map(r =>
      (r.getLong(0), (3 to 6).map(r.getLong), r.getBoolean(7))).toSeq)
    val targetRows = spark.read.parquet(target).count()
    if (targetRows != targetRows0 + (windowKeys -- baseKeys).size)
      problems += s"target holds $targetRows rows after the load, expected " +
        s"${targetRows0 + (windowKeys -- baseKeys).size}"

    // ---- the morning reports, cycled
    val fps = new Fingerprints
    val (firstSample, overhead) = ReadCycles.run(ctx, tr) {
      reports.foreach { case (name, f) =>
        problems ++= fps.check(name, call("Reports", name)(f(spark, base).collect()))
      }
    }
    val reportSpans = tr.spans.drop(firstSample).filter(_.layer == "Reports").toSeq
    // off the clock, traced run only: the corpus dedup job's layers
    val dedup = Option.when(ctx.traced)(
      DedupPass.run(spark, base, s"${ctx.work}/dedup", tr, ctx.seed))
    dedup.foreach { d => attempted += d.attempted; problems ++= d.problems }
    tr.writeSpans(java.nio.file.Paths.get(ctx.traceOut))

    val values =
      if (!ctx.traced) {
        val consumed = Seq("customer", "part", "orders", "lineitem", "events")
          .map(t => ctx.rows(s"base/$t")).sum
        Map(
          "setup_s" -> (ctx.jvmSeconds + sessionS),
          "sync_run_s" -> syncRun.ms / 1000,
          "rows_per_s" -> consumed / (syncRun.ms / 1000),
          "report_p50_ms" -> Stats.median(reportSpans.map(_.ms)),
          "store_bytes_per_input_byte" ->
            Stats.dirBytes(target).toDouble / ctx.bytes("base/orders"))
      } else {
        val traced = reportSpans.filter(_.stats != null)
        def stepMs(names: String*) =
          chain.filter(s => names.contains(s.name)).map(_.ms).sum
        Layers.engine(chain ++ traced) ++ Layers.tables(chain, 1) ++ Map(
          "Etl.sync_ms" -> stepMs("incrementalSync", "syncEvents"),
          "Etl.validate_ms" -> stepMs(validators.map(_._1): _*),
          "Etl.merge_ms" -> stepMs("merge"),
          "Etl.load_ms" -> stepMs("replaceSlice"),
          "Etl.report_ms" -> stepMs("scd2History", "syncReport", "dailyEtlReport"),
          "Etl.reject_frac" -> syncRows.map(_._4).sum.toDouble / syncRows.map(_._2).sum,
          "Reports.query_ms" -> Stats.median(traced.map(_.ms)),
          "Reports.query_p90_ms" -> Stats.quantile(traced.map(_.ms), 0.9),
          "Reports.jobs_per_query" -> Stats.mean(traced.map(_.stats.jobs.toDouble)),
          "trace_overhead_frac" -> overhead) ++ dedup.get.values
      }
    Outcome(values, attempted, problems.toSeq)
  }
}
