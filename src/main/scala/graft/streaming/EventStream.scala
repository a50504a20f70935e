package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Exact._

/** D1: streaming twin of Analytics.eventsWindowAgg — the reference's
  * scheduled 4-hourly sync loop (/root/reference/app/api/
  * scheduler_endpoints.py) re-expressed as a continuous Structured
  * Streaming job: file source → event-time watermark → tumbling window agg.
  *
  * Scale design: the windowed aggregate is a streaming state store keyed on
  * (window, event_type) — bounded key space; the 1-hour watermark bounds
  * state retention, so a 1000-executor stream runs with O(active windows)
  * state, not O(history). Money math stays in integer cents so partial
  * (map-side) aggregation is exact.
  */
object EventStream {

  /** The driver's events.parquet schema under the CURRENT encoding: `ts`
    * is a µs wall-clock timestamp with no zone (Spark TIMESTAMP_NTZ; see
    * graft.sources.Tables.events for the batch-side normalization of the
    * same column). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** [[eventsSchema]] under the LEGACY encoding: parquet TIMESTAMP(NANOS)
    * read as a raw nanos long (session contract pins the legacy conf —
    * [[graft.GraftSession]]). */
  val eventsSchemaLegacy: StructType = StructType(
    eventsSchema.map(f =>
      if (f.name == "ts") StructField("ts", LongType) else f))

  /** File-source stream over a directory of events parquet files. Like
    * the batch loader, DISPATCHES on the file encoding (round-6 advice:
    * the stream used to hard-pin the new NTZ schema, so batch and
    * streaming supported different input surfaces): one footer read on
    * the driver ([[graft.sources.Tables.readParquet]], no Spark job) picks
    * the schema — an empty/unreadable directory defaults to the
    * current NTZ encoding — and both paths surface `ts` as a session
    * TIMESTAMP (UTC by the session contract) so watermarks/windows behave
    * identically to the batch twins built on Tables.events' UTC nanos. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val legacy = scala.util.Try(
      graft.sources.Tables.readParquet(spark, dir).schema("ts").dataType == LongType)
      .getOrElse(false)
    if (legacy)
      spark.readStream.schema(eventsSchemaLegacy).parquet(dir)
        .select(col("event_id"),
          expr("timestamp_micros(ts DIV 1000)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
    else
      spark.readStream.schema(eventsSchema).parquet(dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** Tumbling hourly window × event_type aggregation. Input needs columns
    * (ts: timestamp, event_type, value); works on any streaming or batch
    * DataFrame, so specs drive it from a MemoryStream. */
  def hourlyAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 hour").as("win"), col("event_type"),
        cents(col("value")).as("val_c"))
      .groupBy("win", "event_type")
      .agg(count(lit(1)).as("n_eventos"), sum(col("val_c")).as("sum_c"))
      .select(col("win.start").as("hora"), col("event_type"),
        col("n_eventos"), centsToUnits(col("sum_c")).as("valor_total"))

  /** D7: sliding-window streaming aggregation — the streaming twin of the
    * batch `q_events_sliding_window` (B25): 1-hour windows every 15
    * minutes. Structured Streaming's `window(ts, size, slide)` assigns each
    * event to its size/slide overlapping windows in the state store; the
    * watermark closes a window once event time passes its end, so state is
    * O(open windows × types) — the same constant-factor explode the batch
    * twin pays, never O(history). */
  def slidingAgg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 hour", "15 minutes").as("win"),
        col("event_type"), cents(col("value")).as("val_c"))
      .groupBy("win", "event_type")
      .agg(count(lit(1)).as("n_eventos"), sum(col("val_c")).as("sum_c"))
      .select(col("win.start").as("inicio"), col("event_type"),
        col("n_eventos"), centsToUnits(col("sum_c")).as("valor_total"))

  /** D13: streaming daily-active-users (B37's streaming face) — per-day
    * event count plus an HLL distinct-users sketch. Exact streaming
    * distinct would hold O(users/day) state per open window; the repo's
    * mergeable HLL aggregate (`graft_hll_sketch`, same algebra as B20/D8)
    * holds O(1) registers per day instead, watermark-closed. The estimate
    * is deterministic, so the two-micro-batch ≡ one-batch equality is
    * spec-pinned bit-for-bit, sketch column included. */
  /** D36: streaming per-window value QUANTILES (B52's streaming face,
    * completing the sketch triad's streaming coverage next to D13's HLL
    * and D8's exact counters) — per tumbling hour a quantile sketch of
    * the value cents ([[graft.functions.QuantileSketchAgg]], the same
    * distributive bucket counts as B52) plus the median/p90 readout as a
    * higher-order fold over the window's own registers. Exact streaming
    * quantiles would hold O(values/window) state; the sketch holds a
    * fixed (64−s)·2^s longs per open window, watermark-closed. Every
    * output column is exact integer arithmetic on deterministic
    * registers, so two-micro-batch ≡ one-batch bit-for-bit
    * (StreamingSpec). */
  def hourlyValueQuantiles(events: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    import graft.functions.Kernels
    val s = Kernels.QSketchS
    def pickLower(qPm: Int, out: String): Seq[(String, String)] = Seq(
      s"r_$qPm" -> s"(($qPm * n_valores) + 999) div 1000",
      s"b_$qPm" -> Kernels.qsketchPickSparkSql("regs", s"r_$qPm"),
      out -> Kernels.qsketchLowerSparkSql(s"b_$qPm", s))
    val base = events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 hour").as("win"),
        cents(col("value")).as("val_c"))
      .groupBy("win")
      .agg(count(lit(1)).as("n_valores"),
        expr(s"graft_qsketch_s(val_c, $s)").as("regs"))
    (pickLower(500, "p50_lo") ++ pickLower(900, "p90_lo"))
      .foldLeft(base) { case (df, (name, sql)) =>
        df.withColumn(name, expr(sql)) }
      .select(col("win.start").as("hora"), col("n_valores"),
        col("p50_lo"), col("p90_lo"))
  }

  def dailyActive(events: DataFrame, watermark: String = "1 day"): DataFrame = {
    val am2 = graft.functions.Kernels.HllAlphaM2
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 day").as("win"), col("user_id"))
      .groupBy("win")
      .agg(count(lit(1)).as("n_eventos"),
        expr("graft_hll_sketch(user_id)").as("regs"))
      .select(col("win.start").as("dia"), col("n_eventos"),
        expr(s"""CAST($am2 AS DOUBLE) / aggregate(regs, CAST(0 AS DOUBLE),
             (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))""").as("hll_dau"))
  }
}
