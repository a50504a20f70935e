package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Dev main: MEASURE the straggler curve `Skew.saltedAgg` exists to flatten
  * (the C102 → C113 loop closed with numbers instead of scaladoc).
  *
  * The hard case is a HOLISTIC aggregate on a hot key: Catalyst's map-side
  * partials bound collect-list state per TASK, but the reduce step for one
  * key is a single task, so a bot user (C102's named 100 TB sentinel) grows
  * one straggler without bound while total work stays linear — invisible to
  * ScaleProbe's wall/work gates, visible only in MAX TASK time. The salt
  * spreads that reduce over `factor` tasks and re-merges k-bounded
  * partials.
  *
  * Probe: the sf0.1 events table plus ONE injected bot user with
  * [[HotBase]]·k rows at k = 1/4/16; both plans compute the identical
  * per-user (count, cents total, exact top-3) aggregate (the C113 shape,
  * result equality spec-pinned in SkewSpec). The salted run follows the
  * deployment rule factor = [[BaseFactor]]·k (salt ∝ hot-key depth — the
  * same device as the corpus-scaled quantizer/bloom/recall-mod probes).
  *
  * Gates: the salted plan's max-task curve stays FLAT
  * (≤ [[SaltedMaxRatio]]× across 16× hot-key growth) AND the unsalted
  * control GROWS (≥ [[ControlMinRatio]]× — proving the probe would catch
  * the straggler it exists to catch).
  *
  * Usage: `sbt "runMain graft.SkewProbe [baseSfDir]"`; set
  * SPARK_GRAFT_SKEW_OUT to also write the table to a file.
  */
object SkewProbe {

  /** Bot rows at k = 1. */
  val HotBase: Long = 500000L
  /** Salt fan-out at k = 1 (scaled by k per the deployment rule). */
  val BaseFactor: Int = 8
  /** Hot-key inflation steps. */
  val Scales: Seq[Int] = Seq(1, 4, 16)
  /** Salted max-task gate across the full sweep (flat + headroom). */
  val SaltedMaxRatio: Double = 3.0
  /** The unsalted control must grow at least this much or the probe is
    * not measuring a straggler at all. */
  val ControlMinRatio: Double = 3.0
  /** Floor so scheduler noise on a tiny base cannot fake a breach. */
  val FloorSec: Double = 0.05
  /** Bot rows per generated partition — held CONSTANT across scales so
    * map-side tasks stay fixed-size and the only task that can grow with
    * k is the hot key's reduce step (the straggler under test). */
  val RowsPerPart: Long = 100000L

  /** Base events + one bot user (user_id −1, distinct event ids above every
    * real id) with n deterministic rows. */
  private def withBot(spark: SparkSession, dir: String, n: Long): DataFrame = {
    val base = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    val parts = math.max(32L, n / RowsPerPart).toInt
    val bot = spark.range(0L, n, 1L, parts).select(lit(-1L).as("user_id"),
      (col("id") + lit(1000000000L)).as("event_id"),
      (col("id") % 997L).as("cents"))
    base.unionByName(bot)
  }

  private def aggCols = Seq(
    count(lit(1)).as("n_events"), sum("cents").as("value_cents_total"),
    expr(s"slice(sort_array(collect_list(cents), false), 1, ${Skew.SaltedTopK})")
      .as("t"))

  private def unsalted(in: DataFrame): DataFrame =
    in.groupBy("user_id").agg(aggCols.head, aggCols.tail: _*)

  private def salted(in: DataFrame, factor: Int): DataFrame =
    Skew.saltedAgg(in, "user_id", col("event_id"), factor,
      partials = aggCols,
      merge = Seq(sum("n_events").as("n_events"),
        sum("value_cents_total").as("value_cents_total"),
        expr(s"slice(sort_array(flatten(collect_list(t)), false), 1, ${Skew.SaltedTopK})")
          .as("t")))

  /** (wall seconds, max single-task seconds) of one cache-cold run. */
  private def timeOnce(spark: SparkSession, df: => DataFrame): (Double, Double) = {
    val r = graft.obs.Meter.measure(spark)(
      df.write.format("noop").mode("overwrite").save())
    spark.catalog.clearCache()
    (r.wallSec, r.maxTaskSec)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup (codegen/JIT) at the base scale, both plans
    timeOnce(spark, unsalted(withBot(spark, baseDir, HotBase)))
    timeOnce(spark, salted(withBot(spark, baseDir, HotBase), BaseFactor))

    // min-of-2 per (plan, scale)
    def measure(mk: Int => DataFrame): Map[Int, (Double, Double)] =
      Scales.map { k =>
        val s = Seq.fill(2)(timeOnce(spark, mk(k)))
        k -> (s.map(_._1).min, s.map(_._2).min)
      }.toMap
    val un = measure(k => unsalted(withBot(spark, baseDir, HotBase * k)))
    val sa = measure(k =>
      salted(withBot(spark, baseDir, HotBase * k), BaseFactor * k))

    val header = f"| ${"plan"}%-22s |" +
      Scales.map(k => f" ${k.toString + "x"}%15s |").mkString +
      " 16x/1x |  gate |"
    val sub = f"| ${""}%-22s |" +
      Scales.map(_ => f" ${"wall / maxtask"}%15s |").mkString +
      "        |       |"
    val sep = "|" + "-" * 24 + "|" + ("-" * 17 + "|") * Scales.size +
      "--------|-------|"
    def row(name: String, t: Map[Int, (Double, Double)], gate: Double => Boolean)
        : (String, Boolean) = {
      val ratio = t(Scales.last)._2 / math.max(t(Scales.head)._2, FloorSec)
      val ok = gate(ratio)
      (f"| $name%-22s |" + Scales.map { k =>
        val (w, m) = t(k); f" $w%6.2fs/$m%6.2fs |" }.mkString +
        f" $ratio%5.1fx | ${if (ok) " PASS" else " FAIL"} |", ok)
    }
    val (r1, ok1) = row("unsalted (control)", un, _ >= ControlMinRatio)
    val (r2, ok2) = row("salted factor=8k", sa, _ <= SaltedMaxRatio)
    val lines = Seq(header, sub, sep, r1, r2)
    lines.foreach(println)
    val out = sys.env.getOrElse("SPARK_GRAFT_SKEW_OUT", "")
    if (out.nonEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        lines.mkString("", "\n", "\n"))
    spark.stop()
    if (!ok1 || !ok2) {
      System.err.println(s"[skewprobe] gate failure: control grew=${ok1}, " +
        s"salted flat=${ok2}")
      sys.exit(1)
    }
  }
}
