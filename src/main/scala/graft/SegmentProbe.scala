package graft

import org.apache.spark.sql.SparkSession

/** Dev main (round 11): MEASURE the grouped quantile sketch's GRANULARITY
  * contract instead of documenting it. [[graft.functions.QuantileSketchAgg]]
  * holds (64−s)·2^s longs (29 KiB at s = 6) PER GROUP, and its scaladoc
  * warns the grouping key is meant to be a SEGMENT (type, day, shard), not
  * a per-entity key, because state — and with it the partial-aggregate
  * shuffle — multiplies by the group count. Round 10 shipped that as a
  * contract-by-comment; this probe runs B54's grouped build + readout over
  * a FIXED corpus while exploding the segment count 1× / 16× / 256×
  * (event_type × event_id-mod buckets —
  * [[graft.operators.Sketches.valueQuantilesBySyntheticSegments]]), the
  * sketch-family analog of round 9's standing-index StreamProbe axis.
  *
  * What the contract PROMISES (and the gates pin):
  *  - cost LINEAR in segment count, never quadratic: total work fits
  *    corpus_pass + α·segments, so work(256×) ≤ [[Headroom]] ·
  *    (256/16) · work(16×) — a per-segment subtree replay blows through;
  *  - per-segment cost FLAT: work/segment at 256× ≤ [[Headroom]] ·
  *    work/segment at 16× (the 1× point is corpus-pass-dominated, so the
  *    per-segment gates compare the two exploded points);
  *  - state ∝ segments made VISIBLE: shuffle write bytes (the serialized
  *    partial sketch vectors) must also stay within [[Headroom]] of
  *    linear in segments — the direct measurement of the 29 KiB-per-group
  *    buffer the scaladoc talks about.
  *
  * What it does NOT promise: flat total cost in segment count — at
  * per-entity granularity the documented mitigation is sizing s down or
  * pre-aggregating entities onto segments, and the measured linear curve
  * here is exactly the cost model that advice is based on.
  *
  * Usage: `sbt "runMain graft.SegmentProbe [baseSfDir]"` (default sf0.1);
  * set SPARK_GRAFT_SEGMENT_OUT to also write the table (SCALING_r11.md
  * carries it). Exits nonzero on a gate breach.
  */
object SegmentProbe {

  val SegMuls: Seq[Int] = Seq(1, 16, 256)
  /** Headroom over perfectly linear / perfectly flat. */
  val Headroom: Double = 1.5
  val WorkFloorSec: Double = 2.0

  private case class Sample(wall: Double, workSec: Double, shufMb: Double,
      rows: Long)

  private def timeOnce(spark: SparkSession, dir: String,
      segMul: Int): Sample = {
    lazy val df = graft.operators.Sketches
      .valueQuantilesBySyntheticSegments(spark, dir, segMul)
    val r = graft.obs.Meter.measure(spark)(
      df.write.format("noop").mode("overwrite").save())
    val rows = df.count() // off both clocks (cached sketch: recount cheap)
    spark.catalog.clearCache()
    Sample(r.wallSec, r.taskSec, r.shuffleWriteMb, rows)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    timeOnce(spark, dir, 1) // warmup: codegen + parquet footers
    val samples: Map[Int, Sample] = SegMuls.map { k =>
      val a = timeOnce(spark, dir, k); val b = timeOnce(spark, dir, k)
      k -> Sample(math.min(a.wall, b.wall), math.min(a.workSec, b.workSec),
        math.min(a.shufMb, b.shufMb), a.rows)
    }.toMap

    val header = f"| ${"segments"}%-9s | ${"out rows"}%8s | ${"wall"}%7s " +
      f"| ${"work"}%8s | ${"shuffle"}%9s | ${"work/seg"}%9s |"
    val sep = "|" + "-" * 11 + "|" + "-" * 10 + "|" + "-" * 9 + "|" +
      "-" * 10 + "|" + "-" * 11 + "|" + "-" * 11 + "|"
    println(header); println(sep)
    val rows = SegMuls.map { k =>
      val sm = samples(k)
      val line = f"| ${k + "x"}%-9s | ${sm.rows}%8d | ${sm.wall}%6.2fs " +
        f"| ${sm.workSec}%7.2fs | ${sm.shufMb}%8.2fMB | ${sm.workSec / k}%8.3fs |"
      println(line); line
    }
    val (mid, last) = (SegMuls(1), SegMuls.last)
    val grow = last.toDouble / mid
    val linRatio = samples(last).workSec /
      (grow * math.max(samples(mid).workSec, WorkFloorSec))
    val perSegRatio = (samples(last).workSec / last) /
      (math.max(samples(mid).workSec, WorkFloorSec) / mid)
    val shufRatio = samples(last).shufMb /
      (grow * math.max(samples(mid).shufMb, 1.0))
    val ok = linRatio <= Headroom && perSegRatio <= Headroom &&
      shufRatio <= Headroom
    val verdict =
      f"gate (vs linear-in-segments, ${mid}x -> ${last}x): " +
        f"work ${linRatio}%.2fx, work/seg ${perSegRatio}%.2fx, " +
        f"shuffle ${shufRatio}%.2fx (each <= $Headroom%.1fx) -> " +
        (if (ok) "PASS" else "FAIL")
    println(verdict)
    val out = sys.env.getOrElse("SPARK_GRAFT_SEGMENT_OUT", "")
    if (out.nonEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        (Seq(header, sep) ++ rows :+ verdict).mkString("", "\n", "\n"))
    spark.stop()
    if (!ok) {
      System.err.println(s"[segmentprobe] granularity gate breached")
      sys.exit(1)
    }
  }
}
