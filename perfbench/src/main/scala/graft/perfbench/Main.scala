package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One run's settings. `in` holds the generated inputs, `work` is scratch
  * space the run may write, `jvmSeconds` is the JVM's launch-to-main time
  * (the part of set-up before the session build). */
final case class Ctx(workload: String, seed: Long, seconds: Double,
    traced: Boolean, in: String, work: String, traceOut: String,
    jvmSeconds: Double, cores: Int, inputs: Map[String, (Long, Long)]) {
  /** (rows, bytes) of a generated table, by path relative to `in`. */
  def rows(table: String): Long = inputs(table)._1
  def bytes(table: String): Long = inputs(table)._2
}

/** A run's outcome: metric values by name, calls attempted, and the check
  * failures (each counts as one failed call). */
final case class Outcome(values: Map[String, Double], attempted: Int,
    problems: Seq[String])

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --in DIR
  * --work DIR --trace-out FILE --launch-ms T --cores N --inputs FILE`.
  * Prints one JSON line: {"correct", "attempted", "failed", "values"}. */
object Main {
  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val inputs = scala.io.Source.fromFile(o("inputs")).getLines()
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
    val ctx = Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("in"), o("work"), o("trace-out"),
      math.max(0L, entryMs - o("launch-ms").toLong) / 1000.0,
      o("cores").toInt, inputs)
    val out = ctx.workload match {
      case "etl_sync" => EtlSync.run(ctx)
      case "store_nightly" => StoreNightly.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val values = out.values.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${out.problems.isEmpty}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.problems.size}, "values": $values}""")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** Session set-up as a scheduled job pays it: one cold [[graft.GraftSession]],
  * kernel registration and a first table touch, in a fresh JVM. Returns the
  * session and the set-up seconds. */
object Setup {
  def session(ctx: Ctx)(touch: SparkSession => Unit): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[${ctx.cores}]", ctx.cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Kernels.register(spark)
    touch(spark)
    (spark, (System.nanoTime() - t0) / 1e9)
  }
}

/** The read phase: whole cycles over a workload's read calls by one client.
  * The first cycle is a warm-up — each plan's first call pays its code
  * generation — whose results are still fingerprinted. An untraced run then
  * keeps cycling until `ctx.seconds` have passed since the phase began,
  * with at least one sampled cycle, so every call runs at least twice and
  * the cross-cycle fingerprint check always applies. A traced run follows
  * the warm-up with one traced and one untraced cycle, so tracing overhead
  * is measured warm; its per-layer read metrics come from the traced
  * cycle. */
object ReadCycles {
  /** Runs the phase; returns the index in `tr.spans` where the samples
    * start (after the warm-up), and (traced run) the tracing overhead:
    * traced ÷ untraced cycle wall − 1. */
  def run(ctx: Ctx, tr: Tracer)(cycle: => Unit): (Int, Double) = {
    val start = tr.nowMs()
    tr.active = false
    tr.span("ReadCycles", "warmUp")(cycle)
    tr.active = ctx.traced
    val firstSample = tr.spans.size
    if (!ctx.traced) {
      var n = 0
      while (n < 1 || tr.nowMs() - start < ctx.seconds * 1000) {
        tr.span("ReadCycles", "cycle")(cycle)
        n += 1
      }
      (firstSample, 0.0)
    } else {
      val walls = Seq(true, false).map { on =>
        tr.active = on
        tr.span("ReadCycles", "cycle")(cycle)
        (on, tr.spans.last.ms)
      }
      tr.active = true
      val (traced, untraced) = walls.partition(_._1)
      (firstSample, traced.map(_._2).sum / untraced.map(_._2).sum - 1)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Bytes under a directory tree. */
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
