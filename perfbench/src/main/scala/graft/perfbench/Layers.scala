package graft.perfbench

/** Per-layer metrics of the traced run that more than one workload
  * reports. A declared metric a workload does not report is filled with 0
  * by the runner: that layer is not called there, which is the prediction
  * for that pairing. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** The `spark.*` engine metrics over traced leaf calls, per call. */
  def engine(calls: Seq[Span]): Map[String, Double] = {
    val n = math.max(calls.size, 1).toDouble
    def per(f: CallStats => Double) = calls.map(c => f(c.stats)).sum / n
    val wallS = calls.map(_.ms / 1000).sum
    val taskS = calls.map(_.stats.taskMs / 1000.0).sum
    val driverS = calls.map { c =>
      val busy = Trace.covered(
        c.stats.taskIntervals.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq,
        c.startMs, c.endMs)
      (c.ms - busy) / 1000
    }.sum
    Map(
      "spark.call_s" -> wallS / n,
      "spark.jobs" -> per(_.jobs),
      "spark.stages" -> per(_.stages),
      "spark.tasks" -> per(_.tasks),
      "spark.driver_s" -> driverS / n,
      "spark.driver_frac" -> (if (wallS > 0) driverS / wallS else 0.0),
      "spark.task_s" -> taskS / n,
      "spark.parallelism" -> (if (wallS > 0) taskS / wallS else 0.0),
      "spark.task_wait_s" -> per(_.waitMs / 1000.0),
      "spark.shuffle_write_mb" -> per(_.shuffleWrite / MB),
      "spark.shuffle_read_mb" -> per(_.shuffleRead / MB),
      "spark.spill_mb" -> per(_.spill / MB),
      "spark.gc_s" -> per(_.gcMs / 1000.0),
      "spark.peak_exec_mem_mb" ->
        (if (calls.isEmpty) 0.0 else calls.map(_.stats.peakMem / MB).max),
      "spark.failed_tasks" -> calls.map(_.stats.failedTasks.toDouble).sum)
  }

  /** `Tables.*`: the scans under a set of calls — task time of the tasks
    * that read input files, and the bytes they read — per scheduled run. */
  def tables(calls: Seq[Span], runs: Int): Map[String, Double] = Map(
    "Tables.scan_ms" -> calls.map(_.stats.scanTaskMs.toDouble).sum / math.max(runs, 1),
    "Tables.bytes_read_mb" -> calls.map(_.stats.bytesRead / MB).sum / math.max(runs, 1))

  def mb(bytes: Double): Double = bytes / MB
}
