package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: write the FULL `explain("formatted")` physical plan of each
  * named query to `<outDir>/<query>_<suffix>.txt` — the round-16
  * optimization evidence files (plans/r16/<q>_before.txt / _after.txt).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query>...
  * Session shape matches Bench (GraftSession at local[32], 32 shuffle
  * partitions) so the dumped plan is the one the bench executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val qs = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- qs) {
      // explained, never run: no cache is filled, so the dump shows the
      // plan the first action would start from
      val plan = operators.Caches.releasing(SparkEntry.queries(q)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
