package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.Corpus
import graft.operators.{DedupArtifacts, DedupOps}
import graft.sources.Tables

/** The corpus dedup job's layers, measured once on a generated corpus in
  * the `etl_sync` traced run, after its measured phases: near-duplicate
  * candidates (MinHash LSH), the duplicate clusters (the iterative
  * components loop), edit-distance verification, the transitivity census,
  * and the once-a-day index build into a fresh root. The clusters and a
  * seeded sample of the edit distances are checked against plain-Scala
  * computations. */
object DedupPass {
  final case class Result(values: Map[String, Double], attempted: Int,
      problems: Seq[String])

  /** Pairs of the edit-distance sample checked against a plain DP. */
  val EditSample = 200

  def run(spark: SparkSession, dir: String, root: String, tr: Tracer,
      seed: Long): Result = {
    val pairs = tr.call("DedupOps", "nearDuplicates") {
      Corpus.nearDuplicates(spark, dir).collect()
    }.map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lsh = tr.spans.last
    val clusters = tr.call("DedupOps", "duplicateClusters") {
      Corpus.duplicateClusters(spark, dir).collect()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val components = tr.spans.last
    val edits = tr.call("DedupOps", "dedupEditDistance") {
      DedupOps.dedupEditDistance(spark, dir).collect()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val edit = tr.spans.last
    tr.call("DedupOps", "dedupTransitivity")(DedupOps.dedupTransitivity(spark, dir).collect())
    val transitivity = tr.spans.last
    tr.call("DedupArtifacts", "writePairs")(DedupArtifacts.writePairs(spark, dir, root))
    tr.call("DedupArtifacts", "writeComponents")(DedupArtifacts.writeComponents(spark, dir, root))
    val writes = tr.spans.takeRight(2)

    // the LSH domain and the normalized texts, computed on the driver
    val norm = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Checks.normalize(r.getString(1))).toMap
    val domain = norm.collect { case (id, t) if t.codePointCount(0, t.length) >= 5 => id }.toSet
    val rng = new scala.util.Random(seed)
    val sample = rng.shuffle(edits).take(EditSample)
    val problems = Checks.clusters(domain, pairs, clusters) ++
      Checks.editDistances(sample, norm)

    val verified = edits.count(_._3 >= 0)
    Result(Map(
      "DedupOps.lsh_ms" -> lsh.ms,
      "DedupOps.components_ms" -> components.ms,
      "DedupOps.components_jobs" -> components.stats.jobs.toDouble,
      "DedupOps.edit_distance_ms" -> edit.ms,
      "DedupOps.transitivity_ms" -> transitivity.ms,
      "DedupOps.candidate_pairs" -> edits.size.toDouble,
      "DedupOps.verified_frac" -> verified.toDouble / math.max(edits.size, 1),
      "DedupArtifacts.write_ms" -> writes.map(_.ms).sum,
      "DedupArtifacts.bytes_written_mb" -> Layers.mb(Stats.dirBytes(root).toDouble)),
      attempted = 6, problems)
  }
}
