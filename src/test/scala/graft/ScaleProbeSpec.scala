package graft

import org.apache.spark.sql.functions._

/** The scaling-curve harness is only evidence if its re-salting really has
  * the properties SCALING_r07.md claims: replicas must preserve
  * within-replica duplicate structure EXACTLY (else the curve measures
  * distorted work) and must be mutually invisible to the similarity
  * families (else replicas deepen groups instead of multiplying them and
  * pair work grows quadratically BY CONSTRUCTION, poisoning the gate).
  * These pins make a regression in the inflater itself fail loudly rather
  * than silently re-shaping every measured curve. */
class ScaleProbeSpec extends SparkSpec {
  private val Off = 1000000000L

  private lazy val root: String = {
    val d = tmpDir("graft-scaleprobe-spec-")
    ScaleProbe.inflate(spark, sf, d, 2)
    d
  }

  test("inflation doubles every corpus table's row count") {
    val base = Seq("documents", "embeddings", "events")
      .map(t => spark.read.parquet(s"$sf/$t.parquet").count())
    val got = Seq("documents", "embeddings", "events")
      .map(t => spark.read.parquet(s"$root/$t.parquet").count())
    assert(got === base.map(_ * 2))
  }

  test("exact-dup groups multiply, never deepen or cross replicas") {
    val groups = spark.read.parquet(s"$root/documents.parquet")
      .groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
    val baseGroups = spark.read.parquet(s"$sf/documents.parquet")
      .select(md5(lower(trim(col("text")))).as("h")).distinct().count()
    // groups multiply by the replica count (rotation is a bijection on text)
    assert(groups.count() === baseGroups * 2)
    // and no group spans replicas (no cross-replica collision ever)
    assert(groups.filter(col("hi") - col("lo") >= Off).count() === 0L)
  }

  test("document replica preserves lang/source/n_chars distribution") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"),
        sum("n_chars").as("chars"))
    val rep = spark.read.parquet(s"$root/documents.parquet")
      .filter(col("doc_id") >= Off)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"),
        sum("n_chars").as("chars"))
    assert(base.exceptAll(rep).count() === 0L && rep.exceptAll(base).count() === 0L)
  }

  test("embedding replica is an exact permutation: element multisets preserved, norms to rounding") {
    val inflated = spark.read.parquet(s"$root/embeddings.parquet")
    val pairs = inflated.filter(col("vec_id") < Off)
      .select(col("vec_id"), sort_array(col("embedding")).as("a"),
        expr("graft_norm2(embedding)").as("na"))
      .join(inflated.filter(col("vec_id") >= Off)
          .select((col("vec_id") - Off).as("vec_id"),
            sort_array(col("embedding")).as("b"),
            expr("graft_norm2(embedding)").as("nb")),
        Seq("vec_id"))
    assert(pairs.count() > 0)
    // elements are BITWISE preserved (sorted multisets equal); the norm is
    // a SEQUENTIAL fold, so a permuted accumulation order legitimately
    // differs in the last float bits — pin it to a tight tolerance, not
    // bit equality
    assert(pairs.filter(col("a") =!= col("b") ||
      abs(col("na") - col("nb")) > lit(1e-9)).count() === 0L)
  }

  test("event replica keeps the time range and doubles user cardinality") {
    val base = spark.read.parquet(s"$sf/events.parquet")
      .agg(min("ts"), max("ts"), countDistinct("user_id")).head()
    val got = spark.read.parquet(s"$root/events.parquet")
      .agg(min("ts"), max("ts"), countDistinct("user_id")).head()
    assert(got.get(0) === base.get(0) && got.get(1) === base.get(1))
    assert(got.getLong(2) === base.getLong(2) * 2)
  }

  test("slice probe reclaim gate judges pairs, not independent mins") {
    import graft.ScaleProbe.reclaimGate
    // every pair within ratio: pass
    assert(reclaimGate(Seq((2.0, 2.2), (2.0, 2.4), (2.1, 2.5))))
    // uniform 1.4x slowdown on 2s reads: every pair fails both the
    // ratio and the 0.3s floor — the round-14 min-vs-min + flat
    // allowance shape would have PASSED this (2.8 <= 1.25*2.0 + 0.3)
    assert(!reclaimGate(Seq((2.0, 2.8), (2.0, 2.8), (2.0, 2.8))))
    // one outlier pair cannot flip a majority in either direction
    assert(reclaimGate(Seq((2.0, 2.1), (2.0, 9.0), (2.0, 2.2))))
    assert(!reclaimGate(Seq((2.0, 0.5), (2.0, 3.5), (2.0, 3.6))))
    // sub-noise absolute gaps pass on short reads regardless of ratio
    assert(reclaimGate(Seq((0.2, 0.45), (0.2, 0.4), (0.2, 0.48))))
  }

  test("every scale-probe name resolves, and an unknown name is rejected before any work") {
    assert(ScaleProbe.Probes.forall(SparkEntry.queries.contains))
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def listing() = scala.util.Using.resource(java.nio.file.Files.list(tmp))(
      _.toArray.map(_.toString).toSet)
    val before = listing()
    val e = intercept[IllegalArgumentException](
      ScaleProbe.main(Array(sf, "slice,no_such_probe")))
    assert(e.getMessage.contains("no_such_probe") &&
      ScaleProbe.Sweeps.forall(e.getMessage.contains) &&
      e.getMessage.contains("q_dedup_exact"))
    assert(listing() === before)
    // a probe name selects the `scale` sweep with that probe alone
    val p = ScaleProbe.plan(Seq("slice", "q_dedup_exact"))
    assert(p.sweeps === Seq("scale", "slice") && p.probes.map(_._1) === Seq("q_dedup_exact"))
    assert(ScaleProbe.plan(Nil).sweeps === ScaleProbe.Sweeps)
    assert(ScaleProbe.plan(Seq("skew")).probes.isEmpty)
  }

  test("each former probe gate keeps its floor and bound: at the bound passes, just over fails") {
    import ScaleProbe._
    if (sys.env.get("SPARK_GRAFT_SCALE_FACTORS").isEmpty)
      assert(Scales === Seq(1, 2, 4, 8))
    // (gate, floor, bound, grows)
    val rows = Seq(
      (ScaleWall, 0.3, 1.5 * Scales.last / Scales.head, false),
      (ScaleWork, 2.0, 2.0 * Scales.last / Scales.head, false),
      (StreamVolume, 0.3, 1.5 * 8, false),
      (StreamIndex, 0.3, 2.0, false),
      (SegmentWork, 2.0, 1.5 * 16, false),
      (SegmentShuffle, 1.0, 1.5 * 16, false),
      (SkewSalted, 0.05, 3.0, false),
      (SkewControl, 0.05, 3.0, true))
    for ((gate, floor, bound, grows) <- rows) {
      assert(gate === Gate(floor, bound, grows))
      // a first point above every floor; x4 is exact in binary
      val first = 4.0
      val at = first * bound
      assert(gate.pass(first, at), gate)
      if (grows) {
        assert(!gate.pass(first, math.nextDown(at)), gate)
        // the floor applies: a tiny base cannot fake the growth
        assert(!gate.pass(floor / 4, floor * bound * (1 - 1e-9)), gate)
        assert(growsAtLeast(floor / 4, floor * bound * (1 - 1e-9), 0.0, bound))
      } else {
        assert(!gate.pass(first, math.nextUp(at)), gate)
        // the floor applies: a tiny base cannot fake a breach
        assert(gate.pass(floor / 4, floor * bound * (1 - 1e-9)), gate)
        assert(!nearLinear(floor / 4, floor * bound * (1 - 1e-9), 0.0, bound))
      }
    }
  }
}
