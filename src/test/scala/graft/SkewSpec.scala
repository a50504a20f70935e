package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salting helpers must be pure rewrites: same results as the direct
  * join/agg, with the key spread over `factor` sub-keys in between. */
class SkewSpec extends SparkSpec {

  test("saltedJoin matches the plain join result") {
    val sp = spark
    import sp.implicits._
    // one hot key (k=1) plus a long tail
    val large = ((1 to 500).map(i => (1L, i.toLong)) ++
      (1 to 50).map(i => (i.toLong + 1, i.toLong))).toDF("k", "row_id")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "label")

    val plain = large.join(small, "k")
    val salted = Skew.saltedJoin(large, small, "k", col("row_id"), factor = 8)

    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedAgg matches the plain aggregation") {
    val sp = spark
    import sp.implicits._
    val df = ((1 to 1000).map(i => (1L, i.toLong)) ++
      (1 to 30).map(i => (2L, i.toLong))).toDF("k", "v")

    val plain = df.groupBy("k")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n"), max("v").as("max_v"))
    val salted = Skew.saltedAgg(df, "k", col("v"), factor = 8,
      partials = Seq(sum("v").as("sum_v"), count(lit(1)).as("n"), max("v").as("max_v")),
      merge = Seq(sum("sum_v").as("sum_v"), sum("n").as("n"), max("max_v").as("max_v")))

    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedJoin actually spreads a hot key over multiple salts") {
    val sp = spark
    import sp.implicits._
    val large = (1 to 500).map(i => (1L, i.toLong)).toDF("k", "row_id")
    val nSalts = large
      .withColumn("_salt", pmod(hash(col("row_id")), lit(8)))
      .select("_salt").distinct().count()
    assert(nSalts > 1, "entropy column failed to spread the hot key")
  }

  test("dedup bucket cap is non-binding on the test corpus (C2 + C14)") {
    // the MaxBucketDocs prune must not change oracle results at test SFs:
    // assert the largest real bucket sits well under the cap, so the hot
    // set is empty and the anti-join is an identity (measured maxes: 132
    // C2 / 343 C14 at sf0.01, 1381 / 3253 at sf0.1)
    import graft.operators.DedupOps
    val sp = spark
    val sigMax = graft.sources.Tables.documents(sp, sf)
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(posexplode(expr("graft_minhash_sigs(norm)")).as(Seq("band", "sig")))
      .groupBy("band", "sig").count()
      .agg(max("count")).head.getLong(0)
    val bandMax = graft.sources.Tables.documents(sp, sf)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .select(expr("graft_simhash32(toks)").as("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("band"), expr("shiftright(simhash, band * 8) % 256").as("bv"))
      .groupBy("band", "bv").count()
      .agg(max("count")).head.getLong(0)
    assert(sigMax < DedupOps.MaxBucketDocs, s"C2 max bucket $sigMax")
    assert(bandMax < DedupOps.MaxBucketDocs, s"C14 max bucket $bandMax")
  }

  test("salted self-join spreads a synthetic hot bucket and keeps the pair set") {
    // the deterministic fallback for a hot-but-legitimate (band, sig)
    // bucket: salt one side, replicate the other — the pair set must be
    // EXACTLY the direct self-join's, while the bucket's rows land in
    // multiple shuffle partitions instead of one
    val sp = spark
    import sp.implicits._
    val bucket = (1L to 200L).map(i => ("b0", i)).toDF("bkt", "doc_id")
    val direct = bucket.as("a").join(bucket.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val salted = Skew.saltedJoin(
        bucket.toDF("bkt", "doc_id"),
        bucket.select(col("bkt"), col("doc_id").as("doc_b2")),
        "bkt", col("doc_id"), factor = 8)
      .filter(col("doc_id") < col("doc_b2"))
      .select(col("doc_id").as("doc_a"), col("doc_b2").as("doc_b"))
    assert(direct.count() == 200L * 199L / 2)
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
    // the spread is real: under hash partitioning on (bkt, _salt) the
    // single hot bucket key maps to >1 shuffle partition. Computed with
    // the partitioner's own arithmetic (pmod(murmur3, n)) — observing
    // spark_partition_id after a repartition would be defeated here by
    // AQE coalescing this tiny test shuffle back into one partition
    val n = sp.sessionState.conf.numShufflePartitions
    val pids = bucket
      .withColumn("_salt", pmod(hash(col("doc_id")), lit(8)))
      .select(pmod(hash(col("bkt"), col("_salt")), lit(n)).as("pid"))
      .distinct().count()
    assert(pids > 1, s"hot bucket stayed on $pids partition(s)")
  }

  test("AQE's skew split fires on a near-cap bucket in the C2 join shape") {
    // the sub-cap hot-bucket story relies on AQE's runtime skew split —
    // this PROVES it fires on this session's configs, instead of assuming:
    // a single near-cap (band, sig) bucket dominating the shuffle must come
    // out of the self-join as a skew-split SortMergeJoin (isSkewJoin=true),
    // i.e. OptimizeSkewedJoin divided the hot partition into sub-splits.
    // Thresholds are lowered to make a test-sized bucket cross the same
    // ratios a near-MaxBucketDocs bucket crosses at real scale.
    val sp = spark
    import sp.implicits._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> sp.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => sp.conf.set(k, v) }
    try {
      // one hot bucket + a cold tail; per-row pad varies so shuffle
      // compression cannot shrink the hot partition under the threshold
      val hot = (1L to 8000L).map(i =>
        (0, "hotsig", i, (i * 2654435761L).toHexString * 16))
      val tail = (1L to 600L).map(i =>
        (1 + (i % 3).toInt, s"sig${i % 200}", 100000L + i,
          (i * 40503L).toHexString * 16))
      val sigs = (hot ++ tail).toDF("band", "sig", "doc_id", "pad")
        .repartition(4, col("doc_id"))
      // keep the pads in the join OUTPUT (column pruning would otherwise
      // strip them before the exchange and the hot partition's shuffle
      // bytes would never cross the lowered skew threshold), but bound the
      // pair fan-out with a doc_id band so executing the join stays cheap —
      // skew detection reads the MAP-SIDE partition sizes, not the output
      val joined = sigs.as("a").join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("b.doc_id") <= col("a.doc_id") + 3)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.pad").as("pad_a"), col("b.pad").as("pad_b"))
      // run THIS dataset's own QueryExecution (df.write would build a new
      // one and the skew decision would be invisible here)
      joined.queryExecution.toRdd.count(): Unit
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }.getOrElse(fail("no adaptive plan — AQE off?"))
      // descend through query stages: the final plan is wrapped in a
      // ResultQueryStage whose inner plan is not among its children
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      def skewJoins(p: SparkPlan): Seq[SparkPlan] = {
        val here = p match {
          case j: SortMergeJoinExec if j.isSkewJoin => Seq(j)
          case j: ShuffledHashJoinExec if j.isSkewJoin => Seq(j)
          case _ => Seq.empty
        }
        val kids = p match {
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here ++ kids.flatMap(skewJoins)
      }
      assert(skewJoins(adaptive.executedPlan).nonEmpty,
        s"AQE did not skew-split the hot bucket:\n${adaptive.executedPlan}")
    } finally {
      saved.foreach {
        case (k, Some(v)) => sp.conf.set(k, v)
        case (k, None) => sp.conf.unset(k)
      }
    }
  }
  test("C113 salted agg equals the unsalted plan on real events, any factor") {
    // the registered query's oracle row is the UNSALTED SQL; pin the same
    // invariance on real data across salt fan-outs, including the holistic
    // top-k columns the salt exists for
    val plain = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("value_cents_total"),
        expr("slice(sort_array(collect_list(cents), false), 1, 3)").as("t"))
      .select(col("user_id"), col("n_events"), col("value_cents_total"),
        expr("try_element_at(t, 1)").as("top1_cents"),
        expr("try_element_at(t, 2)").as("top2_cents"),
        expr("try_element_at(t, 3)").as("top3_cents"))
    for (f <- Seq(1, 2, 8, 31)) {
      val salted = Skew.skewSaltedAgg(spark, sf, factor = f)
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"salted factor=$f diverged from the plain aggregation")
    }
  }

  test("skew audit (C102): bounded ranked rows with exact hot-key counts") {
    val a = Skew.skewAudit(spark, sf).cache()
    // 5 families x top-3 (every family has >= 3 distinct keys at sf0.001)
    assert(a.count() == Skew.AuditFamilies.size.toLong * Skew.SkewTopK)
    assert(a.filter(col("rank") < 1 || col("rank") > Skew.SkewTopK)
      .count() == 0)
    assert(a.filter(col("key_share") <= 0 || col("key_share") > 1)
      .count() == 0)
    assert(a.filter(col("key_count") > col("n_rows") ||
      col("n_keys") > col("n_rows")).count() == 0)
    // rank-1 is the max key, and a max is never below the mean
    assert(a.filter(col("rank") === 1 && col("skew_x") < 1.0).count() == 0)
    // the audit's numbers are the real groupBy counts: recompute the
    // hottest events user independently
    val top = a.filter(col("family") === "events.user_id" &&
      col("rank") === 1).head
    val re = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id"))
      .head
    assert(top.getString(2) == re.getLong(0).toString)
    assert(top.getLong(3) == re.getLong(1))
    // the low-cardinality control fires: event_type's hottest key is
    // hotter relative to its mean than the near-uniform order keys
    val typeX = a.filter(col("family") === "events.event_type" &&
      col("rank") === 1).head.getDouble(7)
    val orderX = a.filter(col("family") === "lineitem.l_orderkey" &&
      col("rank") === 1).head.getDouble(7)
    assert(typeX > 0 && orderX > 0)
    a.unpersist()
    spark.catalog.clearCache(): Unit
  }

}
