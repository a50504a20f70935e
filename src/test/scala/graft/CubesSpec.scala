package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Invariants for the multi-dimensional analytics surface (B16-B21) and the
  * round-4 corpus/text additions (C20 sampling, C21 tf-idf, B20 HLL). */
class CubesSpec extends SparkSpec {

  test("rollup levels are internally consistent") {
    val r = Cubes.salesRollup(spark, sf).cache()
    val detail = r.filter(col("g_status") === 0 && col("g_anio") === 0)
    val subtot = r.filter(col("g_status") === 0 && col("g_anio") === 1)
    val total = r.filter(col("g_status") === 1 && col("g_anio") === 1)
    assert(total.count() == 1)
    val totN = total.select("n_orders").head.getLong(0)
    // detail rows and subtotal rows both re-sum to the grand total
    assert(detail.agg(sum("n_orders")).head.getLong(0) == totN)
    assert(subtot.agg(sum("n_orders")).head.getLong(0) == totN)
    // subtotal labels carry the sentinel, never nulls
    assert(r.filter(col("status").isNull || col("anio").isNull).count() == 0)
    assert(subtot.filter(col("anio") =!= -1).count() == 0)
    r.unpersist(): Unit
  }

  test("pivot cells re-sum to the segment total") {
    val p = Cubes.segmentPivot(spark, sf)
    val bad = p.filter(
      col("n_urgent") + col("n_high") + col("n_medium")
        + col("n_not_specified") + col("n_low") =!= col("n_total"))
    assert(bad.count() == 0)
    assert(p.count() == 5) // one row per market segment
  }

  test("RFM quartiles are 1-4 and balanced within each segment") {
    val rfm = Cubes.customerRfm(spark, sf).cache()
    assert(rfm.filter(col("r_q") < 1 || col("r_q") > 4).count() == 0)
    assert(rfm.filter(!col("rfm").rlike("^[1-4]{3}$")).count() == 0)
    // ntile balance: within a segment, bucket sizes differ by at most 1
    val sizes = rfm.groupBy("c_mktsegment", "m_q").count()
      .groupBy("c_mktsegment")
      .agg((max("count") - min("count")).as("spread"))
    assert(sizes.filter(col("spread") > 1).count() == 0)
    // quartile 1 of monetary dominates quartile 4 on average
    val m = rfm.groupBy("m_q").agg(avg("monetary").as("a"))
      .orderBy("m_q").collect().map(_.getDouble(1))
    assert(m(0) > m(3))
    rfm.unpersist(): Unit
  }

  test("churn anti-join: no kept customer has a recent order") {
    val inactive = Cubes.customersNoOrders(spark, sf)
    val nInactive = inactive.agg(sum("n_customers")).head.getLong(0)
    assert(nInactive > 0)
    val recent = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit(Cubes.InactiveSince).cast("timestamp"))
      .select(col("o_custkey")).distinct().count()
    val total = graft.sources.Tables.customer(spark, sf).count()
    // partition: recent actives + inactives cover every customer with the
    // anti-join (recent custkeys are a subset of customers here)
    assert(nInactive == total - recent)
  }

  test("exact quantiles are ordered and bracket the data") {
    val q = Cubes.orderQuantiles(spark, sf).cache()
    assert(q.filter(col("p50") > col("p90") || col("p90") > col("p99")).count() == 0)
    val ext = graft.sources.Tables.orders(spark, sf)
      .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi")).head
    val bad = q.filter(col("p50") < ext.getDouble(0) - 0.01 ||
      col("p99") > ext.getDouble(1) + 0.01)
    assert(bad.count() == 0)
    q.unpersist(): Unit
  }

  test("stratified sample keeps rates and is content-deterministic") {
    val s1 = Pipeline.corpusSample(spark, sf).cache()
    // kept rows respect the per-lang keep_rate mapping
    val wrongRate = s1.filter(
      Pipeline.SampleRates.foldLeft(lit(false)) { case (acc, (l, r)) =>
        acc || (col("lang") === l && col("keep_rate") =!= r)
      } || (!col("lang").isin(Pipeline.SampleRates.keys.toSeq.map(lit): _*)
        && col("keep_rate") =!= Pipeline.SampleDefaultRate))
    assert(wrongRate.count() == 0)
    // deterministic: a second evaluation yields the identical id set
    val s2 = Pipeline.corpusSample(spark, sf)
    assert(s1.select("doc_id").except(s2.select("doc_id")).count() == 0)
    assert(s2.select("doc_id").except(s1.select("doc_id")).count() == 0)
    // the dominant-language stratum is actually downsampled
    val langs = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((l, r) <- Pipeline.SampleRates if langs.getOrElse(l, 0L) >= 50)
      assert(kept.getOrElse(l, 0L) < langs(l),
        s"lang $l not downsampled (rate $r)")
    s1.unpersist(): Unit
  }

  test("tf-idf keeps at most top-k per doc, ranked by score") {
    val t = TextOps.tfidf(spark, sf).cache()
    assert(t.groupBy("doc_id").count()
      .filter(col("count") > TextOps.TfidfTopK).count() == 0)
    // rank 1 score >= rank 2 score within a doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("rnk")
    val mono = t.withColumn("prev", lag("tfidf", 1).over(w))
      .filter(col("prev").isNotNull && col("tfidf") > col("prev"))
    assert(mono.count() == 0)
    // df is global: a token's df must be >= its tf in any single doc
    assert(t.filter(col("df") < lit(1)).count() == 0)
    t.unpersist(): Unit
  }

  test("HLL estimate tracks exact distinct within raw-HLL error") {
    val sp = spark
    import sp.implicits._
    // the raw estimator (no bias corrections on purpose — ln() is
    // libm-dependent and would break the oracle's bit-exactness) is only
    // accurate once n >> m; test it where it's specified: n = 5000 >> 64.
    // std error ≈ 1.04/√64 ≈ 13%; ±40% is a 3σ band.
    val am2 = graft.functions.Kernels.HllAlphaM2
    val est = (1L to 5000L).toDF("v")
      .agg(expr("graft_hll_sketch(v)").as("regs"))
      .selectExpr(s"CAST($am2 AS DOUBLE) / aggregate(regs, CAST(0 AS DOUBLE), (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r)) AS est")
      .head.getDouble(0)
    assert(est > 3000 && est < 7000, s"raw HLL estimate $est for n=5000")
    // on the tiny corpus the query must still produce positive estimates
    val h = Sketches.eventsHll(spark, sf)
    assert(h.count() > 0)
    assert(h.filter(col("hll_est") <= 0.0).count() == 0)
  }

  test("HLL registers merge idempotently across partitionings") {
    val sp = spark
    import sp.implicits._
    val vals = (1L to 5000L).toDF("v")
    def regs(parts: Int): Seq[Long] =
      vals.repartition(parts).agg(expr("graft_hll_sketch(v)")).head
        .getSeq[Long](0)
    // partition count (merge tree shape) must not change the registers
    assert(regs(1) == regs(7))
  }

  test("B48 HLL m-sweep: error bounded at every m, hash-defect detector") {
    // the affine-hash failure mode this sweep exists to catch measured
    // 0.9-1.1 relative error at m = 32..64 on sequential ids; the md5
    // hash sits within ~1-2σ of 1.04/√m. Band: 3σ with a 0.3 floor for
    // the small-range raw-estimator bias at large m — still well inside
    // the defect's signature at every probed m.
    val rows = operators.Sketches.hllMSweep(spark, sf).collect()
    assert(rows.length == operators.Sketches.HllSweepMs.length)
    for (r <- rows) {
      val m = r.getLong(0)
      val err = math.abs(r.getAs[Double]("rel_err"))
      val band = math.max(3.0 * 1.04 / math.sqrt(m.toDouble), 0.3)
      assert(err <= band, s"m=$m rel_err $err out of band $band")
    }
  }

  test("B50 heavy hitters: no false negatives, selective screen") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val out = operators.Sketches.cmsHeavyHitters(spark, sf).cache()
    // CMS never underestimates -> est >= exact on every surviving row
    assert(out.filter(col("cms_est") < col("n_true")).count() == 0)
    // completeness: EVERY true phi-heavy key is in the output (the sketch
    // screen cannot drop one), flagged true
    val ev = graft.sources.Tables.events(spark, sf)
      .select(floor(col("value")).cast("long").cast("string").as("key"))
    val n = ev.count()
    val t = (n + operators.Sketches.HhSupportDenom - 1) /
      operators.Sketches.HhSupportDenom
    val trueHh = ev.groupBy("key").count().filter(col("count") >= t)
    val missed = trueHh.join(out.filter(col("is_true_hh")), Seq("key"),
      "left_anti").count()
    assert(missed == 0, s"$missed true heavy hitters missed by the screen")
    // flags are exactly the threshold test on the exact confirm count
    // (selectivity itself is density-dependent: at sf0.001 the mean key
    // frequency exceeds phi*N, so every key is GENUINELY heavy and the
    // screen rightly passes all of them; the sf0.01 oracle row shows the
    // selective regime, 70 survivors of 750 keys)
    assert(out.filter(col("is_true_hh") =!= (col("n_true") >= t))
      .count() == 0)
    // the FALSE-POSITIVE branch, exercised where it exists: at width 64
    // (B49's exact_share-0 regime) collision-inflated light keys survive
    // the screen and the exact confirm resolves them is_true_hh = false —
    // the resolution path the production geometry never reaches. No false
    // negatives still holds (CMS never underestimates at ANY geometry).
    val narrow = operators.Sketches.cmsHeavyHitters(spark, sf, width = 64)
      .cache()
    assert(narrow.filter(!col("is_true_hh")).count() > 0,
      "width 64 must collision-inflate at least one light key past T")
    assert(narrow.filter(col("cms_est") < col("n_true")).count() == 0)
    val missedNarrow = trueHh.join(narrow.filter(col("is_true_hh")),
      Seq("key"), "left_anti").count()
    assert(missedNarrow == 0)
    spark.catalog.clearCache(): Unit
  }

  test("B52-B54 quantile sketch: rank guarantee and bracket width hold") {
    import graft.functions.Kernels.QSketchS
    // every readout row must bracket its target rank: n_below < r <= n_thru
    // (exact by construction — the sketch's formal guarantee), and the
    // value bracket is <= 2^-s relative once past the exact range
    for (df <- Seq(operators.Sketches.valueQuantileSketch(spark, sf),
        operators.Sketches.valueQuantilesByType(spark, sf))) {
      val rows = df.collect()
      assert(rows.nonEmpty)
      for (row <- rows) {
        val (r, lo, hi, below, thru) = (
          row.getAs[Long]("r"), row.getAs[Long]("est_lo"),
          row.getAs[Long]("est_hi"), row.getAs[Long]("n_below"),
          row.getAs[Long]("n_thru"))
        assert(below < r && r <= thru, s"rank guarantee broken: $row")
        assert(lo < hi, row.toString)
        if (lo >= (1L << QSketchS))
          assert(hi - lo <= math.max(lo >> QSketchS, 1L),
            s"bracket wider than 2^-s relative: $row")
      }
      spark.catalog.clearCache()
    }
  }

  test("B53 sweep: bucket mass per quantile non-increasing in s") {
    // finer subdivisions split buckets on a SUPERSET of coarser
    // boundaries, so the picked bucket's mass — the worst-case rank
    // slack — can only fall as s grows (the B49 depth-monotone
    // precedent); occupied cells can only grow
    val rows = operators.Sketches.qsketchSSweep(spark, sf).collect()
      .map(r => (r.getAs[Long]("s"), r.getAs[Long]("q_pm"),
        r.getAs[Long]("n_thru") - r.getAs[Long]("n_below"),
        r.getAs[Long]("n_cells"), r.getAs[Long]("n_cells_used")))
    assert(rows.length ==
      operators.Sketches.QSketchSweepSs.length *
        graft.functions.Kernels.QuantileGridPm.length)
    rows.groupBy(_._2).foreach { case (q, grp) =>
      val byS = grp.sortBy(_._1)
      byS.sliding(2).foreach {
        case Array((s1, _, m1, _, u1), (s2, _, m2, _, u2)) =>
          assert(m2 <= m1, s"q=$q mass grew s=$s1($m1) -> s=$s2($m2)")
          assert(u2 >= u1, s"q=$q occupied cells fell $s1 -> $s2")
        case _ => ()
      }
    }
    rows.foreach { case (_, _, _, cells, used) =>
      assert(used <= cells)
    }
    spark.catalog.clearCache(): Unit
  }

  test("B51 venn: register-merge invariants hold on every pair") {
    import org.apache.spark.sql.functions._
    val out = operators.Sketches.hllMonthOverlap(spark, sf).cache()
    assert(out.count() == 66) // 12 calendar months -> C(12,2) pairs
    // union registers dominate each side elementwise, so the union
    // estimate can never fall below either side's (and the
    // inclusion-exclusion intersection never exceeds either side)
    assert(out.filter(col("est_union") < col("est_a") ||
      col("est_union") < col("est_b")).count() == 0)
    assert(out.filter(col("est_inter") > col("est_a") ||
      col("est_inter") > col("est_b")).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("B49 CMS sweep: never underestimates; overestimate depth-monotone") {
    // est = min over hash rows and the depth-d row set is a PREFIX of the
    // depth-(d+1) set, so per-key estimates — and the overestimate mass —
    // can only fall as depth grows at fixed width. A CMS can never read
    // below the true count.
    val rows = operators.Sketches.cmsGeometrySweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(rows.forall { case (_, _, tot, mx) => tot >= 0 && mx >= 0 },
      s"CMS underestimated: ${rows.mkString(",")}")
    val byWidth = rows.groupBy(_._2)
    for ((w, g) <- byWidth) {
      val byDepth = g.sortBy(_._1).map(_._3).toSeq
      assert(byDepth == byDepth.sorted.reverse,
        s"width $w overestimate not depth-monotone: ${byDepth.mkString(",")}")
    }
  }
}
