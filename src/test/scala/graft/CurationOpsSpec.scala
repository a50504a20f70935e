package graft

import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.operators.{EmbeddingOps, Pipeline}
import graft.sources.{Feeds, Tables}

/** C83 snapshot diff, C84 bloom decontaminate, C85 retrieval MaxSim. */
class CurationOpsSpec extends SparkSpec {

  test("snapshot diff statuses reconcile exactly with the mutation slices") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nRemoved = docs.count(_._1 % Feeds.GoneMod == Feeds.GoneRem)
    val nAdded = docs.count(_._1 % Feeds.CloneMod == Feeds.CloneRem)
    val nChanged = docs.count(d =>
      d._1 % Feeds.GoneMod != Feeds.GoneRem && d._1 % Feeds.EditMod == Feeds.EditRem)
    val nUnchanged = docs.length - nRemoved - nChanged
    val out = Pipeline.snapshotDiff(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == nAdded)
    assert(out.map(_.getLong(2)).sum == nRemoved)
    assert(out.map(_.getLong(3)).sum == nChanged)
    assert(out.map(_.getLong(4)).sum == nUnchanged)
    // byte drift: +5 per edited page (' rev2'), +len per discovered clone
    // (reverse preserves length), −len per gone page
    val expectedDelta = 5L * nChanged +
      docs.filter(_._1 % Feeds.CloneMod == Feeds.CloneRem).map(_._3).sum -
      docs.filter(_._1 % Feeds.GoneMod == Feeds.GoneRem).map(_._3).sum
    assert(out.map(_.getLong(5)).sum == expectedDelta)
    // one row per source present in either snapshot, sorted
    assert(out.map(_.getString(0)).toSeq == out.map(_.getString(0)).toSeq.sorted)
  }

  test("bloom kernel: zero false negatives, bounded deterministic FPs") {
    import org.apache.spark.unsafe.types.UTF8String
    val members = (0 until 500).map(i => s"member gram number $i")
    val words = new Array[Long](Kernels.BloomWordCount)
    for (m <- members) {
      val cells = Kernels.bloomCells(UTF8String.fromString(m), Kernels.BloomBits)
      (0 until cells.numElements()).foreach { i =>
        val p = cells.getLong(i).toInt
        words(p >> 6) |= 1L << (p & 63)
      }
    }
    val h = (s: String) => Kernels.cmsBaseHash(UTF8String.fromString(s))
    assert(members.forall(m => Kernels.bloomHit(h(m), words)),
      "a bloom filter must never report false negatives")
    val probes = (0 until 20000).map(i => s"non member probe $i")
    val fp = probes.count(p => Kernels.bloomHit(h(p), words))
    // 500 grams in 2^18 bits, k=5: expected FP rate ~ (500*5/2^18)^5 ≈ 1e-10
    assert(fp <= 5, s"false-positive count $fp out of bound at this load factor")
  }

  test("bloom decontaminate equals the exact per-source aggregation") {
    val exact = Pipeline.corpusDecontaminate(spark, sf)
      .groupBy("source").agg(
        count(lit(1)).as("docs_screened"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("docs_contaminated"),
        sum(col("n_hits")).as("grams_hit_total"),
        max(col("n_hits")).as("max_hits"))
      .orderBy("source").collect().toSeq
    val bloom = Pipeline.bloomDecontaminate(spark, sf).collect().toSeq
    assert(bloom == exact,
      "the confirm join must erase the bloom from the result")
    assert(bloom.exists(_.getLong(2) > 0),
      "the corpus fixture must exercise real contamination hits")
  }

  test("a saturated bloom still yields the exact result (confirm join)") {
    // m = 64 bits for hundreds of bench grams → FP rate ≈ 1: every gram
    // survives the screen and the confirm join must reject all of them
    // exactly — the degraded-filter worst case collapses to C25's exact
    // shape, never to wrong answers
    val tiny = Pipeline.bloomDecontaminate(spark, sf, mBits = 64).collect().toSeq
    val default = Pipeline.bloomDecontaminate(spark, sf).collect().toSeq
    assert(tiny == default,
      "filter geometry must never leak into the result")
  }

  test("bloom screen sits in the scan as a codegen'd filter") {
    val plan = Pipeline.bloomDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("bloomhit"),
      "the bloom probe must appear as a native filter in the physical plan")
  }

  test("budget fill equals the naive global-sort prefix exactly") {
    import org.apache.spark.sql.expressions.Window
    // the declarative reference: global (score DESC, doc_id) window cumsum
    val scored = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0 && length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        graft.operators.TextOps.qualityScoreCol(col("text"))
          .as("quality_score"))
    val total = scored.agg(sum("n_tok")).collect()(0).getLong(0)
    val budget = total / Pipeline.FillBudgetDiv
    val naive = scored.withColumn("cum", sum("n_tok").over(
        Window.orderBy(col("quality_score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget)
      .select("doc_id", "source", "n_tok", "quality_score")
      .orderBy("doc_id").collect().toSeq
    val fill = Pipeline.tokenBudgetFill(spark, sf).collect().toSeq
    assert(fill == naive,
      "histogram-threshold admission must equal the global-sort prefix")
    // the budget binds: admitted mass fits, and no further doc would
    val admitted = fill.map(_.getLong(2)).sum
    assert(admitted <= budget)
    assert(fill.nonEmpty && fill.size < scored.count())
    spark.catalog.clearCache(): Unit
  }

  test("contamination spans are maximal, disjoint, and cover every hit") {
    val spans = Pipeline.contaminationSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(spans.nonEmpty, "fixture must produce contaminated spans")
    for ((_, docSpans) <- spans.groupBy(_._1)) {
      val ordered = docSpans.sortBy(_._2)
      // span ids are a dense 1..n sequence per doc
      assert(ordered.map(_._2).toSeq == (1L to ordered.length).toSeq)
      for (s <- ordered) {
        assert(s._3 <= s._4)                        // start ≤ end
        assert(s._6 == s._4 - s._3 + 1)             // excised = extent
        assert(s._4 - s._3 + 1 >= Pipeline.DecontamGram) // ≥ one gram window
        assert(s._5 >= 1)                           // ≥ one hit per span
      }
      // maximal merge: consecutive spans never touch or overlap
      for (pair <- ordered.sliding(2).filter(_.length == 2)) {
        val (a, b) = (pair(0), pair(1))
        assert(b._3 > a._4,
          s"spans $a and $b overlap or touch — merge is not maximal")
      }
    }
    // reconciliation: exactly the C25-contaminated docs carry spans (C87
    // counts positioned occurrences, C25 distinct grams — so only the doc
    // SETS are comparable, and they must coincide)
    val perDocHits = spans.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    val c25 = Pipeline.corpusDecontaminate(spark, sf).collect()
      .filter(_.getLong(2) > 0)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(perDocHits.keySet == c25.keySet)
    spark.catalog.clearCache(): Unit
  }

  test("bloom gate -> span screen chain loses no spans (no false negatives)") {
    // the deployment story: the cheap Bloom verdict drops the clean bulk
    // and only flagged docs reach the positioned-gram join. Sound iff the
    // filter never misses a contaminated doc — pin the composition: spans
    // over the bloom-flagged docs ≡ spans over the full training slice.
    val verdicts = Pipeline.bloomDecontaminate(spark, sf) // warms nothing; per-source
    val train = Tables.documents(spark, sf)
      .filter(col("doc_id") % Pipeline.BenchMod =!= Pipeline.BenchRem)
    val benchGrams = Pipeline.positionedGrams(
        Pipeline.decontamBaseOf(Tables.documents(spark, sf)))
      .filter(col("doc_id") % Pipeline.BenchMod === Pipeline.BenchRem)
      .select("gram").distinct().cache()
    val words = Pipeline.bloomBuild(benchGrams)
    val flaggedIds = Pipeline.bloomScreen(train, benchGrams, words)
      .filter(col("contaminated")).select("doc_id")
    val chained = Pipeline.spanScreen(
        train.join(flaggedIds, "doc_id"), benchGrams)
      .orderBy("doc_id", "span_id").collect().toSeq
    val direct = Pipeline.spanScreen(train, benchGrams)
      .orderBy("doc_id", "span_id").collect().toSeq
    assert(chained == direct && direct.nonEmpty,
      "the bloom prefilter must not change the span report")
    assert(verdicts.count() > 0)
    benchGrams.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("covariance grid: moment inequalities hold, one cell recomputes") {
    val k = graft.functions.Kernels
    val rows = EmbeddingOps.embedCovariance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == k.GramDims * (k.GramDims + 1) / 2)
    val n = rows.head._6
    assert(n == Tables.embeddings(spark, sf).count())
    for (r <- rows) {
      assert(r._1 <= r._2)
      if (r._1 == r._2) {
        assert(r._3 >= 0L)                       // Σq² ≥ 0
        assert(r._3 * n >= r._4 * r._4,          // n·Σq² ≥ (Σq)² (variance ≥ 0)
          s"dim ${r._1}: ${r._3} * $n < ${r._4}^2")
      }
    }
    // recompute the (0, 1) cell and both dim sums driver-side
    val vecs = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0))
    val q = (x: Float) => math.floor(x.toDouble * k.GramScale + 0.5).toLong
    val expect01 = vecs.map(v => q(v(0)) * q(v(1))).sum
    val expectS0 = vecs.map(v => q(v(0))).sum
    val cell = rows.find(r => r._1 == 0 && r._2 == 1).get
    assert(cell._3 == expect01 && cell._4 == expectS0)
  }

  test("attribution: every conversion accounted once under each model") {
    import graft.operators.Analytics
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
    val nPurch = purchases.count()
    val totalCents = purchases
      .select(floor(col("value") * 100.0 + 0.5).cast("long").as("c"))
      .agg(sum("c")).collect()(0).getLong(0)
    val out = Analytics.eventsAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    for (model <- Seq("first_touch", "last_touch")) {
      val rows = out.filter(_._1 == model)
      assert(rows.map(_._3).sum == nPurch,
        s"$model conversions must partition the purchase set")
      assert(rows.map(_._4).sum == totalCents,
        s"$model cents must partition the purchase value")
      assert(!rows.exists(_._2 == "purchase"),
        "a purchase can never be its own touch")
    }
    // the models agree on the unattributed bucket (window has no touches)
    val none = out.filter(_._2 == "(none)")
    assert(none.map(_._3).distinct.length <= 1)
  }

  test("promo share: line conservation, bounds, promo mass is real") {
    import graft.operators.Analytics
    val out = Analytics.promoRevenueShare(spark, sf).cache()
    // inner join on the part FK loses nothing: every lineitem counted
    assert(out.agg(sum("n_items")).head.getLong(0) ==
      Tables.lineitem(spark, sf).count())
    assert(out.filter(col("promo_share") < 0 || col("promo_share") > 1 ||
      col("promo_revenue") > col("total_revenue")).count() == 0)
    // PROMO parts exist in every SF's catalog — the share is never all-zero
    assert(out.filter(col("promo_revenue") > 0).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("small-qty revenue: window threshold matches a groupBy recount") {
    import graft.operators.Analytics
    val out = Analytics.smallQtyRevenue(spark, sf).cache()
    val l = Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
    assert(out.agg(sum("n_items")).head.getLong(0) == l.count())
    // independent recount of the smallness test via groupBy + re-join
    // (the operator uses a partkey window; equivalence is the pin)
    val perPart = l.groupBy("l_partkey")
      .agg(sum("qty_c").as("s"), count(lit(1)).as("n"))
    val nSmall = l.join(perPart, "l_partkey")
      .filter(col("qty_c") * lit(5L) * col("n") < col("s")).count()
    assert(out.agg(sum("n_small_items")).head.getLong(0) == nSmall)
    assert(out.filter(col("small_revenue_share") < 0 ||
      col("small_revenue_share") >= 1 ||
      col("small_revenue") > col("total_revenue")).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("priority fulfilment: order conservation, EXISTS recount matches") {
    import graft.operators.Analytics
    val out = Analytics.priorityFulfilment(spark, sf).cache()
    val orders = Tables.orders(spark, sf)
    assert(out.agg(sum("n_orders")).head.getLong(0) == orders.count())
    // independent EXISTS recount: distinct orderkeys owning a late line
    val late = orders.join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL ${Analytics.LateDays} DAYS"))
      .select("o_orderkey").distinct().count()
    assert(out.agg(sum("n_late_orders")).head.getLong(0) == late)
    assert(out.filter(col("n_late_orders") > col("n_orders") ||
      col("late_share") < 0 || col("late_share") > 1).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("supplier breadth: grid complete, distinct counts recount exactly") {
    import graft.operators.Analytics
    val out = Analytics.supplierBreadth(spark, sf).cache()
    val j = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
      .join(Tables.part(spark, sf).select("p_partkey", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey")).cache()
    // one row per shipped (type, size) category — nothing more or less
    assert(out.count() ==
      j.select("p_type", "p_size").distinct().count())
    // direct recount for the worst category by volume
    val top = j.groupBy("p_type", "p_size").count()
      .orderBy(col("count").desc, col("p_type"), col("p_size")).head
    val (t, s) = (top.getString(0), top.getInt(1))
    val slice = j.filter(col("p_type") === t && col("p_size") === s)
    val row = out.filter(col("p_type") === t && col("p_size") === s).head
    assert(row.getAs[Long]("n_parts") ==
      slice.select("l_partkey").distinct().count())
    assert(row.getAs[Long]("n_suppliers") ==
      slice.select("l_suppkey").distinct().count())
    assert(out.filter(col("n_parts") <= 0 || col("n_suppliers") <= 0 ||
      col("breadth_ratio") <= 0).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("ann overlap: pair grid, bounds, direct intersection recount") {
    val out = EmbeddingOps.annOverlap(spark, sf).cache()
    assert(out.count() == 3)
    assert(out.select("index_a", "index_b").collect().map(r =>
      (r.getString(0), r.getString(1))).toSet ==
      Set(("ivf", "lsh"), ("ivf", "pq_adc"), ("lsh", "pq_adc")))
    // per-probe overlap is bounded by the list length
    assert(out.filter(col("min_overlap") < 0 || col("max_overlap") > 10 ||
      col("min_overlap") > col("max_overlap") ||
      col("sum_overlap") > col("n_probes") * 10 ||
      col("mean_overlap_at_10") < 0 ||
      col("mean_overlap_at_10") > 1).count() == 0)
    // direct recount: the ivf-lsh total equals a plain intersection count
    val direct = EmbeddingOps.annIvf(spark, sf)
      .select("probe_id", "neighbor_id")
      .join(EmbeddingOps.annLsh(spark, sf)
        .select("probe_id", "neighbor_id"),
        Seq("probe_id", "neighbor_id")).count()
    assert(out.filter(col("index_a") === "ivf" && col("index_b") === "lsh")
      .head.getAs[Long]("sum_overlap") == direct)
    spark.catalog.clearCache(): Unit
  }

  test("pq distortion: full grid, code bounds, share partition") {
    val out = EmbeddingOps.embedPqDistortion(spark, sf).cache()
    import graft.operators.EmbeddingOps.{PqSub, PqK}
    val nVecs = Tables.embeddings(spark, sf).count()
    // one row per subspace, every vector assigned in each
    assert(out.count() == PqSub)
    assert(out.filter(col("n_vecs") =!= nVecs).count() == 0)
    assert(out.filter(col("n_codes_used") < 1 ||
      col("n_codes_used") > PqK).count() == 0)
    // shares partition the total distortion; max dominates mean
    val shareSum = out.agg(sum("mse_share")).head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-9)
    assert(out.filter(col("mean_mse") < 0 ||
      col("max_mse") < col("mean_mse")).count() == 0)
    // direct recount of one subspace's mean off C55's assignment rows
    val pq0 = EmbeddingOps.embedPq(spark, sf)
      .filter(col("sub_id") === 0)
      .select(round(col("sub_mse") * 1000000000.0).cast("long").as("n"))
      .agg(sum("n"), count(lit(1))).head
    val expect = pq0.getLong(0).toDouble / pq0.getLong(1) / 1000000000.0
    assert(out.filter(col("sub_id") === 0).head
      .getAs[Double]("mean_mse") == expect)
    spark.catalog.clearCache(): Unit
  }

  test("doc lang mix: chunk conservation, modal invariants") {
    import graft.operators.TextOps
    val out = TextOps.docLangMix(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
    assert(out.count() == docs.count())
    // chunk mass matches the C22 chunker exactly
    assert(out.agg(sum("n_chunks")).head.getLong(0) ==
      TextOps.docChunk(spark, sf).count())
    // modal invariants: the top language covers at least 1/n_langs of the
    // chunks, and the mixed flag is definitionally n_langs >= 2
    assert(out.filter(col("n_langs") < 1 ||
      col("n_langs") > col("n_chunks") ||
      col("top_share") <= 0 || col("top_share") > 1).count() == 0)
    assert(out.filter(col("top_share") * col("n_langs") <
      lit(1.0) - lit(1e-9)).count() == 0)
    assert(out.filter(col("mixed") =!= (col("n_langs") >= 2L))
      .count() == 0)
    assert(out.filter(col("n_chunks") === 1 &&
      (col("n_langs") =!= 1 || col("top_share") =!= 1.0)).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("maxsim: ranking invariants and score bounds hold") {
    val out = EmbeddingOps.retrievalMaxsim(spark, sf).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getInt(0))
    for ((_, rows) <- byQ) {
      val sorted = rows.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to sorted.length).toSeq)
      // scores non-increasing down the ranking, ties broken by dlabel
      val scores = sorted.map(_.getDouble(2)).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(sorted.length <= EmbeddingOps.MaxSimTopK)
      // |score| ≤ n_q: each probe contributes one cosine in [−1, 1]
      assert(sorted.forall(r => math.abs(r.getDouble(2)) <= r.getLong(3) + 1e-9))
    }
  }

  test("maxsim top-1 matches an independently-folded recomputation") {
    val out = EmbeddingOps.retrievalMaxsim(spark, sf).collect()
      .filter(_.getLong(4) == 1L)
    // recompute score(qlabel, dlabel) driver-side from raw vectors
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def n2(v: Array[Float]) = v.map(x => x.toDouble * x.toDouble).sum
    val probes = vecs.filter(v => v._1 % 100 == 0 && v._1 < 6400)
    val docs = vecs.filter(_._1 % 100 != 0)
    for (r <- out) {
      val (ql, dl) = (r.getInt(0), r.getInt(1))
      val score = probes.filter(_._2 == ql).sortBy(_._1).map { p =>
        docs.filter(_._2 == dl).map { d =>
          val dot = p._3.zip(d._3).map { case (a, b) => a.toDouble * b.toDouble }.sum
          dot / (math.sqrt(n2(p._3)) * math.sqrt(n2(d._3)))
        }.max
      }.sum
      assert(math.abs(score - r.getDouble(2)) < 1e-9,
        s"qlabel=$ql dlabel=$dl")
    }
  }

  test("pair precision (C89): staged equals inline, set algebra holds") {
    val staged = operators.DedupArtifacts.pairPrecisionStaged(spark, sf)
    val inline = operators.DedupOps.dedupPairPrecision(spark, sf)
    assert(staged.except(inline).count() == 0 &&
      inline.except(staged).count() == 0,
      "staged pair precision diverges from the inline plan")
    spark.catalog.clearCache()
    val rows = operators.DedupArtifacts.pairPrecisionStaged(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("minhash_lsh", "ngram_jaccard", "simhash_band"))
    rows.foreach { r =>
      val (nPairs, nHalf, nFifth) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (sumC, sumU) = (r.getLong(4), r.getLong(5))
      assert(nPairs > 0)
      // J >= 1/2 implies J >= 1/5; both bounded by the pair count
      assert(nHalf <= nFifth && nFifth <= nPairs, r.toString)
      // intersections never exceed unions; micro average lives in [0, 1]
      assert(sumC <= sumU, r.toString)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
      assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0)
    }
    // the generator that THRESHOLDS on (capped) Jaccard must verify better
    // than the unthresholded band-collision surfaces
    val byM = rows.map(r => r.getString(0) -> r.getDouble(6)).toMap
    assert(byM("ngram_jaccard") >= byM("minhash_lsh"), byM.toString)
    assert(byM("ngram_jaccard") >= byM("simhash_band"), byM.toString)
    spark.catalog.clearCache(): Unit
  }

  test("classifier calibration (C90): bins partition the corpus exactly") {
    val cal = operators.TextOps.classifierCalibration(spark, sf).collect()
    val nScored = operators.TextOps.qualityClassifier(spark, sf).count()
    // every scored doc lands in exactly one bin
    assert(cal.map(_.getLong(1)).sum == nScored)
    cal.foreach { r =>
      val (bin, n, nKeep, nAgree) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0 && nKeep <= n && nAgree <= n)
      // quarter-unit bins never straddle the keep threshold: a bin wholly
      // below zero keeps nothing, a bin at/above zero keeps everything
      if (bin < 0) assert(nKeep == 0, r.toString)
      else assert(nKeep == n, r.toString)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // calibration direction: the mean heuristic quality of the top bin
    // exceeds the bottom bin's (the two filters share their features, so
    // a flat or inverted curve means the weights broke)
    val sorted = cal.sortBy(_.getLong(0))
    assert(sorted.last.getDouble(6) > sorted.head.getDouble(6))
  }

  test("dim audit (C92): full grid, bounded corr, argmax re-derivable") {
    val rows = EmbeddingOps.embedDimAudit(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until Kernels.GramDims))
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"variance negative: $r")
      if (!r.isNullAt(4))
        assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-9, s"corr out of range: $r")
    }
    // re-derive dim 0's argmax partner from the covariance grid with the
    // same formula — the audit must agree
    val cov = EmbeddingOps.embedCovariance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    def den(d: Long) = {
      val (sdd, sd, _, n) = cov((d, d)); n.toDouble * sdd - sd.toDouble * sd
    }
    val n0 = cov((0L, 0L))._4
    val cands = (1L until Kernels.GramDims).flatMap { j =>
      val (sij, si, sj, _) = cov((0L, j))
      if (den(0) > 0 && den(j) > 0)
        Some(j -> ((n0.toDouble * sij - si.toDouble * sj)
          / (math.sqrt(den(0)) * math.sqrt(den(j)))))
      else None
    }
    val want = cands.sortBy { case (j, c) => (-math.abs(c), j) }.head
    val got = rows.find(_.getLong(0) == 0L).get
    assert(got.getLong(3) == want._1 &&
      math.abs(got.getDouble(4) - want._2) < 1e-12,
      s"dim 0 argmax: audit says (${got.getLong(3)}, ${got.getDouble(4)})," +
        s" recomputation says $want")
    spark.catalog.clearCache(): Unit
  }

  test("banding sweep (C93): volume S-curve, production point matches C2") {
    val rows = operators.DedupOps.dedupBandingSweep(spark, sf).collect()
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      operators.DedupOps.BandingSweep.map { case (b, r) => (b.toLong, r.toLong) })
    // more, shorter bands can only ADD candidate pairs
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getLong(3) < hi.getLong(3),
        s"candidate volume must grow with band count: $lo vs $hi")
    }
    // the endpoints separate cleanly: the strictest banding's sampled
    // precision beats the loosest's (the S-curve's whole point)
    val strict = rows.head; val loose = rows.last
    assert(strict.getDouble(6) > loose.getDouble(6),
      s"strict ${strict.getDouble(6)} should beat loose ${loose.getDouble(6)}")
    // cross-pin: the 4x3 grouping IS C2's production banding — its pair
    // count must equal q_dedup_minhash_lsh's exactly
    val prod = rows.find(_.getString(0) == "4x3").get
    val c2 = operators.DedupOps.dedupMinhashLsh(spark, sf).count()
    assert(prod.getLong(3) == c2,
      s"4x3 pair count ${prod.getLong(3)} != C2's $c2")
    spark.catalog.clearCache(): Unit
  }

  test("radius sweep (C98): cumulative curve, max point matches C14") {
    val rows = operators.DedupOps.simhashRadiusSweep(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      operators.DedupOps.RadiusSweep.map(_.toLong))
    // cumulative radii can only ADD pairs (and sampled pairs)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getLong(1) <= hi.getLong(1))
      assert(lo.getLong(2) <= hi.getLong(2))
      case _ => ()
    }
    // verified <= sampled; precision bounded where defined
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      if (!r.isNullAt(4))
        assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // the max radius IS the full C14 pair set (pigeonhole completeness)
    val c14 = operators.DedupOps.dedupSimhashBand(spark, sf).count()
    assert(rows.last.getLong(1) == c14,
      s"radius-${rows.last.getLong(0)} pairs ${rows.last.getLong(1)} != C14's $c14")
    // endpoint decay where both ends have a STATISTICAL sample (>= 30
    // pairs — at sf0.001 radius 0 samples a handful of pairs and the
    // estimate is noise; sf0.01 shows the real decay 0.33 -> 0.009)
    if (rows.head.getLong(2) >= 30 && rows.last.getLong(2) >= 30)
      assert(rows.head.getDouble(4) >= rows.last.getDouble(4))
    spark.catalog.clearCache(): Unit
  }

  test("minhash row minima reband exactly to the production signatures") {
    // graft_minhash_rows regrouped at (4,3) must reproduce
    // graft_minhash_sigs verbatim — C93's sweep shares C2's hash family
    // by construction, pinned here so a kernel edit cannot split them
    val d = Tables.documents(spark, sf)
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
      .select(
        expr("graft_minhash_sigs(norm)").as("sigs"),
        expr("""transform(sequence(0, 3), b ->
          concat_ws(':', transform(sequence(0, 2), rr ->
            cast(element_at(graft_minhash_rows(norm), b * 3 + rr + 1)
              as string))))""").as("rebanded"))
    assert(d.filter(col("sigs") =!= col("rebanded")).count() == 0)
  }

  test("nprobe sweep (C91): monotone curve, default point matches C40") {
    val rows = EmbeddingOps.annNprobeSweep(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == EmbeddingOps.NprobeSweep.map(_.toLong))
    // more probed cells can only ADD candidates and recall
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getLong(1) < hi.getLong(1),
        s"candidate volume must grow with nprobe: $lo vs $hi")
      assert(lo.getDouble(4) <= hi.getDouble(4),
        s"recall must be monotone in nprobe: $lo vs $hi")
    }
    rows.foreach(r => assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
    // cross-pin: the sweep's nprobe=4 point IS C40's production IVF row
    val atDefault = rows.find(_.getLong(0) == EmbeddingOps.IvfNprobe).get
    val c40 = EmbeddingOps.annRecallReport(spark, sf).collect()
      .find(_.getString(0) == "ivf").get
    assert(atDefault.getLong(2) == c40.getLong(1) &&
      atDefault.getLong(3) == c40.getLong(2) &&
      atDefault.getDouble(4) == c40.getDouble(3),
      s"sweep default point diverges from C40: $atDefault vs $c40")
    spark.catalog.clearCache(): Unit
  }
}
