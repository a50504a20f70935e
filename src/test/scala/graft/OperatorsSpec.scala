package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Invariant checks per operator family at sf0.001 (exactness vs DuckDB is
  * the driver's gate; these specs pin structural invariants and edge
  * semantics that a hash compare wouldn't explain on failure). */
class OperatorsSpec extends SparkSpec {

  test("ETL validations keep row subsets with expected flags") {
    val clients = Etl.validateClients(spark, sf)
    assert(clients.count() > 0)
    val docs = Etl.validateDocuments(spark, sf)
    assert(docs.columns.contains("montos_coherentes"))
    val details = Etl.validateDetails(spark, sf)
    assert(details.count() > 0)
  }

  test("coherence checks exercise BOTH branches (non-vacuous)") {
    // the dirty 1/97 document slice (18% IVA feed) must fail coherence;
    // clean rows must pass — a tautological check would have one branch empty
    val docs = Etl.validateDocuments(spark, sf).cache()
    assert(docs.filter(col("montos_coherentes")).count() > 0)
    assert(docs.filter(!col("montos_coherentes")).count() > 0)
    // every incoherent document sits in the dirty slice
    assert(docs.filter(!col("montos_coherentes") &&
      col("id_documento") % 97 =!= 0).count() == 0)
    docs.unpersist()
    val det = Etl.validateDetails(spark, sf).cache()
    assert(det.filter(col("linea_coherente")).count() > 0)
    assert(det.filter(!col("linea_coherente")).count() > 0)
    assert(det.filter(!col("linea_coherente") &&
      (col("id_documento") + col("numero_linea")) % 89 =!= 0).count() == 0)
    det.unpersist()
  }

  test("validateProducts: price-list reject + both cost-fallback branches") {
    val prods = Etl.validateProducts(spark, sf).cache()
    // mandatory price-list-2 lookup: products without a list row (id % 53
    // == 0) must be rejected outright (etl_service.py:588-594)
    assert(prods.filter(col("id_producto") % 53 === 0).count() == 0)
    assert(prods.count() > 0)
    // fallback branch: no positive cost history (id % 7 == 0) → price·0.65
    val fallback = prods.filter(col("id_producto") % 7 === 0 &&
      col("id_producto") % 53 =!= 0).cache()
    assert(fallback.count() > 0)
    assert(fallback.filter(
      abs(col("costo_neto") - col("precio_neto") * 0.65) > 1e-9).count() == 0)
    // history branch: averaged history actually used (≠ price·0.65)
    assert(prods.filter(col("id_producto") % 7 =!= 0 &&
      abs(col("costo_neto") - col("precio_neto") * 0.65) > 1e-6).count() > 0)
    // field fidelity: nullable barcode slice, 0/1 stock flag
    assert(prods.filter(col("id_producto") % 31 === 0 &&
      col("codigo_barras").isNotNull).count() == 0)
    assert(prods.filter(!col("controla_stock").isin(0, 1)).count() == 0)
    prods.unpersist(); fallback.unpersist(): Unit
  }

  test("merge keeps exactly one row per key, updates win") {
    val sp = spark
    import sp.implicits._
    val base = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1)).toDF("k", "v", "ver")
    val upd = Seq((2L, "B", 2), (4L, "d", 2)).toDF("k", "v", "ver")
    val out = Etl.merge(base, upd, "k").orderBy("k")
      .as[(Long, String, Int)].collect()
    assert(out.toSeq == Seq((1L, "a", 1), (2L, "B", 2), (3L, "c", 1), (4L, "d", 2)))
  }

  test("test slice: deterministic first-k per entity, unknown entity rejected") {
    for (e <- Seq("clients", "products", "documents", "details")) {
      val s = Etl.testSlice(spark, sf, e, 10)
      assert(s.count() == 10)
      // reproducible: two runs pick the same rows
      assert(s.except(Etl.testSlice(spark, sf, e, 10)).count() == 0)
    }
    intercept[IllegalArgumentException] { Etl.testSlice(spark, sf, "nope") }
    intercept[IllegalArgumentException] { Etl.testSlice(spark, sf, "clients", 0) }
  }

  test("per-entity sync filters on each entity's event-time column") {
    val startNanos = java.time.LocalDate.parse("2024-01-15")
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L
    val ev = Etl.syncEntity(spark, sf, "events", "2024-01-15")
    assert(ev.count() > 0)
    assert(ev.filter(col("ts_us") < startNanos / 1000).count() == 0)
    val li = Etl.syncEntity(spark, sf, "lineitem", "1995-01-01")
    assert(li.count() > 0)
    assert(li.filter(col("l_shipdate") < lit("1995-01-01").cast("date")).count() == 0)
    intercept[IllegalArgumentException] {
      Etl.syncEntity(spark, sf, "nope", "2020-01-01")
    }: Unit
  }

  test("asof join picks the latest right row at or before each left time") {
    val sp = spark
    import sp.implicits._
    val quotes = Seq((1L, 10L, Option(100.0)), (1L, 20L, Option(101.0)),
      (2L, 15L, Option(50.0)), (3L, 10L, Option(7.0)), (3L, 20L, Option.empty[Double]))
      .toDF("k", "t", "px")
    val trades = Seq((1L, 9L, "a"), (1L, 10L, "b"), (1L, 25L, "c"),
      (2L, 14L, "d"), (3L, 25L, "e")).toDF("k", "ts", "tag")
    val out = AsOf.asofJoin(trades, quotes, "k", "ts", "t")
      .select("k", "ts", "tag", "px").as[(Long, Long, String, Option[Double])]
      .collect().toSet
    assert(out == Set(
      (1L, 9L, "a", None),          // nothing at/before t=9
      (1L, 10L, "b", Some(100.0)),  // equal time matches (<=)
      (1L, 25L, "c", Some(101.0)),  // latest, not first
      (2L, 14L, "d", None),         // other key's quotes invisible
      (3L, 25L, "e", None)))        // matched row taken WHOLE: its null px
                                    // must not backfill from the t=10 row
    // invariants on the events query: one row per error, match never future
    val r = AsOf.eventsAsof(spark, sf).cache()
    val nErrors = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "error").count()
    assert(r.count() == nErrors)
    assert(r.filter(col("click_ts_us") > col("ts_us")).count() == 0)
    r.unpersist(): Unit
  }

  test("banded range join finds exactly the in-window pairs") {
    val sp = spark
    import sp.implicits._
    // W=60: same-bucket pair (10,40), cross-bucket pair (59,61), excluded:
    // gap > W (61→200), equal times, other keys
    val df = Seq((1L, 10L, 100L), (1L, 40L, 101L), (1L, 59L, 102L),
      (1L, 61L, 103L), (1L, 200L, 104L), (2L, 12L, 105L))
      .toDF("k", "t", "id")
    val got = RangeJoin.windowPairs(df, "k", "t", "id", 60L)
      .select("id_a", "id_b", "delta").as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (100L, 101L, 30L), (100L, 102L, 49L), (100L, 103L, 51L),
      (101L, 102L, 19L), (101L, 103L, 21L), (102L, 103L, 2L)))
    // parity with the naive inequality join on real data
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"))
    val naive = ev.as("a").join(ev.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("b.ts_us") > col("a.ts_us") &&
        col("b.ts_us") - col("a.ts_us") <= 60000000L).count()
    assert(RangeJoin.eventsWindowPairs(spark, sf).count() == naive)
  }

  test("count-min sketch overestimates, never under, and merges order-free") {
    val r = Sketches.eventsCms(spark, sf).cache()
    assert(r.count() > 0)
    // CMS guarantee: estimate >= exact count, always
    assert(r.filter(col("cms_est") < col("n_events")).count() == 0)
    r.unpersist()
    // cellwise-add merge => identical matrix under any partitioning
    val ev = graft.sources.Tables.events(spark, sf)
    val m1 = ev.agg(expr("graft_cms_sketch(event_type)")).head.getSeq[Long](0)
    val m2 = ev.repartition(7).agg(expr("graft_cms_sketch(event_type)"))
      .head.getSeq[Long](0)
    assert(m1 == m2)
    // total mass = one increment per row per hash line
    assert(m1.sum == ev.count() * graft.functions.Kernels.CmsDepth)
  }

  test("event paths are complete and top terms are a deterministic cut") {
    val p = Sketches.eventsPaths(spark, sf).cache()
    // every event lands in exactly one user's path
    assert(p.agg(sum("n_events")).head.getLong(0) ==
      graft.sources.Tables.events(spark, sf).count())
    assert(p.filter(size(split(col("path"), ">")) =!= col("n_events")).count() == 0)
    p.unpersist()
    val t = Sketches.topTerms(spark, sf).collect()
    assert(t.nonEmpty && t.length <= Sketches.TopTermsK)
    // descending counts with token tie-break
    assert(t.sliding(2).forall { case Array(a, b) =>
      a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) && a.getString(0) < b.getString(0))
      case _ => true
    })
  }

  test("asof/range joins match in-memory naive results on random data") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    // unique times so ordering (and therefore both results) is total
    val times = rnd.shuffle((1L to 2000L).toVector)
    val rows = times.zipWithIndex.map { case (t, i) =>
      (rnd.nextInt(8).toLong, t, i.toLong)
    }
    val (lRows, rRows) = rows.splitAt(1000)
    val left = lRows.toDF("k", "t", "id")
    val right = rRows.toDF("k", "t", "rid")
    val gotAsof = AsOf.asofJoin(left, right.withColumnRenamed("t", "rt"), "k", "t", "rt")
      .select("id", "rid").as[(Long, Option[Long])].collect().toMap
    val expAsof = lRows.map { case (k, t, id) =>
      val cand = rRows.filter(r => r._1 == k && r._2 <= t)
      id -> (if (cand.isEmpty) None else Some(cand.maxBy(_._2)._3))
    }.toMap
    assert(gotAsof == expAsof)
    val all = rows.toDF("k", "t", "id")
    val gotPairs = RangeJoin.windowPairs(all, "k", "t", "id", 37L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expPairs = (for {
      a <- rows; b <- rows
      if a._1 == b._1 && b._2 > a._2 && b._2 - a._2 <= 37L
    } yield (a._3, b._3)).toSet
    assert(gotPairs == expPairs)
  }

  test("dedup_exact covers every doc exactly once") {
    val d = DedupOps.dedupExact(spark, sf)
    val total = d.agg(sum("n_copies")).head.getLong(0)
    assert(total == graft.sources.Tables.documents(spark, sf).count())
  }

  test("ivf ann searches at most nprobe cells and never returns the probe") {
    val r = EmbeddingOps.annIvf(spark, sf)
    assert(r.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    assert(r.filter(col("rnk") > 10).count() == 0)
    val cellsPerProbe = r.groupBy("probe_id")
      .agg(countDistinct("cent_id").as("n_cells"))
    assert(cellsPerProbe.filter(col("n_cells") > EmbeddingOps.IvfNprobe)
      .count() == 0)
  }

  test("dedup components co-cluster every candidate pair, canonical = min") {
    val comp = DedupOps.dedupComponents(spark, sf).cache()
    val pairs = DedupOps.dedupMinhashLsh(spark, sf)
    val ca = comp.select(col("doc_id").as("doc_a"), col("component_id").as("ca"))
    val cb = comp.select(col("doc_id").as("doc_b"), col("component_id").as("cb"))
    assert(pairs.join(ca, "doc_a").join(cb, "doc_b")
      .filter(col("ca") =!= col("cb")).count() == 0)
    // canonical id is the minimum member of its own component
    assert(comp.filter(col("component_id") > col("doc_id")).count() == 0)
    assert(comp.groupBy("component_id").agg(min("doc_id").as("m"))
      .filter(col("m") =!= col("component_id")).count() == 0)
    // sizes partition the node set
    assert(comp.select(sum(lit(1))).head.getLong(0) ==
      comp.select("component_id", "component_size").distinct()
        .agg(sum("component_size")).head.getLong(0))
    comp.unpersist(): Unit
  }

  test("components converge within 4 pointer-jumped rounds") {
    // the doubling pointer jump keeps rounds O(log diameter); a hash-family
    // or edge-shape change that silently degrades back to O(diameter)
    // sweeps must fail here, not as a 2x driver-round wall-time creep
    // the label loop runs its actions during construction, so the round
    // count is final before any action on the returned frame
    val (_, rounds) = DedupOps.dedupComponentsWithRounds(spark, sf)
    assert(rounds <= 4, s"component loop took $rounds driver rounds (max 4)")
    spark.catalog.clearCache(): Unit
  }

  test("minhash pairs are ordered and distinct") {
    val p = DedupOps.dedupMinhashLsh(spark, sf)
    assert(p.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(p.count() == p.distinct().count())
  }

  test("simhash signatures are 32-bit non-negative") {
    val s = DedupOps.dedupSimhash(spark, sf)
    assert(s.filter(col("simhash") < 0 || col("simhash") > (1L << 32) - 1).count() == 0)
  }

  test("stop-gram df cap keeps hot grams out of the pair join") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_hotgram")
    // MaxGramDf+5 docs share ONE hot gram (plus unique fillers) — without
    // the cap that bucket alone yields ~(df²/2) pairs; with it, zero. Two
    // extra docs share only rare grams and must still pair.
    val hot = (1 to DedupOps.MaxGramDf + 5).map(i =>
      (i.toLong, s"alpha beta gamma filler$i x$i y$i", "en", "src0", 10L))
    val rare = Seq(
      (9001L, "uno dos tres cuatro", "en", "src0", 10L),
      (9002L, "uno dos tres cuatro", "en", "src0", 10L))
    (hot ++ rare).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((9001L, 9002L)))
  }

  test("simhash band blocking is complete within the hamming radius") {
    val r = DedupOps.dedupSimhashBand(spark, sf).cache()
    assert(r.filter(col("hamming") > DedupOps.SimhashMaxHamming ||
      col("hamming") < 0).count() == 0)
    assert(r.filter(col("doc_a") >= col("doc_b")).count() == 0)
    // pigeonhole guarantee: 4 bands cover hamming ≤ 3 exactly, so the
    // banded result must equal the brute-force pair set
    val s = DedupOps.dedupSimhash(spark, sf).select("doc_id", "simhash")
    val brute = s.as("a").join(s.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.simhash ^ b.simhash)") <= DedupOps.SimhashMaxHamming)
    assert(r.count() == brute.count())
    r.unpersist(): Unit
  }

  test("jaccard scores lie in (0, 1]") {
    val j = DedupOps.dedupNgramJaccard(spark, sf)
    assert(j.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() == 0)
  }

  test("containment (C94) detects quote-inclusion pairs Jaccard misses") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_containment")
    // doc 2 is doc 1 quoted wholesale inside ~4x unrelated text: every
    // gram of 1 is in 2 (containment = 1.0) but the union is dominated
    // by 2's filler, so jaccard < 0.2 and C4 never reports the pair.
    val quoted = "the quick brown fox jumps over the lazy dog today"
    val filler = (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    Seq(
      (1L, quoted, "en", "src0", 10L),
      (2L, s"$filler $quoted", "en", "src0", 10L),
      (3L, "completely unrelated text about something else entirely here",
        "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupOps.dedupContainment(spark, dir)
      .select("doc_a", "doc_b", "containment", "jaccard", "jaccard_missed")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq((1L, 2L)))
    assert(rows.head._3 == 1.0)          // full inclusion of the smaller set
    assert(rows.head._4 < 0.2)           // below C4's floor
    assert(rows.head._5)                 // flagged as Jaccard-missed
    // and C4 on the same corpus indeed misses it
    assert(DedupOps.dedupNgramJaccard(spark, dir).count() == 0)
  }

  test("containment is an upper bound on jaccard and exactly n_common/min") {
    val c = DedupOps.dedupContainment(spark, sf).cache()
    assert(c.filter(col("containment") < col("jaccard")).count() == 0)
    assert(c.filter(col("containment") =!=
      col("n_common").cast("double") /
        least(col("n_a"), col("n_b")).cast("double")).count() == 0)
    assert(c.filter(col("containment") > 1.0 ||
      col("containment") < DedupOps.MinContainment).count() == 0)
    // containment ≥ jaccard, so every C4 pair at jaccard ≥ the 0.3 floor
    // is guaranteed to clear it and must appear here too
    val j = DedupOps.dedupNgramJaccard(spark, sf)
      .filter(col("jaccard") >= DedupOps.MinContainment)
      .select("doc_a", "doc_b")
    val here = c.select("doc_a", "doc_b")
    assert(j.intersect(here).count() == j.count())
    c.unpersist(): Unit
  }

  test("lsh-blocked near-dup pairs are a verified subset of the exact pairs") {
    val exact = EmbeddingOps.neardupEmbedding(spark, sf)
      .select("vec_a", "vec_b").cache()
    val lsh = EmbeddingOps.neardupEmbeddingLsh(spark, sf)
      .select("vec_a", "vec_b").cache()
    assert(lsh.count() > 0)
    // every blocked pair passed the same cosine verification → subset
    assert(lsh.except(exact).count() == 0)
    val recall = lsh.count().toDouble / exact.count()
    info(f"near-dup LSH-block recall=$recall%.2f")
    assert(recall >= 0.30, s"near-dup LSH block recall regressed: $recall")
    exact.unpersist(); lsh.unpersist(): Unit
  }

  test("ann bruteforce returns at most k ranked neighbors per probe") {
    val a = EmbeddingOps.annBruteforce(spark, sf)
    val byProbe = a.groupBy("probe_id").agg(count(lit(1)).as("n"), max("rnk").as("m"))
    assert(byProbe.filter(col("n") > 10 || col("m") > 10).count() == 0)
    // cosine must be within [-1, 1] modulo rounding
    assert(a.filter(abs(col("cosine")) > 1.0000001).count() == 0)
  }

  test("ann lsh returns at most k ranked candidates with no self-pairs") {
    val l = EmbeddingOps.annLsh(spark, sf)
    assert(l.filter(col("rnk") > 10).count() == 0)
    assert(l.filter(col("probe_id") === col("neighbor_id")).count() == 0)
  }

  test("ann params: non-default call ≡ default restricted + oracle re-interpolates") {
    // probeLo=1, batch=2 → probe window [100, 300). Per-probe rankings are
    // independent of the probe set, so the non-default call must equal the
    // default result restricted to that window — the operator honoring the
    // parameters exactly as the probe predicate defines them...
    val narrow = EmbeddingOps.annBruteforce(spark, sf, probeBatch = 2, probeLo = 1)
    val wide = EmbeddingOps.annBruteforce(spark, sf)
      .filter(col("probe_id") >= 100 && col("probe_id") < 300)
    assert(narrow.count() > 0) // window non-empty, equality non-vacuous
    assert(narrow.except(wide).count() == 0)
    assert(wide.except(narrow).count() == 0)
    // ...and the oracle builder interpolating the SAME values (not the
    // default constants — the round-5 desync). DuckDB-side equality of
    // these non-default variants is checked by `runMain graft.ParamCheck`
    // + tools/selfcheck.py; here we pin the bounds that SQL carries.
    val sql = EmbeddingOps.annBruteforceSqlFor(probeBatch = 2, probeLo = 1)
    assert(sql.contains("p.vec_id >= 100 AND p.vec_id < 300"), sql)
    assert(EmbeddingOps.annBruteforceSqlFor() == EmbeddingOps.annBruteforceSql)
    val ivfSql = EmbeddingOps.annIvfSqlFor(k = 2, probeBatch = 2, probeLo = 1)
    assert(ivfSql.contains("vec_id % 100 = 50 AND vec_id < 200"), ivfSql)
    assert(EmbeddingOps.semanticDedupSqlFor(k = 2)
      .contains("vec_id % 100 = 50 AND vec_id < 200"))
  }

  test("ann recall@10 vs the exact baseline stays above the pinned floor") {
    // deterministic arithmetic → recall is exactly reproducible; floors sit
    // just under the measured values (lsh 0.84 at 16 tables × 4 planes,
    // ivf 0.90 at nprobe=4, both sf0.001) so a param regression fails
    // loudly while small corpus drift doesn't
    val exact = EmbeddingOps.annBruteforce(spark, sf)
      .select("probe_id", "neighbor_id").cache()
    val n = exact.count().toDouble
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("probe_id", "neighbor_id")
        .join(exact, Seq("probe_id", "neighbor_id")).count() / n
    val rLsh = recall(EmbeddingOps.annLsh(spark, sf))
    val rIvf = recall(EmbeddingOps.annIvf(spark, sf))
    val rRrf = recall(EmbeddingOps.retrievalRrf(spark, sf))
    info(f"recall@10: lsh=$rLsh%.2f ivf=$rIvf%.2f rrf=$rRrf%.2f")
    assert(rLsh >= 0.70, s"multi-table LSH recall@10 regressed: $rLsh")
    assert(rIvf >= 0.80, s"IVF nprobe=4 recall@10 regressed: $rIvf")
    // fusion's reason to exist: measured 0.96 here vs 0.90/0.84 alone
    assert(rRrf >= 0.90, s"RRF fused recall@10 regressed: $rRrf")
    exact.unpersist(): Unit
  }

  test("rrf fusion (C96): provenance, score identity, dual-list dominance") {
    val lsh = EmbeddingOps.annLsh(spark, sf)
      .select(col("probe_id"), col("neighbor_id"), col("rnk")).cache()
    val ivf = EmbeddingOps.annIvf(spark, sf)
      .select(col("probe_id"), col("neighbor_id"), col("rnk")).cache()
    val fused = EmbeddingOps.retrievalRrf(spark, sf).cache()
    // provenance: every fused pair exists in at least one source list,
    // with the EXACT rank that list assigned
    assert(fused.filter(col("lsh_rnk").isNull && col("ivf_rnk").isNull)
      .count() == 0)
    assert(fused.select("probe_id", "neighbor_id", "lsh_rnk")
      .filter(col("lsh_rnk").isNotNull)
      .join(lsh.withColumnRenamed("rnk", "src_rnk"),
        Seq("probe_id", "neighbor_id"))
      .filter(col("lsh_rnk") =!= col("src_rnk")).count() == 0)
    assert(fused.select("probe_id", "neighbor_id", "ivf_rnk")
      .filter(col("ivf_rnk").isNotNull)
      .join(ivf.withColumnRenamed("rnk", "src_rnk"),
        Seq("probe_id", "neighbor_id"))
      .filter(col("ivf_rnk") =!= col("src_rnk")).count() == 0)
    // score identity: recompute 1/(k+r) terms in-row
    val k = EmbeddingOps.RrfK.toLong
    assert(fused.filter(col("rrf_score") =!=
      (coalesce(lit(1.0) / (lit(k) + col("lsh_rnk")).cast("double"), lit(0.0)) +
       coalesce(lit(1.0) / (lit(k) + col("ivf_rnk")).cast("double"), lit(0.0))))
      .count() == 0)
    // dominance: a pair both lists rank <= 5 scores >= 2/(k+5), while any
    // single-list pair scores <= 1/(k+1) < that - so every such dual pair
    // MUST make the fused top-10
    val dual = lsh.withColumnRenamed("rnk", "lr")
      .join(ivf.withColumnRenamed("rnk", "ir"), Seq("probe_id", "neighbor_id"))
      .filter(col("lr") <= 5 && col("ir") <= 5)
    assert(dual.count() > 0)  // the corpus has agreeing strong neighbors
    assert(dual.join(fused.select("probe_id", "neighbor_id"),
      Seq("probe_id", "neighbor_id"), "left_anti").count() == 0)
    // bounded output: at most 10 per probe, ranks dense from 1
    val perProbe = fused.groupBy("probe_id")
      .agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(perProbe.filter(col("n") > 10 || col("mx") =!= col("n")).count() == 0)
    Seq(lsh, ivf, fused).foreach(_.unpersist(): Unit)
  }

  test("pca power (C99): unit loading, bounded spectrum, dominant axis") {
    val sp = spark
    import sp.implicits._
    val D = graft.functions.Kernels.GramDims
    val r = EmbeddingOps.embedPcaPower(spark, sf).orderBy("dim").collect()
    assert(r.length == D)
    // the loading is a unit vector (normalization is the last step)
    val norm2 = r.map(_.getAs[Double]("loading")).map(x => x * x).sum
    assert(math.abs(norm2 - 1.0) < 1e-9, s"loading norm^2 = $norm2")
    // PSD spectrum bounds: 0 < lambda <= trace, share in (0, 1]
    val share = r.head.getAs[Double]("explained_share")
    assert(r.head.getAs[Double]("eigenvalue") > 0.0)
    assert(share > 0.0 && share <= 1.0 + 1e-12, s"share = $share")
    assert(r.map(_.getAs[Double]("explained_share")).distinct.length == 1)
    // constructed dominant axis: all variance in dim 0 -> loading e0,
    // explained share 1
    val dir = tmpDir("graft_pca")
    (0 until 50).map(i =>
        (i.toLong, Array.tabulate(D)(d => if (d == 0) i.toFloat else 0.5f).toSeq, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val c = EmbeddingOps.embedPcaPower(spark, dir).orderBy("dim").collect()
    assert(math.abs(c.head.getAs[Double]("loading") - 1.0) < 1e-9)
    assert(c.drop(1).forall(_.getAs[Double]("loading") == 0.0))
    assert(math.abs(c.head.getAs[Double]("explained_share") - 1.0) < 1e-9)
  }

  test("pii scrub redacts exactly the dirty slice") {
    val r = TextOps.piiScrub(spark, sf).cache()
    // dirty slice (doc_id % 13 == 0): email + phone both redacted
    assert(r.filter(col("doc_id") % 13 === 0 &&
      col("n_redacciones") =!= 2).count() == 0)
    assert(r.filter(col("doc_id") % 13 === 0).count() > 0)
    // clean slice untouched, zero redactions
    assert(r.filter(col("doc_id") % 13 =!= 0 &&
      col("n_redacciones") =!= 0).count() == 0)
    assert(r.filter(col("texto_limpio").rlike("@") ||
      col("texto_limpio").rlike("\\+56")).count() == 0)
    r.unpersist(): Unit
  }

  test("content-keyed split: identical texts always share a split") {
    val s = Pipeline.corpusSplit(spark, sf).cache()
    assert(s.select("split").distinct().count() == 3) // all three populated
    val withHash = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(lower(trim(col("text"))).cast("binary")).as("nh"))
      .join(s, "doc_id")
    assert(withHash.groupBy("nh")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count() == 0)
    s.unpersist(): Unit
  }

  test("corpus pipeline output is deduped, gated, and scrubbed") {
    val r = Pipeline.corpusPipeline(spark, sf).cache()
    assert(r.count() > 0)
    // dedup: no two rows share a normalized content hash → scrubbed text
    // (scrub is deterministic per text) must also be unique
    assert(r.count() == r.select("texto_limpio").distinct().count())
    // gates: quality floor and language agreement held
    assert(r.filter(col("quality_score") < 0.0).count() == 0)
    // scrub: no raw emails/phones survive
    assert(r.filter(col("texto_limpio").rlike("@")).count() == 0)
    // the PII slice that survived the gates carries redaction counts
    assert(r.filter(col("doc_id") % 13 === 0 &&
      col("n_redacciones") === 0).count() == 0)
    r.unpersist(): Unit
  }

  test("multimodal features are deterministic and sized right") {
    val f = MultimodalOps.features(spark, sf)
    assert(f.filter(col("mean_byte") < 0 || col("mean_byte") > 255).count() == 0)
    assert(f.filter(col("frame_count") < 1).count() == 0)
    // byte_len agrees with the meta query's octet length
    val meta = EmbeddingOps.multimodalMeta(spark, sf).select("doc_id", "byte_len")
    assert(f.select("doc_id", "byte_len").except(meta).count() == 0)
  }

  test("resize caps payloads; frame sampling clamps to the last frame") {
    val media = MultimodalOps.mediaTable(spark, sf)
    val resized = MultimodalOps.resize(media, targetBytes = 100)
    assert(resized.filter(length(col("payload")) > 100).count() == 0)
    assert(resized.count() == media.count())
    // sampling frames 0 and 9999: every row yields both requests, the
    // out-of-range one clamped to the last real frame
    val frames = MultimodalOps.frameSample(media, Seq(0, 9999)).cache()
    assert(frames.count() == media.count() * 2)
    assert(frames.filter(length(col("frame")) > 256).count() == 0)
    val meta = EmbeddingOps.multimodalMeta(spark, sf)
      .select(col("doc_id"), col("byte_len"))
    val lastIdx = frames.groupBy("doc_id").agg(max("frame_idx").as("last_idx"))
    assert(lastIdx.join(meta, "doc_id")
      .filter(col("last_idx") =!= greatest(lit(0), floor(col("byte_len") / 256)))
      .count() == 0)
    frames.unpersist(): Unit
  }

  test("decode stub: empty payload and known bytes") {
    assert(MultimodalOps.decodeStub(Array.emptyByteArray) == (0.0, 0, 0))
    assert(MultimodalOps.decodeStub(Array[Byte](0, 100, -56)) == (100.0, 200, 1))
  }

  test("chunk-count formula matches a naive chunker for all doc lengths") {
    // pure-math property check: the integer ceil-division formula used by
    // both engines must agree with an explicit start-stepping chunker far
    // beyond the test corpus's 10-99 token range
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val (w, s) = (TextOps.ChunkTokens, TextOps.ChunkStride)
    // a start needs a successor iff its window [start, start+w) ends short
    def naive(n: Long): Long = {
      var k = 0L
      while (k * s + w < n) k += 1
      k + 1
    }
    def formula(n: Long): Long =
      if (n <= w) 1L else (n - w + s - 1) / s + 1
    val prop = Prop.forAll(Gen.chooseNum(1L, 5000000L)) { n =>
      val f = formula(n)
      // == naive; last chunk reaches the end, is non-empty, and is needed
      f == naive(n) &&
        (f - 1) * s + w >= n &&
        (f - 1) * s < n &&
        (f == 1 || (f - 2) * s + w < n)
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("doc chunking: full coverage, bounded chunks, only the last runs short") {
    val chunks = TextOps.docChunk(spark, sf).cache()
    val docs = TextOps.tokenCount(spark, sf).filter(col("n_tokens_ws") > 0)
    // every non-empty doc chunked; no chunk exceeds the window
    assert(chunks.select("doc_id").distinct().count() == docs.count())
    assert(chunks.filter(col("n_chunk_tokens") > TextOps.ChunkTokens).count() == 0)
    assert(chunks.filter(col("n_chunk_tokens") < 1).count() == 0)
    // chunk text token count agrees with the declared n_chunk_tokens
    assert(chunks.filter(
      size(split(col("chunk_text"), " ")) =!= col("n_chunk_tokens")).count() == 0)
    // coverage: last chunk reaches exactly the doc's end (start + len == n_tok)
    val last = chunks.groupBy("doc_id").agg(max("chunk_idx").as("last_idx"))
    val lastLen = chunks.as("c").join(last.as("l"),
        col("c.doc_id") === col("l.doc_id") &&
        col("c.chunk_idx") === col("l.last_idx"))
      .select(col("c.doc_id").as("doc_id"),
        (col("l.last_idx") * TextOps.ChunkStride + col("c.n_chunk_tokens")).as("covered"))
    assert(lastLen.join(docs, Seq("doc_id"))
      .filter(col("covered") =!= col("n_tokens_ws")).count() == 0)
    // only the final chunk may run short
    assert(chunks.as("c").join(last.as("l"), col("c.doc_id") === col("l.doc_id"))
      .filter(col("c.chunk_idx") < col("l.last_idx") &&
        col("c.n_chunk_tokens") =!= TextOps.ChunkTokens).count() == 0)
    chunks.unpersist(): Unit
  }

  test("repetition signals: fractions bounded, both flag branches reachable") {
    val r = TextOps.textRepetition(spark, sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("top_tok_frac") <= 0 || col("top_tok_frac") > 1).count() == 0)
    assert(r.filter(col("distinct_tok_frac") <= 0 ||
      col("distinct_tok_frac") > 1).count() == 0)
    assert(r.filter(col("dup_2gram_frac") < 0 || col("dup_2gram_frac") >= 1).count() == 0)
    // a doc of all-identical tokens maxes every signal; distinct text minimizes
    assert(r.filter(col("repetitive")).count() > 0)
    assert(r.filter(!col("repetitive")).count() > 0)
    r.unpersist(): Unit
  }

  test("sliding windows cover each event exactly window/slide times") {
    val slid = Analytics.eventsSlidingWindow(spark, sf)
    val n_events = graft.sources.Tables.events(spark, sf).count()
    // every event lands in exactly SlidesPerWindow windows
    assert(slid.agg(sum("n_eventos")).head.getLong(0)
      == n_events * Analytics.SlidesPerWindow)
    // window starts align to the slide grid
    assert(slid.filter(col("win_start_us") % Analytics.SlideUs =!= 0).count() == 0)
    // an hour-aligned sliding window covers exactly the tumbling hour
    val tumb = Analytics.eventsWindowAgg(spark, sf)
      .select((col("hora_epoch") * 3600000000L).as("win_start_us"),
        col("event_type"), col("n_eventos").as("n_tumb"))
    assert(slid.join(tumb, Seq("win_start_us", "event_type"))
      .filter(col("n_eventos") =!= col("n_tumb")).count() == 0)
  }

  test("decontamination: both branches, eval slice excluded, exact dups flagged") {
    val d = Pipeline.corpusDecontaminate(spark, sf).cache()
    // eval-slice docs never appear in the output
    assert(d.filter(col("doc_id") % Pipeline.BenchMod === Pipeline.BenchRem)
      .count() == 0)
    // both branches reachable at test scale
    assert(d.filter(col("contaminated")).count() > 0)
    assert(d.filter(!col("contaminated")).count() > 0)
    assert(d.filter(col("contaminated") =!= (col("n_hits") > 0)).count() == 0)
    d.unpersist(): Unit
  }

  test("rarity: mean positive, bounded by corpus size, ordered fold exact") {
    val r = TextOps.docRarity(spark, sf).cache()
    val nTotal = r.agg(sum("n_tok")).head.getLong(0)
    assert(r.count() > 0)
    // every token's rarity is in [1, N]: mean must be too
    assert(r.filter(col("rarity_mean") < 1.0 ||
      col("rarity_mean") > nTotal.toDouble).count() == 0)
    // a doc of globally-unique tokens would score N; common-word docs score low
    assert(r.agg(min("rarity_mean")).head.getDouble(0) < nTotal.toDouble / 10)
    r.unpersist(): Unit
  }

  test("anomaly z-scores: exact-moment identity, flag matches threshold") {
    val a = Analytics.eventsAnomaly(spark, sf).cache()
    assert(a.count() > 0)
    // flag is exactly |z| > threshold (null z never anomalous)
    assert(a.filter(col("anomalo") =!=
      (abs(col("z")) > Analytics.AnomalyZ)).count() == 0)
    assert(a.filter(col("z").isNull && col("anomalo")).count() == 0)
    // per type, mean of n equals the reported baseline (integer-exact Σn)
    val chk = a.groupBy("event_type")
      .agg((sum("n").cast("double") / count(lit(1)).cast("double")).as("m2"),
        first("media_h").as("m1"))
    assert(chk.filter(col("m1") =!= col("m2")).count() == 0)
    a.unpersist(): Unit
  }

  test("chunk dedup: copy counts conserve chunks, duplicate chunks collapse") {
    val chunks = TextOps.docChunk(spark, sf)
    val ded = TextOps.chunkDedup(spark, sf).cache()
    // conservation: sum of copies == total chunks; distinct hashes == rows
    assert(ded.agg(sum("n_copies")).head.getLong(0) == chunks.count())
    assert(ded.select("chunk_hash").distinct().count() == ded.count())
    // keeper decodes to a real chunk position
    assert(ded.filter(col("keep_chunk_idx") < 0 ||
      col("keep_chunk_idx") > 1000).count() == 0)
    ded.unpersist(): Unit
  }

  test("part affinity: ordered pairs, metrics bounded, k-bounded") {
    val a = Analytics.partAffinity(spark, sf).cache()
    assert(a.count() > 0 && a.count() <= Analytics.AffinityTopK)
    assert(a.filter(col("part_a") >= col("part_b")).count() == 0)
    assert(a.filter(col("support") < 1).count() == 0)
    // confidence is a conditional probability; lift positive
    assert(a.filter(col("confianza") <= 0 || col("confianza") > 1).count() == 0)
    assert(a.filter(col("lift") <= 0).count() == 0)
    a.unpersist(): Unit
  }

  test("corpus mix: integer thresholds, min source kept whole, others downsampled") {
    val m = Pipeline.corpusMix(spark, sf).cache()
    assert(m.count() > 0)
    assert(m.filter(col("umbral") < 1 || col("umbral") > 1000000).count() == 0)
    // at least one source keeps everything (the bottleneck, umbral = 10⁶)
    assert(m.filter(col("umbral") === 1000000).count() > 0)
    // and the rest actually downsample: fewer kept rows than the corpus
    val total = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0).count()
    assert(m.count() < total)
    m.unpersist(): Unit
  }

  test("corpus mix temp: nests above C27, smooths monotonically, real smoothing") {
    val full = Pipeline.corpusMix(spark, sf).cache()
    val temp = Pipeline.corpusMixTemp(spark, sf).cache()
    // same salted hash ⇒ kept sets NEST: everything τ=1 keeps, τ=1/2 keeps
    assert(full.select("doc_id").except(temp.select("doc_id")).count() == 0)
    // τ=1/2 keeps strictly more here (smoothing is real on this corpus)
    assert(temp.count() > full.count())
    // per-source thresholds dominate C27's and stay valid rates
    val j = temp.select(col("source"), col("umbral").as("u_t")).distinct()
      .join(full.select(col("source"), col("umbral").as("u_1")).distinct(),
        "source")
    assert(j.filter(col("u_t") < col("u_1")).count() == 0)
    assert(temp.filter(col("umbral") < 1 || col("umbral") > 1000000).count() == 0)
    // the bottleneck source still keeps everything (sqrt(1) = 1)
    assert(temp.filter(col("umbral") === 1000000).count() > 0)
    full.unpersist(); temp.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("funnel matches a naive in-memory staged computation") {
    val sp = spark
    import sp.implicits._
    val ev = graft.sources.Tables.events(sp, sf)
      .selectExpr("user_id", "ts div 1000 AS ts_us", "event_type")
      .as[(Long, Long, String)].collect().toSeq
    val naive = ev.groupBy(_._1).flatMap { case (_, rows) =>
      def firstAtOrAfter(tpe: String, lo: Option[Long]): Option[Long] =
        lo.flatMap(l => rows.filter(r => r._3 == tpe && r._2 >= l)
          .map(_._2).minOption)
      val v = rows.filter(_._3 == "view").map(_._2).minOption
      val c = firstAtOrAfter("click", v)
      val p = firstAtOrAfter("purchase", c)
      v.map(fv => (fv / 86400000000L, c.isDefined, p.isDefined))
    }.toSeq
    val expected = naive.groupBy(_._1).map { case (day, us) =>
      (day, us.size.toLong, us.count(_._2).toLong, us.count(_._3).toLong)
    }.toSeq.sortBy(_._1)
    val got = Journeys.funnelConversion(sp, sf)
      .select("cohort_day", "n_view_users", "n_click_users", "n_purchase_users")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
  }

  test("funnel stages are monotone and rates consistent") {
    val f = Journeys.funnelConversion(spark, sf).cache()
    assert(f.count() > 0)
    assert(f.filter(col("n_click_users") > col("n_view_users")).count() == 0)
    assert(f.filter(col("n_purchase_users") > col("n_click_users")).count() == 0)
    assert(f.filter(col("click_rate") < 0 || col("click_rate") > 1).count() == 0)
    // purchase_rate defined exactly when the cohort has clicks
    assert(f.filter(col("n_click_users") > 0 &&
      col("purchase_rate").isNull).count() == 0)
    assert(f.filter(col("n_click_users") === 0 &&
      col("purchase_rate").isNotNull).count() == 0)
    f.unpersist(): Unit
  }

  test("histogram quantiles agree bit-for-bit with the row-pick quantiles") {
    val rowPick = Cubes.orderQuantiles(spark, sf)
    val hist = Cubes.orderQuantilesHist(spark, sf)
    assert(hist.schema.fieldNames.toSeq == rowPick.schema.fieldNames.toSeq)
    assert(hist.except(rowPick).count() == 0)
    assert(rowPick.except(hist).count() == 0)
  }

  test("scd2 history: contiguous intervals, one open version per user") {
    val h = Etl.scd2History(spark, sf).cache()
    assert(h.count() > 0)
    // exactly one open (current) version per user
    val open = h.filter(col("is_current")).groupBy("user_id").count()
    assert(open.filter(col("count") =!= 1).count() == 0)
    assert(open.count() == h.select("user_id").distinct().count())
    // closed intervals are non-degenerate and contiguous: version k's
    // valid_to equals version k+1's valid_from
    assert(h.filter(!col("is_current") &&
      col("valid_to_us") < col("valid_from_us")).count() == 0)
    val next = h.select(col("user_id"), (col("version") - 1).as("version"),
      col("valid_from_us").as("next_from"))
    assert(h.as("a").join(next.as("b"), Seq("user_id", "version"))
      .filter(col("valid_to_us") =!= col("next_from")).count() == 0)
    h.unpersist(): Unit
  }

  test("scd2 snapshot: at most one version per user, interval contains T") {
    val t = Etl.Scd2SnapshotUs
    val s = Etl.scd2Snapshot(spark, sf).cache()
    assert(s.count() > 0)
    assert(s.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    assert(s.filter(col("valid_from_us") > t).count() == 0)
    assert(s.filter(col("valid_to_us").isNotNull &&
      col("valid_to_us") <= t).count() == 0)
    // exactly the users whose history starts at/before T appear
    val active = Etl.scd2History(spark, sf)
      .filter(col("valid_from_us") <= t)
      .select("user_id").distinct().count()
    assert(s.count() == active)
    s.unpersist(): Unit
  }

  test("cohort retention: month-0 row equals cohort size, counts positive") {
    val ret = Journeys.cohortRetention(spark, sf).cache()
    assert(ret.count() > 0)
    assert(ret.filter(col("n_customers") < 1).count() == 0)
    // every cohort has its months_since = 0 row (the first order itself)
    val cohorts = ret.select("cohort_ym").distinct().count()
    assert(ret.filter(col("months_since") === 0).count() == cohorts)
    // month-0 count is the cohort's total distinct customers
    val sizes = Journeys.cohortRetention(spark, sf)
      .filter(col("months_since") === 0)
      .select(col("cohort_ym"), col("n_customers").as("m0"))
    assert(ret.join(sizes, "cohort_ym")
      .filter(col("n_customers") > col("m0")).count() == 0)
    ret.unpersist(): Unit
  }

  test("corpus pack: offsets are exact prefix sums, placement math consistent") {
    import org.apache.spark.sql.expressions.Window
    val b = operators.Pipeline.PackBudget
    val p = operators.Pipeline.corpusPack(spark, sf).cache()
    assert(p.count() > 0)
    // pack_pos/pack_id are pure functions of the offset; pos stays < budget
    assert(p.filter(col("pack_pos") =!= col("tok_offset") % b).count() == 0)
    assert(p.filter(col("pack_pos") >= b || col("pack_pos") < 0).count() == 0)
    assert(p.filter(expr(s"tok_offset div $b") =!= col("pack_id")).count() == 0)
    // the offset is the exclusive prefix sum: recompute independently
    val w = Window.partitionBy("source").orderBy("doc_id")
    val chk = p.withColumn("prev_end",
      lag(col("tok_offset") + col("n_tok"), 1, 0L).over(w))
    assert(chk.filter(col("tok_offset") =!= col("prev_end")).count() == 0)
    // a straddler is flagged iff its span crosses a budget multiple
    assert(p.filter(col("cruza_limite") =!=
      (expr(s"(tok_offset + n_tok - 1) div $b") =!= col("pack_id"))).count() == 0)
    p.unpersist(): Unit
  }

  test("hierarchical pack equals the window pack row-for-row (C28 100TB path)") {
    val win = operators.Pipeline.corpusPack(spark, sf)
    val hier = operators.Pipeline.corpusPackHier(spark, sf).cache()
    assert(hier.schema.fieldNames.toSeq == win.schema.fieldNames.toSeq)
    assert(hier.except(win).count() == 0)
    assert(win.except(hier).count() == 0)
    // non-degeneracy: the chunked first pass must actually compose offsets
    // ACROSS chunks (a single-chunk corpus would make equality vacuous —
    // the hier path would degenerate to the window path's shape)
    val c = operators.Pipeline.PackChunk
    val chunks = hier.select(expr(s"doc_id div $c").as("chunk"), col("source"))
      .groupBy("source").agg(countDistinct("chunk").as("n"))
    assert(chunks.filter(col("n") > 1).count() > 0)
    hier.unpersist(): Unit
  }

  test("pack efficiency: integer identities hold, both straddler branches real") {
    val b = operators.Pipeline.PackBudget
    val e = operators.Pipeline.packEfficiency(spark, sf).cache()
    assert(e.count() > 0)
    // ceil-division pack count brackets the token volume exactly
    assert(e.filter(col("n_packs") * b < col("n_tokens")).count() == 0)
    assert(e.filter((col("n_packs") - 1) * b >= col("n_tokens")).count() == 0)
    // padding is the identity n_packs·B − n_tokens, inside [0, B)
    assert(e.filter(col("relleno_final") =!=
      col("n_packs") * b - col("n_tokens")).count() == 0)
    assert(e.filter(col("relleno_final") < 0 ||
      col("relleno_final") >= b).count() == 0)
    // efficiency is the same identity as a ratio, in (0, 1]
    assert(e.filter(col("eficiencia") <= 0 || col("eficiencia") > 1).count() == 0)
    // non-degenerate: straddlers exist and are a strict minority somewhere
    assert(e.filter(col("n_cruzan") > 0).count() > 0)
    assert(e.filter(col("n_cruzan") >= col("n_docs")).count() == 0)
    // straddler count reconciles with the packer's own flags
    val fromPack = operators.Pipeline.corpusPack(spark, sf)
      .groupBy("source").agg(sum(col("cruza_limite").cast("long")).as("c"))
    assert(e.join(fromPack, "source")
      .filter(col("n_cruzan") =!= col("c")).count() == 0)
    e.unpersist(): Unit
  }

  test("minhash estimate: defined exactly on the LSH pairs, bounded, exact fraction") {
    val est = operators.DedupOps.dedupMinhashEst(spark, sf).cache()
    val pairs = operators.DedupOps.dedupMinhashLsh(spark, sf)
    // same pair set as the candidate query (estimation adds/drops nothing)
    assert(est.select("doc_a", "doc_b").except(pairs).count() == 0)
    assert(pairs.except(est.select("doc_a", "doc_b")).count() == 0)
    // a candidate pair shares ≥1 band, so ≥3 of 12 rows agree; ≤12 always
    assert(est.filter(col("n_eq") < 3 || col("n_eq") > 12).count() == 0)
    assert(est.filter(col("jaccard_est") =!=
      col("n_eq").cast("double") / lit(12.0d)).count() == 0)
    est.unpersist(): Unit
  }

  test("datasheet: integer identities hold, fractions sum to one") {
    val ds = operators.Pipeline.corpusDatasheet(spark, sf).cache()
    assert(ds.count() > 0)
    // dup identity and bounds
    assert(ds.filter(col("n_dup_docs") =!=
      col("n_docs") - col("n_distinct")).count() == 0)
    assert(ds.filter(col("n_distinct") > col("n_docs")).count() == 0)
    assert(ds.filter(col("tasa_dup") < 0 || col("tasa_dup") > 1).count() == 0)
    // token shares partition the corpus
    val s = ds.agg(sum("fraccion_tokens")).head.getDouble(0)
    assert(math.abs(s - 1.0) < 1e-9, s)
    ds.unpersist(): Unit
  }

  test("bigram lm: probabilities bounded, top-k per head, counts consistent") {
    val lm = operators.TextOps.bigramLm(spark, sf).cache()
    assert(lm.count() > 0)
    assert(lm.filter(col("c12") < operators.TextOps.BigramMin).count() == 0)
    assert(lm.filter(col("c12") > col("c1")).count() == 0)
    assert(lm.filter(col("p_cond") <= 0 || col("p_cond") > 1).count() == 0)
    // at most k continuations per head, ranks dense from 1
    val perHead = lm.groupBy("w1").agg(
      count(lit(1)).as("n"), max("rnk").as("mr"), min("rnk").as("lo"))
    assert(perHead.filter(col("n") > operators.TextOps.BigramTopK).count() == 0)
    assert(perHead.filter(col("mr") =!= col("n") || col("lo") =!= 1).count() == 0)
    lm.unpersist(): Unit
  }

  test("doc lm coverage: one row per doc, count identities, non-degenerate") {
    val cov = operators.TextOps.docLmCoverage(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(cov.count() == docs.count()) // every doc scored, even empty ones
    assert(cov.filter(col("n_known") > col("n_bigrams")).count() == 0)
    assert(cov.filter(col("coverage") < 0 || col("coverage") > 1).count() == 0)
    // coverage is null exactly when a doc has no bigrams
    assert(cov.filter(col("n_bigrams") === 0 &&
      col("coverage").isNotNull).count() == 0)
    assert(cov.filter(col("n_bigrams") > 0 &&
      col("coverage").isNull).count() == 0)
    // min_p_cond only over LM-known transitions: present iff n_known > 0,
    // and a valid conditional probability
    assert(cov.filter((col("n_known") > 0) =!=
      col("min_p_cond").isNotNull).count() == 0)
    assert(cov.filter(col("min_p_cond") <= 0 ||
      col("min_p_cond") > 1).count() == 0)
    // the filter discriminates: known and unknown transitions both occur
    assert(cov.filter(col("n_known") > 0).count() > 0)
    assert(cov.filter(col("n_known") < col("n_bigrams")).count() > 0)
    // bigram count reconciles with tokenization: sum = sum(max(len-1, 0))
    val totBg = cov.agg(sum("n_bigrams")).head().getLong(0)
    val totTok = docs.filter(length(trim(col("text"))) > 0)
      .select(size(split(lower(trim(col("text"))), "\\s+")).as("n"))
      .filter(col("n") >= 2)
      .agg(sum(col("n") - 1)).head().getLong(0)
    assert(totBg == totTok)
    cov.unpersist(): Unit
  }

  test("ann cell balance: conservation, share/load identities, skew real") {
    val b = operators.EmbeddingOps.annCellBalance(spark, sf).cache()
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    // every vector lands in exactly one cell
    assert(b.agg(sum("n_vecs")).head().getLong(0) == nVecs)
    assert(b.filter(col("n_vecs") <= 0).count() == 0)
    // shares sum to 1 within float tolerance; each reconstructs exactly
    assert(math.abs(b.agg(sum("share")).head().getDouble(0) - 1.0) < 1e-9)
    val nCells = b.count()
    assert(b.filter(col("load_factor") =!=
      (col("n_vecs") * lit(nCells)).cast("double") / lit(nVecs.toDouble))
      .count() == 0)
    // the report is non-degenerate: the quantizer is NOT uniform here
    val lf = b.agg(min("load_factor"), max("load_factor")).head()
    assert(lf.getDouble(1) > lf.getDouble(0))
    b.unpersist(): Unit
  }

  test("embed pq: full grid, codes from the codebook, argmin is optimal") {
    val pq = operators.EmbeddingOps.embedPq(spark, sf).cache()
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(pq.count() == nVecs * operators.EmbeddingOps.PqSub)
    // codes come from the deterministic codebook family
    assert(pq.filter(col("code") % 100 =!= 50).count() == 0)
    assert(pq.filter(col("sub_mse") < 0).count() == 0)
    // a codeword vector reconstructs ITSELF exactly in every subspace
    val selfRows = pq.filter(col("vec_id") % 100 === 50 &&
      col("vec_id") < operators.EmbeddingOps.PqK * 100L)
    assert(selfRows.filter(col("code") =!= col("vec_id") ||
      col("sub_mse") =!= 0.0).count() == 0)
    // non-degenerate: some non-codeword vector has a strictly positive MSE
    assert(pq.filter(col("sub_mse") > 0).count() > 0)
    // subspace assignments are genuinely independent: at least one vector
    // picks different codewords in different subspaces
    assert(pq.groupBy("vec_id")
      .agg(countDistinct("code").as("nc")).filter(col("nc") > 1)
      .count() > 0)
    pq.unpersist(): Unit
  }

  test("ann pq adc: top-10 per probe, ADC reconstructs from the LUT parts") {
    val adc = operators.EmbeddingOps.annPqAdc(spark, sf).cache()
    val probes = adc.select("probe_id").distinct().count()
    assert(probes > 0 && adc.count() == probes * 10)
    assert(adc.filter(col("adc_dist") < 0).count() == 0)
    assert(adc.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    // ranks dense 1..10, distances non-decreasing in rank per probe
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy("rnk")
    assert(adc.withColumn("prev", lag("adc_dist", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("adc_dist"))
      .count() == 0)
    val perProbe = adc.groupBy("probe_id")
      .agg(count(lit(1)).as("n"), min("rnk").as("lo"), max("rnk").as("hi"))
    assert(perProbe.filter(col("n") =!= 10 || col("lo") =!= 1 ||
      col("hi") =!= 10).count() == 0)
    // ADC is coarse but not vacuous: it agrees with exact top-10 (C6)
    // on at least one neighbor somewhere in the batch
    val exact = operators.EmbeddingOps.annBruteforce(spark, sf)
      .select(col("probe_id"), col("neighbor_id"))
    assert(adc.select("probe_id", "neighbor_id").intersect(exact).count() > 0)
    adc.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("stratified sample: exact min(k, stratum) sizes, every stratum present") {
    val k = Pipeline.StratumK
    val s = Pipeline.corpusSampleStratified(spark, sf).cache()
    val strata = graft.sources.Tables.documents(spark, sf)
      .filter(length(lower(trim(col("text")))) > 0)
      .groupBy("source", "lang").agg(count(lit(1)).as("n_total"))
    val sizes = s.groupBy("source", "lang").agg(count(lit(1)).as("n_kept"))
    val j = strata.join(sizes, Seq("source", "lang"), "left").cache()
    // every stratum is represented with exactly min(k, |stratum|) docs
    assert(j.filter(col("n_kept").isNull).count() == 0)
    assert(j.filter(col("n_kept") =!= least(col("n_total"), lit(k.toLong)))
      .count() == 0)
    // ranks dense from 1 within each stratum
    assert(s.groupBy("source", "lang")
      .agg(count(lit(1)).as("n"), min("rnk").as("lo"), max("rnk").as("hi"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
    // non-degenerate: at least one stratum actually truncates to k
    assert(j.filter(col("n_total") > k).count() > 0)
    j.unpersist(); s.unpersist(): Unit
  }

  test("source overlap: full pair grid, jaccard identities, non-degenerate") {
    val m = operators.Pipeline.sourceOverlap(spark, sf).cache()
    val s = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select("source").distinct().count()
    assert(m.count() == s * (s - 1) / 2) // every pair, including zero-overlap
    assert(m.filter(col("source_a") >= col("source_b")).count() == 0)
    assert(m.filter(col("shared") > col("n_a") ||
      col("shared") > col("n_b")).count() == 0)
    assert(m.filter(col("jaccard") < 0 || col("jaccard") >= 1).count() == 0)
    // jaccard reconstructs from the integer counts exactly
    assert(m.filter(col("jaccard") =!= col("shared").cast("double") /
      (col("n_a") + col("n_b") - col("shared")).cast("double")).count() == 0)
    // both branches real: overlapping pairs and disjoint pairs both occur
    assert(m.filter(col("shared") > 0).count() > 0)
    assert(m.filter(col("shared") === 0).count() > 0)
    m.unpersist()
    spark.catalog.clearCache() // operator contract: caller reclaims caches
  }

  test("sync report: one row per entity, counts reconcile with validators") {
    val r = operators.Etl.syncReport(spark, sf).cache()
    assert(r.count() == 4)
    assert(r.filter(col("n_entrada") =!=
      col("n_cargados") + col("n_rechazados")).count() == 0)
    assert(r.filter(col("n_advertencias") > col("n_cargados")).count() == 0)
    // products is the entity with a hard reject path (missing price list)
    val prod = r.filter(col("entidad") === "productos").head()
    assert(prod.getLong(3) > 0) // n_rechazados
    // loaded counts match the validator outputs they summarize
    assert(prod.getLong(2) == operators.Etl.validateProducts(spark, sf).count())
    val cli = r.filter(col("entidad") === "clientes").head()
    assert(cli.getLong(2) == operators.Etl.validateClients(spark, sf).count())
    r.unpersist(): Unit
  }

  test("sync and daily reports stay within their pinned job counts") {
    // sf0.001 counts: 8 and 11. Each entity row is one aggregate over the
    // loaded/input union; a Sort left under that union survives as a range
    // exchange + sampling job per entity and breaks these bounds
    spark.catalog.clearCache()
    val sync = Audit.jobsOf(spark, operators.Etl.syncReport(spark, sf))
    val daily = Audit.jobsOf(spark, operators.Etl.dailyEtlReport(spark, sf))
    info(s"syncReport=$sync dailyEtlReport(cold)=$daily")
    assert(sync <= 8, s"syncReport ran $sync jobs")
    assert(daily <= 11, s"cold dailyEtlReport ran $daily jobs")
    spark.catalog.clearCache()
  }

  test("quarantine samples stay within their pinned job count") {
    // sf0.001 count: 8. The samples read the unsorted validator bodies; a
    // validator's orderBy left under the union adds a range-exchange job
    spark.catalog.clearCache()
    val jobs = Audit.jobsOf(spark, operators.Etl.quarantineSamples(spark, sf))
    info(s"quarantineSamples=$jobs")
    assert(jobs <= 8, s"quarantineSamples ran $jobs jobs")
    spark.catalog.clearCache()
  }

  test("daily report counts the current files, not an earlier call's cache") {
    val dir = tmpDir("graft-daily-grow-")
    for (t <- sources.Tables.all)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    def clients(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("entidad") === "clientes").head().getAs[Long]("n_entrada")
    val n0 = clients(operators.Etl.dailyEtlReport(spark, dir))
    // grow customer.parquet: every client again under a fresh key
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    cust.unionByName(cust.withColumn("c_custkey", col("c_custkey") + 1000000L))
      .write.parquet(s"$dir/customer_grown")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/customer.parquet"))
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/customer_grown"),
      java.nio.file.Paths.get(s"$dir/customer.parquet"))
    assert(clients(operators.Etl.syncReport(spark, dir)) == 2 * n0)
    assert(clients(operators.Etl.dailyEtlReport(spark, dir)) == 2 * n0)
    spark.catalog.clearCache()
  }

  test("lang confusion: cells conserve docs, fractions sum to one per row") {
    val cm = operators.TextOps.langConfusion(spark, sf).cache()
    val total = sources.Tables.documents(spark, sf).count()
    assert(cm.agg(sum("n_docs")).head.getLong(0) == total)
    // row totals: each declared lang's cells sum to its n_declarado
    val rows = cm.groupBy("lang_declarado").agg(
      sum("n_docs").as("s"), max("n_declarado").as("d"),
      sum("fraccion").as("f"))
    assert(rows.filter(col("s") =!= col("d")).count() == 0)
    assert(rows.filter(abs(col("f") - 1.0) > 1e-9).count() == 0)
    cm.unpersist(): Unit
  }

  test("orders backlog: only open orders, buckets partition the filtered set") {
    val b = operators.Analytics.ordersBacklog(spark, sf).cache()
    val open = sources.Tables.orders(spark, sf)
      .filter(col("o_orderstatus") =!= "F")
    assert(b.agg(sum("n_pedidos")).head.getLong(0) == open.count())
    assert(b.filter(col("estado") === "F").count() == 0)
    assert(b.filter(!col("tramo").isin("0-30", "31-90", "91-365", ">365"))
      .count() == 0)
    b.unpersist(): Unit
  }

  test("minhash estimate is calibrated against true shingle jaccard") {
    // ground truth: exact 5-char-shingle Jaccard per candidate pair,
    // computed the brute-force way (fine at sf0.001)
    val docs = graft.sources.Tables.documents(spark, sf)
      .withColumn("norm", lower(trim(col("text"))))
      .filter(length(col("norm")) >= 5)
    val sh = docs.select(col("doc_id"), explode(expr(
      """array_distinct(transform(sequence(0, length(norm) - 5),
           i -> substring(norm, i + 1, 5)))""")).as("g"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val est = operators.DedupOps.dedupMinhashEst(spark, sf)
    val inter = sh.select(col("doc_id").as("doc_a"), col("g"))
      .join(sh.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    val joined = est
      .join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("exact", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .cache()
    // every candidate pair shares a bucket, so it shares >= 1 shingle and
    // appears in the brute-force set — no pair may be missing ground truth
    assert(joined.count() == est.count())
    // 12 sampled rows is a coarse estimator and banding SELECTS pairs with
    // a collided band (est >= 3/12 by construction, even at low true J) —
    // so this pins calibration, not precision: MAE 0.25 measured with an
    // independent row family vs 0.54 with the degenerate linear family
    // this test exists to keep out
    val mae = joined.agg(avg(abs(col("jaccard_est") - col("exact"))))
      .head().getDouble(0)
    assert(mae < 0.3, s"mae=$mae")
    // and it must rank: confident estimates (>= 11/12) are genuinely
    // similar pairs. 10/12 is NOT confident: pairwise-independent linear
    // maps are not min-wise independent, and on this tiny-vocabulary Zipf
    // corpus a handful of J~0.2 pairs reach exactly 10 agreeing rows
    assert(joined.filter(col("jaccard_est") >= 11.0 / 12 &&
      col("exact") < 0.3).count() == 0)
    joined.unpersist(): Unit
  }

  test("forecast features: lags reference real months, rolling sum exact") {
    val f = operators.Analytics.salesForecastFeatures(spark, sf).cache()
    val n = f.count()
    assert(n > 13) // need enough months for lag-12 to populate
    // exactly one NULL lag-1 (the first month), exactly 12 NULL lag-12
    assert(f.filter(col("lag_1m").isNull).count() == 1)
    assert(f.filter(col("lag_12m").isNull).count() == 12)
    // recompute lag-1 and the rolling sum independently and compare
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("mes")
    val chk = f.withColumn("prev", lag("ingresos", 1).over(w))
      .withColumn("roll", sum("ingresos").over(w.rowsBetween(-2, 0)))
    assert(chk.filter(col("prev") =!= col("lag_1m")).count() == 0)
    assert(chk.filter(abs(col("roll") - col("suma_movil_3m")) > 1e-6)
      .count() == 0)
    // delta is computed in integer cents then divided ONCE; a double
    // ingresos − lag_1m differs in the last bits, so compare with tolerance
    assert(chk.filter(abs(col("delta_mensual") -
      (col("ingresos") - col("lag_1m"))) > 1e-6).count() == 0)
    f.unpersist(): Unit
  }

  test("markov transitions: probabilities normalize, counts conserve steps") {
    val m = operators.Analytics.eventsMarkov(spark, sf).cache()
    // rows per cur sum to c_cur; probabilities per cur sum to 1
    val perCur = m.groupBy("cur").agg(sum("c_trans").as("s"),
      max("c_cur").as("c"), sum("p_trans").as("p"))
    assert(perCur.filter(col("s") =!= col("c")).count() == 0)
    assert(perCur.filter(abs(col("p") - 1.0) > 1e-9).count() == 0)
    // total transitions = events - distinct users (each user chain of
    // length k contributes k-1 steps)
    val ev = sources.Tables.events(spark, sf)
    val expected = ev.count() -
      ev.select("user_id").distinct().count()
    assert(m.agg(sum("c_trans")).head().getLong(0) == expected)
    m.unpersist(): Unit
  }

  test("modal consistency audits exactly the confident text-similar pairs") {
    val mc = operators.EmbeddingOps.modalConsistency(spark, sf).cache()
    val est = operators.DedupOps.dedupMinhashEst(spark, sf)
      .filter(col("jaccard_est") >= operators.EmbeddingOps.ModalEstMin)
    // the audit covers the confident slice exactly — nothing added/dropped
    assert(mc.count() == est.count())
    assert(mc.select("doc_a", "doc_b")
      .except(est.select("doc_a", "doc_b")).count() == 0)
    // cosine is a genuine cosine and the flag matches the threshold
    assert(mc.filter(col("coseno") < -1.0001 || col("coseno") > 1.0001)
      .count() == 0)
    assert(mc.filter(col("consistente") =!=
      (col("coseno") >= operators.EmbeddingOps.ModalCosMin)).count() == 0)
    mc.unpersist(): Unit
  }

  test("bottom-k sample: exact size, globally minimal, never a full sort") {
    import org.apache.spark.sql.expressions.Window
    val k = operators.Pipeline.BottomK
    val s = operators.Pipeline.corpusBottomK(spark, sf).cache()
    assert(s.count() == k)
    // global minimality: an independent row_number over the same ordering
    // picks the identical doc set
    val ranked = sources.Tables.documents(spark, sf)
      .filter(length(lower(trim(col("text")))) > 0)
      .select(col("doc_id"),
        expr("graft_str_hash(concat('bottomk|', lower(trim(text))))").as("h"))
      .withColumn("rn", row_number().over(Window.orderBy("h", "doc_id")))
      .filter(col("rn") <= k)
    assert(s.select("doc_id").except(ranked.select("doc_id")).count() == 0)
    assert(ranked.select("doc_id").except(s.select("doc_id")).count() == 0)
    // plan: TakeOrderedAndProject (per-partition top-k + driver merge),
    // not a global Sort+Limit
    val plan = operators.Pipeline.corpusBottomK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    s.unpersist(): Unit
  }

  test("events gapfill: spans contiguous, fills zero, counts conserved") {
    val g = operators.Analytics.eventsGapfill(spark, sf).cache()
    val total = sources.Tables.events(spark, sf).count()
    // conservation: filled series sums to the raw event count
    assert(g.agg(sum("n_eventos")).head.getLong(0) == total)
    // filled rows are exactly the zero rows
    assert(g.filter(col("relleno") =!= (col("n_eventos") === 0)).count() == 0)
    // per type: row count equals the hour span (no holes, no extras)
    val spans = g.groupBy("event_type").agg(
      (max("hora_epoch") - min("hora_epoch") + 1).as("span"),
      count(lit(1)).as("n"))
    assert(spans.filter(col("span") =!= col("n")).count() == 0)
    g.unpersist(): Unit
  }

  test("ABC classification: classes monotone, shares close, catalog complete") {
    import org.apache.spark.sql.expressions.Window
    val abc = operators.Cubes.abcClassification(spark, sf).cache()
    // one row per part that sold
    assert(abc.count() ==
      sources.Tables.lineitem(spark, sf).select("l_partkey").distinct().count())
    // walking down by revenue, the class never goes back up (A→B→C)
    val w = Window.orderBy(col("revenue").desc, col("p_partkey"))
    assert(abc.withColumn("prev", lag("clase", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > col("clase"))
      .count() == 0)
    // cum_share reaches exactly 1.0 at the tail and every class is present
    assert(math.abs(abc.agg(max("cum_share")).head.getDouble(0) - 1.0) < 1e-12)
    assert(abc.select("clase").distinct().count() == 3)
    // the integer boundary rule: every A row sits at or under 80% cum share
    assert(abc.filter(col("clase") === "A" &&
      col("cum_share") > 0.8 + 1e-9).count() == 0)
    abc.unpersist(): Unit
  }

  test("order intervals: gap conservation and bucket bounds") {
    val iv = operators.Cubes.orderIntervals(spark, sf).cache()
    // total gaps = orders − customers-with-orders (each customer's history
    // of n orders yields n−1 consecutive gaps)
    val o = sources.Tables.orders(spark, sf)
    val expected = o.count() - o.select("o_custkey").distinct().count()
    assert(iv.agg(sum("n_gaps")).head.getLong(0) == expected)
    // buckets capped; means sit inside their week bucket (except the cap)
    val cap = operators.Cubes.IntervalCapWeeks.toLong
    assert(iv.filter(col("week_bucket") > cap).count() == 0)
    assert(iv.filter(col("week_bucket") < cap &&
      (col("avg_gap_days") < col("week_bucket") * 7 ||
       col("avg_gap_days") >= col("week_bucket") * 7 + 7)).count() == 0)
    iv.unpersist(): Unit
  }

  test("supplier scorecard: line conservation, rates bounded") {
    val sc = operators.Analytics.supplierScorecard(spark, sf).cache()
    val li = sources.Tables.lineitem(spark, sf)
    assert(sc.agg(sum("n_lines")).head.getLong(0) == li.count())
    assert(sc.count() == li.select("l_suppkey").distinct().count())
    assert(sc.filter(col("n_parts") > col("n_lines")).count() == 0)
    assert(sc.filter(col("return_rate") < 0 || col("return_rate") > 1)
      .count() == 0)
    sc.unpersist(): Unit
  }

  test("semantic dedup: keep verdict matches the pair evidence") {
    val sd = operators.EmbeddingOps.semanticDedup(spark, sf).cache()
    val n = sources.Tables.embeddings(spark, sf).count()
    // total verdict: one row per vector
    assert(sd.count() == n)
    // keep ⟺ no prior dup; dup_of is always a smaller id when present
    assert(sd.filter(col("keep") =!= (col("n_prior_dups") === 0)).count() == 0)
    assert(sd.filter(col("dup_of").isNotNull &&
      col("dup_of") >= col("vec_id")).count() == 0)
    // the globally smallest id can have no prior dup
    assert(sd.orderBy("vec_id").limit(1)
      .filter(col("keep")).count() == 1)
    // both verdicts occur on this corpus (non-vacuous)
    assert(sd.filter(col("keep")).count() > 0)
    assert(sd.filter(!col("keep")).count() > 0)
    sd.unpersist(): Unit
  }

  test("prefix dedup: mixed families only, keeper in family, bounded") {
    val p = operators.DedupOps.dedupPrefix(spark, sf).cache()
    assert(p.filter(col("n_contents") <= 1 ||
      col("n_contents") > col("n_docs")).count() == 0)
    // every family's keeper really carries that prefix
    val docs = graft.sources.Tables.documents(spark, sf)
      .filter(length(lower(trim(col("text")))) >= operators.DedupOps.PrefixChars)
      .select(col("doc_id").as("keep_doc_id"),
        md5(substring(lower(trim(col("text"))), 1,
          operators.DedupOps.PrefixChars).cast("binary")).as("ph"))
    assert(p.join(docs, Seq("keep_doc_id"))
      .filter(col("prefix_hash") =!= col("ph")).count() == 0)
    // the corpus exercises the signal (it carries near-dup families)
    assert(p.count() > 0)
    p.unpersist(): Unit
  }

  test("bot detection: conservation, peak bounds, flag rule") {
    val b = operators.Analytics.eventsBotDetection(spark, sf).cache()
    val ev = sources.Tables.events(spark, sf)
    assert(b.agg(sum("n_events")).head.getLong(0) == ev.count())
    assert(b.count() == ev.select("user_id").distinct().count())
    // peak ≥ mean rate ≥ 1; flag is exactly the threshold rule
    assert(b.filter(col("peak_per_min").cast("double") < col("mean_rate") ||
      col("mean_rate") < 1.0).count() == 0)
    assert(b.filter(col("sospechoso") =!=
      (col("peak_per_min") >= operators.Analytics.BotPeakPerMin)).count() == 0)
    b.unpersist(): Unit
  }

  test("source health: shares bounded, dup share reconciles with savings") {
    val h = operators.Pipeline.sourceHealth(spark, sf).cache()
    assert(h.filter(col("lang_match_share") < 0 || col("lang_match_share") > 1 ||
      col("dup_share") < 0 || col("dup_share") > 1).count() == 0)
    // dup counts agree with C38's per-source accounting (same keeper rule)
    val sv = operators.DedupOps.dedupSavings(spark, sf)
      .select(col("source").as("s2"), col("docs_removed"), col("n_docs").as("nd2"))
    val j = h.join(sv, col("source") === col("s2"))
    // C38 counts empty docs too; health skips them — compare dup counts
    assert(j.filter(round(col("dup_share") * col("n_docs")).cast("long")
      =!= col("docs_removed")).count() == 0)
    h.unpersist(): Unit
  }

  test("norm audit: full coverage, centered z, flag consistent") {
    val a = operators.EmbeddingOps.embedNormAudit(spark, sf).cache()
    assert(a.count() == sources.Tables.embeddings(spark, sf).count())
    // z is standardized: mean ~0 (fp association error only), some spread
    val stats = a.agg(avg("z").as("m"), max(abs(col("z"))).as("mx")).head
    assert(math.abs(stats.getDouble(0)) < 1e-6)
    assert(stats.getDouble(1) > 1.0) // non-degenerate spread
    // the flag is exactly the |z| > NormZ rule
    assert(a.filter(col("z").isNotNull && (col("atipico") =!=
      (abs(col("z")) > operators.EmbeddingOps.NormZ))).count() == 0)
    a.unpersist(): Unit
  }

  test("edit distance: verifies exactly the band candidates, both verdicts") {
    val ed = operators.DedupOps.dedupEditDistance(spark, sf).cache()
    val cand = operators.DedupOps.dedupSimhashBand(spark, sf)
    // one verdict per candidate pair, no pairs invented or lost
    assert(ed.count() == cand.count())
    assert(ed.select("doc_a", "doc_b").except(
      cand.select("doc_a", "doc_b")).count() == 0)
    // similarity bounded and within the verdict band; identical → sim 1
    assert(ed.filter(col("edit_sim") > 1).count() == 0)
    assert(ed.filter(col("lev_capped") === 0 &&
      col("edit_sim") =!= 1.0).count() == 0)
    // the verdict IS the band: sim defined ⟺ near-dup, and ≥ EditSimMin
    assert(ed.filter(col("es_casi_duplicado") =!=
      col("edit_sim").isNotNull).count() == 0)
    assert(ed.filter(col("edit_sim").isNotNull &&
      col("edit_sim") < operators.DedupOps.EditSimMin - 1e-12).count() == 0)
    // the corpus exercises both verdict branches
    assert(ed.filter(col("es_casi_duplicado")).count() > 0)
    assert(ed.filter(!col("es_casi_duplicado")).count() > 0)
    ed.unpersist(): Unit
  }

  test("seasonality index: weighted mean is 1, revenue conserves") {
    val idx = operators.Analytics.seasonalityIndex(spark, sf).cache()
    assert(idx.count() == 12)
    // Σ (index · n_months) / Σ n_months == 1 exactly up to fp assoc error
    val r = idx.agg(sum(col("index") * col("n_months")).as("wi"),
      sum("n_months").as("w")).head
    assert(math.abs(r.getDouble(0) / r.getLong(1).toDouble - 1.0) < 1e-9)
    val totalRev = idx.agg(sum("revenue")).head.getDouble(0)
    val expect = sources.Tables.orders(spark, sf)
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")))
      .head.getLong(0) / 100.0
    assert(math.abs(totalRev - expect) < 1e-6)
    idx.unpersist(): Unit
  }

  test("html strip: markup slice cleaned, clean slice untouched") {
    val h = operators.TextOps.htmlStrip(spark, sf).cache()
    // the markup slice is exactly doc_id % 11 == 0, and no tags survive
    assert(h.filter(col("tenia_markup") =!= (col("doc_id") % 11 === 0))
      .count() == 0)
    assert(h.filter(col("texto_limpio")
      .rlike(operators.TextOps.TagRe)).count() == 0)
    // clean docs come through with whitespace-normalized text only
    val clean = h.filter(!col("tenia_markup"))
      .join(sources.Tables.documents(spark, sf), Seq("doc_id"))
    assert(clean.filter(col("texto_limpio") =!=
      trim(regexp_replace(col("text"), "\\s+", " "))).count() == 0)
    // entities decoded: the injected '&amp;' renders as a bare '&'
    assert(h.filter(col("tenia_markup") &&
      !col("texto_limpio").contains("más & info")).count() == 0)
    h.unpersist(): Unit
  }

  test("length histogram: doc/token conservation, exact bit-width buckets") {
    val h = operators.TextOps.lengthHistogram(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(h.agg(sum("n_docs")).head.getLong(0) == docs.count())
    // bucket_lo is 2^bucket, and a bucket's tokens sit in [lo·docs, 2·lo·docs)
    assert(h.filter(col("bucket") >= 0 &&
      col("bucket_lo") =!= expr("CAST(pow(2, bucket) AS BIGINT)")).count() == 0)
    assert(h.filter(col("bucket") >= 0 &&
      (col("n_tokens") < col("bucket_lo") * col("n_docs") ||
       col("n_tokens") >= col("bucket_lo") * 2 * col("n_docs"))).count() == 0)
    h.unpersist(): Unit
  }

  test("cohort LTV: cumulative monotone, month-0 matches retention cohort") {
    val ltv = operators.Journeys.cohortLtv(spark, sf).cache()
    // cumulative revenue never decreases along a cohort's curve
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cohort_ym").orderBy("months_since")
    assert(ltv.withColumn("prev", lag("cum_revenue", 1).over(w))
      .filter(col("prev").isNotNull && col("cum_revenue") < col("prev"))
      .count() == 0)
    // month-0 cohort size equals B23's retention month-0 count
    val ret = operators.Journeys.cohortRetention(spark, sf)
      .filter(col("months_since") === 0)
      .select(col("cohort_ym").as("r_ym"), col("n_customers"))
    assert(ltv.filter(col("months_since") === 0)
      .join(ret, col("cohort_ym") === col("r_ym"))
      .filter(col("cohort_n") =!= col("n_customers")).count() == 0)
    // total revenue conservation: last cum point summed over cohorts
    val totalRev = ltv.groupBy("cohort_ym").agg(max("cum_revenue").as("m"))
      .agg(sum("m")).head.getDouble(0)
    val expect = sources.Tables.orders(spark, sf)
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")))
      .head.getLong(0) / 100.0
    assert(math.abs(totalRev - expect) < 1e-6)
    ltv.unpersist(): Unit
  }

  test("price elasticity: moment identity on a hand-checked brand") {
    val e = operators.Analytics.priceElasticity(spark, sf).cache()
    assert(e.filter(col("n") <= 0).count() == 0)
    // recompute one brand's slope from raw rows in driver code
    val brand = e.head.getString(0)
    val rows = sources.Tables.lineitem(spark, sf)
      .join(sources.Tables.part(spark, sf)
        .filter(col("p_brand") === brand).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .select(expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("x"),
        col("l_quantity").cast("long").as("y"))
      .collect()
    val n = rows.length.toLong
    val sx = rows.map(_.getLong(0)).sum; val sy = rows.map(_.getLong(1)).sum
    val sxy = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    val sxx = rows.map(r => r.getLong(0) * r.getLong(0)).sum
    val den = n * sxx - sx * sx
    val expect = if (den > 0) (n * sxy - sx * sy).toDouble / den.toDouble
                 else Double.NaN
    val got = e.filter(col("p_brand") === brand).head.getDouble(4)
    assert(got == expect)
    e.unpersist(): Unit
  }

  test("hard negatives: rank band disjoint from top-k, same ordering as C6") {
    val hn = operators.EmbeddingOps.annHardNegatives(spark, sf).cache()
    val lo = operators.EmbeddingOps.HardNegLo
    val hi = operators.EmbeddingOps.HardNegHi
    assert(hn.filter(col("rnk") <= lo || col("rnk") > hi).count() == 0)
    // disjoint from the positives: no (probe, neighbor) also in C6's top-10
    val top = operators.EmbeddingOps.annBruteforce(spark, sf)
      .select("probe_id", "neighbor_id")
    assert(hn.select("probe_id", "neighbor_id").intersect(top).count() == 0)
    // per probe: exactly hi−lo negatives (corpus is large enough here) and
    // every negative's cosine ≤ that probe's weakest positive
    val band = hn.groupBy("probe_id").agg(count(lit(1)).as("n"),
      max("cosine").as("best_neg"))
    assert(band.filter(col("n") =!= (hi - lo)).count() == 0)
    val weakest = operators.EmbeddingOps.annBruteforce(spark, sf)
      .groupBy(col("probe_id").as("p2")).agg(min("cosine").as("worst_pos"))
    assert(band.join(weakest, col("probe_id") === col("p2"))
      .filter(col("best_neg") > col("worst_pos")).count() == 0)
    hn.unpersist(): Unit
  }

  test("doc novelty: bounded, exact dups have zero novelty, non-vacuous") {
    val nv = operators.DedupOps.docNovelty(spark, sf).cache()
    assert(nv.filter(col("novelty") < 0 || col("novelty") > 1).count() == 0)
    assert(nv.filter(col("n_unique") > col("n_grams")).count() == 0)
    // a doc with an exact duplicate shares every gram → novelty 0
    val dupDocs = operators.DedupOps.dedupExact(spark, sf)
      .filter(col("n_copies") > 1).select(col("keep_doc_id").as("doc_id"))
    assert(nv.join(dupDocs, Seq("doc_id"))
      .filter(col("novelty") =!= 0.0).count() == 0)
    // both signal levels occur on this corpus
    assert(nv.filter(col("novelty") === 0.0).count() > 0)
    assert(nv.filter(col("novelty") > 0.5).count() > 0)
    nv.unpersist(): Unit
  }

  test("ann recall report: bounded, consistent with the exact baseline") {
    val r = operators.EmbeddingOps.annRecallReport(spark, sf).cache()
    assert(r.count() == 3) // lsh + ivf + the round-8 fused rrf row
    assert(r.select("metodo").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("ivf", "lsh", "rrf"))
    assert(r.filter(col("n_hit") > col("n_true")).count() == 0)
    assert(r.filter(col("recall_at_10") < 0 || col("recall_at_10") > 1)
      .count() == 0)
    // n_true = 10 per probe in the exact baseline
    val probes = operators.EmbeddingOps.annBruteforce(spark, sf)
      .select("probe_id").distinct().count()
    assert(r.filter(col("n_true") =!= probes * 10).count() == 0)
    r.unpersist(): Unit
  }

  test("DAU/WAU: wau bounds dau, first day equal, stickiness bounded") {
    val d = operators.Analytics.eventsDauWau(spark, sf).cache()
    assert(d.filter(col("wau") < col("dau")).count() == 0)
    // the first observed day has no prior days in its window
    val first = d.orderBy("day").limit(1).head
    assert(first.getLong(1) == first.getLong(2))
    assert(d.filter(col("stickiness") <= 0 || col("stickiness") > 1)
      .count() == 0)
    d.unpersist(): Unit
  }

  test("cluster sizes: doc conservation against the components run") {
    val cs = operators.DedupOps.dedupClusterSizes(spark, sf).cache()
    val comp = operators.DedupOps.dedupComponents(spark, sf)
    assert(cs.agg(sum("n_docs")).head.getLong(0) == comp.count())
    // removable = docs − clusters, rowwise and in total
    assert(cs.filter(col("docs_removable") =!=
      col("n_docs") - col("n_clusters")).count() == 0)
    assert(cs.filter(col("cluster_size") < 1).count() == 0)
    cs.unpersist(): Unit
  }

  test("quarantine samples: k-bounded, smallest ids, all reasons populated") {
    val q = operators.Etl.quarantineSamples(spark, sf).cache()
    val k = operators.Etl.QuarantineK
    // every (entity, reason) group is non-empty and capped at k
    val groups = q.groupBy("entidad", "motivo")
      .agg(count(lit(1)).as("n"), max("rn").as("mr"))
    assert(groups.count() == 4, "all four quarantine reasons populated")
    assert(groups.filter(col("n") > k || col("mr") > k).count() == 0)
    // the no-price sample is exactly the k smallest rejected part ids
    val expect = sources.Tables.part(spark, sf)
      .filter(col("p_partkey") % 53 === 0)
      .agg(min("p_partkey")).head.getLong(0)
    assert(q.filter(col("motivo") === "SIN_PRECIO_LISTA_2" && col("rn") === 1)
      .head.getLong(2) == expect)
    q.unpersist(): Unit
  }

  test("nation trade matrix: line conservation, bounded cells") {
    val m = operators.Analytics.nationTradeMatrix(spark, sf).cache()
    val li = sources.Tables.lineitem(spark, sf)
    assert(m.agg(sum("n_lines")).head.getLong(0) == li.count())
    val nNations = sources.Tables.nation(spark, sf).count()
    assert(m.count() <= nNations * nNations)
    assert(m.filter(col("revenue") < 0).count() == 0)
    m.unpersist(): Unit
  }

  test("shipping delay: conservation, ordered stats, bounded share") {
    val d = operators.Analytics.shippingDelay(spark, sf).cache()
    assert(d.agg(sum("n_lines")).head.getLong(0) ==
      sources.Tables.lineitem(spark, sf).count())
    assert(d.filter(col("min_delay") > col("avg_delay_days") ||
      col("avg_delay_days") > col("max_delay")).count() == 0)
    assert(d.filter(col("late_share") < 0 || col("late_share") > 1)
      .count() == 0)
    d.unpersist(): Unit
  }

  test("multimodal frames: byte conservation, geometry, matches frameSample") {
    val fr = operators.MultimodalOps.multimodalFrames(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("blen"))
    // per doc: frame lengths sum to the payload bytes, count = ceil(b/256)
    val perDoc = fr.groupBy("doc_id")
      .agg(sum("frame_len").as("bytes"), count(lit(1)).as("n_frames"))
      .join(docs, Seq("doc_id"))
    assert(perDoc.filter(col("bytes") =!= col("blen")).count() == 0)
    assert(perDoc.filter(col("n_frames") =!=
      greatest(lit(1L), expr("(blen + 255) DIV 256"))).count() == 0)
    // frame 0 byte length agrees with the Dataset-side frameSample plumbing
    val fs = operators.MultimodalOps.frameSample(
      operators.MultimodalOps.mediaTable(spark, sf), Seq(0))
      .select(col("doc_id"), octet_length(col("frame")).cast("long").as("fl"))
    val j = fr.filter(col("frame_idx") === 0)
      .select(col("doc_id"), col("frame_len")).join(fs, Seq("doc_id"))
    assert(j.filter(col("frame_len") =!= col("fl")).count() == 0)
    fr.unpersist(): Unit
  }

  test("dedup savings: removal counts reconcile with exact dedup") {
    val sv = operators.DedupOps.dedupSavings(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(sv.agg(sum("n_docs")).head.getLong(0) == docs.count())
    // total removed = docs − distinct normalized contents (C1's keepers)
    val distinctContents = docs
      .select(md5(lower(trim(col("text"))).cast("binary")).as("h"))
      .distinct().count()
    assert(sv.agg(sum("docs_removed")).head.getLong(0) ==
      docs.count() - distinctContents)
    assert(sv.filter(col("docs_removed") > col("n_docs")).count() == 0)
    assert(sv.filter(col("removal_share") < 0 || col("removal_share") > 1)
      .count() == 0)
    assert(sv.filter(col("tokens_removed") > col("n_tokens")).count() == 0)
    sv.unpersist(): Unit
  }

  test("embed quantize: saturation, error bound, shuffle-free plan") {
    val q = operators.EmbeddingOps.embedQuantize(spark, sf).cache()
    val n = sources.Tables.embeddings(spark, sf).count()
    assert(q.count() == n)
    // the max-|x| element always quantizes to ±127 → at least one
    // saturated code per (nonzero) vector
    assert(q.filter(col("scale") > 0 && col("n_sat") < 1).count() == 0)
    // per-element quantization error ≤ scale/254 (half a step), so
    // mse ≤ (scale/254)²
    assert(q.filter(col("mse") >
      (col("scale") / 254) * (col("scale") / 254) * 1.0000001 + 1e-15)
      .count() == 0)
    // zero shuffle: a narrow pass (no Exchange) up to the output sort
    val plan = operators.EmbeddingOps.embedQuantize(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.replace("Exchange rangepartitioning", "")
      .contains("Exchange hashpartitioning"), plan)
    q.unpersist(): Unit
  }

  test("incremental dedup: batch coverage, decision rule, refetch class") {
    val r = operators.DedupOps.dedupIncremental(spark, sf).cache()
    val batch = graft.sources.Feeds.incomingDocs(spark, sf).cache()
    // one verdict per incoming doc
    assert(r.count() == batch.count())
    // decision is exactly the triage rule
    assert(r.filter(
      (col("decision") === "drop_exact") =!= col("exact_dup")).count() == 0)
    assert(r.filter((col("decision") === "review_near") =!=
      (!col("exact_dup") && col("n_near_partners") > 0)).count() == 0)
    assert(r.filter((col("decision") === "admit") =!=
      (!col("exact_dup") && col("n_near_partners") === 0)).count() == 0)
    // every synthesized re-fetch is caught by the exact class, and its
    // identical text also collides in every band (cap non-binding here)
    val refetch = batch.filter(
      col("doc_id") % graft.sources.Feeds.RefetchMod ===
        graft.sources.Feeds.IncrRem)
    assert(refetch.count() > 0)
    assert(r.join(refetch.select("doc_id"), Seq("doc_id"))
      .filter(!col("exact_dup") || col("n_near_partners") < 1).count() == 0)
    // exact partners really are standing docs (never from the batch slice)
    assert(r.filter(col("exact_partner").isNotNull &&
      col("exact_partner") % graft.sources.Feeds.IncrMod ===
        graft.sources.Feeds.IncrRem).count() == 0)
    // all three triage outcomes occur on this corpus (non-vacuous)
    assert(r.select("decision").distinct().count() == 3)
    spark.catalog.clearCache(): Unit
  }

  test("canonical keeper: in-cluster, argmax by quality, count identity") {
    val k = operators.DedupOps.dedupCanonical(spark, sf).cache()
    val comp = operators.DedupOps.dedupComponents(spark, sf).cache()
    // one row per multi-member cluster, count identities hold
    val multi = comp.filter(col("component_size") > 1)
    assert(k.count() ==
      multi.select("component_id").distinct().count())
    assert(k.filter(col("n_dropped") =!= col("n_members") - 1).count() == 0)
    assert(k.join(
      multi.groupBy("component_id").agg(count(lit(1)).as("cs")),
      Seq("component_id")).filter(col("n_members") =!= col("cs"))
      .count() == 0)
    // the keeper belongs to its own cluster
    assert(k.join(
      comp.select(col("doc_id").as("keep_doc_id"),
        col("component_id").as("cid")), Seq("keep_doc_id"))
      .filter(col("cid") =!= col("component_id")).count() == 0)
    // keep_score is the true member max, and the quality-aware rule is
    // NON-VACUOUS: some keeper differs from the min-id rule
    val qual = graft.sources.Tables.documents(spark, sf)
      .filter(length(lower(trim(col("text")))) >= 5)
      .select(col("doc_id"),
        operators.TextOps.qualityScoreCol(col("text")).as("q"))
    val mx = comp.join(qual, Seq("doc_id"))
      .groupBy("component_id").agg(max("q").as("qmax"))
    assert(k.join(mx, Seq("component_id"))
      .filter(col("keep_score") =!= col("qmax")).count() == 0)
    assert(k.filter(col("keep_doc_id") =!= col("component_id")).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("mix epochs: token conservation, div/mod identity, flag rule") {
    val m = operators.Pipeline.mixEpochs(spark, sf).cache()
    val d = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
    assert(m.count() == d.select("source").distinct().count())
    // per-source tokens reconcile with the corpus
    val tot = d.select(size(split(trim(col("text")), "\\s+")).cast("long")
      .as("n")).agg(sum("n")).head.getLong(0)
    assert(m.agg(sum("n_tokens")).head.getLong(0) == tot)
    // target is the same uniform share everywhere; div/mod identity holds
    assert(m.select("target_tokens").distinct().count() == 1)
    assert(m.filter(col("full_epochs") * col("n_tokens")
      + col("partial_tokens") =!= col("target_tokens")).count() == 0)
    // flag is exactly the threshold rule
    assert(m.filter(col("needs_cap") =!=
      (col("repeat_factor") > operators.Pipeline.MixMaxEpochs)).count() == 0)
    m.unpersist(): Unit
  }

  test("kmeans: coverage, seeded clusters, Lloyd monotonicity") {
    val km = operators.EmbeddingOps.embedKmeans(spark, sf).cache()
    // the vector relation embedKmeans already kept: keep() does not cache
    // an equal plan twice
    val emb = operators.Caches.keep(graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")))
    assert(km.count() == emb.count())
    // clusters are (a subset of) the seed ids; sizes reconcile
    val k = operators.EmbeddingOps.KmClusters
    assert(km.filter(col("cluster") % 100 =!= 50 ||
      col("cluster") >= k * 100).count() == 0)
    assert(km.select("cluster").distinct().count() <= k)
    val sz = km.groupBy("cluster").agg(count(lit(1)).as("n"))
    assert(km.join(sz, Seq("cluster"))
      .filter(col("n_members") =!= col("n")).count() == 0)
    assert(km.filter(col("d2") < 0).count() == 0)
    // Lloyd monotonicity: refined-centroid inertia never exceeds the
    // seed-assignment inertia (recomputed here against the raw seeds)
    val seeds = emb.filter(col("vec_id") % 100 === 50 &&
        col("vec_id") < k * 100)
      .select(col("vec_id").as("cluster"), col("embedding").as("c_emb"))
    val seedInertia = emb.crossJoin(broadcast(seeds))
      .select(col("vec_id"), expr("""aggregate(
          zip_with(embedding, c_emb,
            (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                      (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
          CAST(0 AS DOUBLE), (acc, d) -> acc + d)""").as("dist"))
      .groupBy("vec_id").agg(min("dist").as("d0"))
      .agg(sum("d0")).head.getDouble(0)
    val finalInertia = km.agg(sum("d2")).head.getDouble(0)
    assert(finalInertia <= seedInertia * (1 + 1e-12),
      s"$finalInertia > $seedInertia")
    // refinement actually moved something (non-vacuous)
    assert(finalInertia < seedInertia)
    spark.catalog.clearCache(): Unit
  }

  test("dedup funnel: monotone stages, reconciles with the components") {
    val f = operators.DedupOps.dedupFunnel(spark, sf).cache()
    assert(f.count() == 4)
    val rows = f.orderBy("stage").collect()
    // stage 0 is the raw corpus; counts and tokens never increase
    assert(rows(0).getAs[Long]("n_docs") ==
      graft.sources.Tables.documents(spark, sf).count())
    for (i <- 1 to 3) {
      assert(rows(i).getAs[Long]("n_docs") <= rows(i - 1).getAs[Long]("n_docs"))
      assert(rows(i).getAs[Long]("n_tokens") <= rows(i - 1).getAs[Long]("n_tokens"))
    }
    // the exact stage keeps exactly C1's keeper set
    assert(rows(1).getAs[Long]("n_docs") ==
      operators.DedupOps.dedupExact(spark, sf).count())
    // shares well-formed, final corpus non-empty, battery non-vacuous
    assert(rows.forall(r => r.getAs[Double]("doc_share") > 0 &&
      r.getAs[Double]("doc_share") <= 1.0))
    assert(rows(3).getAs[Long]("n_docs") > 0)
    assert(rows(3).getAs[Long]("n_docs") < rows(0).getAs[Long]("n_docs"))
    spark.catalog.clearCache(): Unit
  }

  test("feed reports agree on their denominators (same-feed contract)") {
    // four reports describe "today's batch" per source; their doc counts
    // must relate exactly — C81/C78 count the whole id slice, C69/C76 the
    // non-empty-text subset — or a filter edit has silently forked the
    // feed definition between reports
    val drift = operators.Pipeline.sourceDrift(spark, sf)
      .select(col("source"), col("feed_docs").as("d69"))
    val nov = operators.Pipeline.feedNovelty(spark, sf)
      .select(col("source"), col("n_docs").as("d76"))
    val sem = operators.EmbeddingOps.semanticDrift(spark, sf)
      .select(col("source"), col("feed_docs").as("d78"))
    val adm = operators.Pipeline.admissionReport(spark, sf)
      .select(col("source"), col("n_batch").as("d81"))
    // non-empty subset reports agree with each other
    assert(nov.join(drift, "source").filter(col("d76") =!= col("d69"))
      .count() == 0)
    // whole-slice reports agree with each other
    assert(adm.join(sem, "source").filter(col("d81") =!= col("d78"))
      .count() == 0)
    // and the subset never exceeds the slice
    assert(nov.join(sem, "source").filter(col("d76") > col("d78"))
      .count() == 0)
    assert(nov.count() > 0 && adm.count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("admission report: every column reconciles with its component gate") {
    val ar = operators.Pipeline.admissionReport(spark, sf).cache()
    assert(ar.count() > 0)
    // triage tallies partition the batch
    assert(ar.filter(col("n_drop_exact") + col("n_review_near")
      + col("n_admit") =!= col("n_batch")).count() == 0)
    val feedDocs = graft.sources.Feeds.incomingDocs(spark, sf).count()
    assert(ar.agg(sum("n_batch")).head.getLong(0) == feedDocs)
    // drift and novelty columns equal the standalone gates'
    val drift = operators.Pipeline.sourceDrift(spark, sf)
      .select(col("source"), col("tv_len").as("tv2"))
    assert(ar.join(drift, "source")
      .filter(col("tv_len") =!= col("tv2")).count() == 0)
    val nov = operators.Pipeline.feedNovelty(spark, sf)
      .select(col("source"), col("novel_occ_share").as("nv2"))
    assert(ar.join(nov, "source")
      .filter(col("novel_occ_share") =!= col("nv2")).count() == 0)
    // the flag is exactly its documented rule
    assert(ar.filter(col("admit_source") =!=
      (col("tv_len") <= operators.Pipeline.AdmitTvMax &&
       col("pii_doc_share") <= operators.Pipeline.AdmitPiiDocShareMax &&
       col("novel_occ_share") >= operators.Pipeline.AdmitNovelMin))
      .count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("filter bias: reconciles with C72, shares bounded, grid complete") {
    val fb = operators.TextOps.filterBias(spark, sf).cache()
    val cls = operators.TextOps.qualityClassifier(spark, sf).cache()
    // marginals reconcile with the per-doc classifier exactly
    assert(fb.agg(sum("n_docs")).head.getLong(0) == cls.count())
    assert(fb.agg(sum("n_keep")).head.getLong(0) ==
      cls.filter(col("keep")).count())
    assert(fb.filter(col("n_keep") > col("n_docs")).count() == 0)
    assert(fb.filter(col("keep_share") < 0 || col("keep_share") > 1)
      .count() == 0)
    // per-(source,lang) keep counts match a direct recount
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source").as("src"))
    val direct = cls.join(docs, "doc_id")
      .groupBy(col("src").as("source"), col("lang"))
      .agg(sum(col("keep").cast("long")).as("k2"))
    assert(fb.join(direct, Seq("source", "lang"))
      .filter(col("n_keep") =!= col("k2")).count() == 0)
    assert(fb.count() == direct.count())
    spark.catalog.clearCache(): Unit
  }

  test("span savings: reconciles with C73, ceiling semantics hold") {
    val sv = operators.DedupOps.spanSavings(spark, sf).cache()
    assert(sv.count() == 1)
    val spans = operators.DedupOps.substrDupSpans(spark, sf).cache()
    val r = sv.head
    assert(r.getAs[Long]("n_repeated_spans") == spans.count())
    assert(r.getAs[Long]("n_span_occ") ==
      spans.agg(sum("n_occ")).head.getLong(0))
    // maskable = occurrences minus one kept copy per span
    assert(r.getAs[Long]("maskable_occ") ==
      r.getAs[Long]("n_span_occ") - r.getAs[Long]("n_repeated_spans"))
    assert(r.getAs[Long]("maskable_tokens_bound") ==
      r.getAs[Long]("maskable_occ") * operators.DedupOps.SpanTok)
    val share = r.getAs[Double]("maskable_share_bound")
    assert(share > 0 && share < 1)
    spark.catalog.clearCache(): Unit
  }

  test("span mask plan: reconciles with C79/C73, keeper excluded") {
    val plan = operators.DedupOps.spanMaskPlan(spark, sf).cache()
    val spans = operators.DedupOps.substrDupSpans(spark, sf).cache()
    // total = C79's maskable_occ: one keeper withheld per repeated span
    val sv = operators.DedupOps.spanSavings(spark, sf).head
    assert(plan.count() == sv.getAs[Long]("maskable_occ"))
    // per-span: exactly n_occ - 1 occurrences emitted, span set = C73's
    val perSpan = plan.groupBy("span_hash").agg(count(lit(1)).as("n_plan"))
    assert(perSpan.join(spans, "span_hash")
      .filter(col("n_plan") =!= col("n_occ") - 1).count() == 0)
    assert(perSpan.count() == spans.count())
    assert(plan.join(spans, Seq("span_hash"), "left_anti").count() == 0)
    // keeper is the global min-(doc,pos) occurrence: nothing emitted from
    // before C73's first_doc, and coordinates are sane and unique
    assert(plan.join(spans, "span_hash")
      .filter(col("doc_id") < col("first_doc")).count() == 0)
    assert(plan.filter(col("span_start") < 0 ||
      col("span_tokens") =!= operators.DedupOps.SpanTok.toLong).count() == 0)
    assert(plan.select("doc_id", "span_start", "span_hash").distinct()
      .count() == plan.count())
    spark.catalog.clearCache(): Unit
  }

  test("mask coalesce: absorbs the full plan, interval bounds hold") {
    val mc = operators.DedupOps.maskCoalesce(spark, sf).cache()
    val plan = operators.DedupOps.spanMaskPlan(spark, sf).cache()
    val sv = operators.DedupOps.spanSavings(spark, sf).head
    // every plan row absorbed exactly once; doc set = plan's doc set
    assert(mc.agg(sum("n_mask_rows")).head.getLong(0) ==
      sv.getAs[Long]("maskable_occ"))
    assert(mc.count() == plan.select("doc_id").distinct().count())
    assert(mc.join(plan.select("doc_id").distinct(), Seq("doc_id"),
      "left_anti").count() == 0)
    // merged-interval arithmetic: each interval spans >= SpanTok tokens,
    // n rows can mask at most n*SpanTok tokens, nothing exceeds the doc
    val t = operators.DedupOps.SpanTok.toLong
    assert(mc.filter(col("n_intervals") > col("n_mask_rows") ||
      col("masked_tokens") < col("n_intervals") * t ||
      col("masked_tokens") > col("n_mask_rows") * t ||
      col("masked_tokens") > col("doc_tokens")).count() == 0)
    assert(mc.filter(col("masked_share") <= 0 || col("masked_share") > 1)
      .count() == 0)
    // the exact merged mass never exceeds C79's double-counting ceiling
    assert(mc.agg(sum("masked_tokens")).head.getLong(0) <=
      sv.getAs[Long]("maskable_tokens_bound"))
    spark.catalog.clearCache(): Unit
  }

  test("lsh recall: threshold nesting, bounds, non-vacuous ground truth") {
    val out = operators.DedupOps.dedupLshRecall(spark, sf).cache()
    assert(out.count() == 3)
    val byT = out.collect().map(r => r.getString(0) ->
      (r.getLong(2), r.getLong(3))).toMap
    // thresholds nest: every >=1/2 pair is a >=1/3 pair is a >=1/5 pair
    assert(byT("1/2")._1 <= byT("1/3")._1 && byT("1/3")._1 <= byT("1/5")._1)
    // caught never exceeds true; recall bounded; sample is the hash rule
    assert(out.filter(col("n_caught") > col("n_true_pairs")).count() == 0)
    assert(out.filter(col("recall_est") < 0 || col("recall_est") > 1)
      .count() == 0)
    // ground truth is non-vacuous at the loosest threshold on this corpus
    assert(byT("1/5")._1 >= 1)
    val n = out.head.getLong(1)
    assert(n > 0 && n < graft.sources.Tables.documents(spark, sf).count())
    spark.catalog.clearCache(): Unit
  }

  test("lsh recall NEGATIVE CONTROL: a degenerate banding drops recall") {
    // the round-8 verdict: "flat-low = banding problem" was asserted, not
    // demonstrated. Feed a deliberately bad regrouping of the SAME 12
    // minima — 2 bands x 6 rows (a candidate needs 6 consecutive row
    // agreements: collision prob 1-(1-s^6)^2 vs production's
    // 1-(1-s^3)^4, a ~10x drop at moderate similarity) — through the
    // same metric; the metric must SEE the damage. The test corpus'
    // near-dups are all-or-nothing (every banding agrees on them), so
    // the control runs on a CONSTRUCTED corpus (the C101/C103 degeneracy
    // device): 150 base docs of 60 per-doc-unique tokens, each with one
    // variant sharing a 30/40/50-token prefix — token-3-gram jaccard
    // graded ~0.32/0.49/0.71, the moderate-similarity band where
    // bandings actually differ.
    val sp = spark
    import sp.implicits._
    val docs = (0 until 150).flatMap { i =>
      val keep = 30 + (i % 3) * 10
      def tok(j: Int, v: String) = s"t${i}x$j$v"
      val base = (0 until 60).map(tok(_, "a"))
      val variant = base.take(keep) ++ (keep until 60).map(tok(_, "b"))
      Seq((i.toLong, base.mkString(" "), "en", "s0", 1L),
        (10000L + i, variant.mkString(" "), "en", "s0", 1L))
    }
    val dir = tmpDir("graft-neg-control-")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val good = operators.DedupOps.lshRecallOf(spark, dir,
      operators.DedupOps.dedupMinhashLsh(spark, dir)
        .select("doc_a", "doc_b"), mod = 2).cache()
    val bad = operators.DedupOps.lshRecallOf(spark, dir,
      operators.DedupOps.bandedCandidates(spark, dir, bands = 2, rowsPer = 6),
      mod = 2).cache()
    val g = good.collect().map(r => r.getString(0) ->
      (r.getLong(2), r.getLong(3))).toMap
    val b = bad.collect().map(r => r.getString(0) ->
      (r.getLong(2), r.getLong(3))).toMap
    // identical candidate-independent ground truth on both runs
    assert(g.keySet == b.keySet &&
      g.forall { case (k, (t, _)) => b(k)._1 == t },
      s"truth sets diverged: $g vs $b")
    // the degenerate banding catches strictly less in total and never
    // more at any threshold
    assert(g.values.map(_._2).sum > b.values.map(_._2).sum,
      s"negative control failed to fire: good=$g bad=$b")
    assert(g.forall { case (k, (_, c)) => b(k)._2 <= c },
      s"degenerate banding beat production somewhere: good=$g bad=$b")
    spark.catalog.clearCache(): Unit
  }

  test("mask datasheet: full-corpus accounting reconciles with C107") {
    val ds = operators.DedupOps.maskDatasheet(spark, sf).cache()
    val mc = operators.DedupOps.maskCoalesce(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
    // every source, every doc accounted; masked mass = C107's exactly
    assert(ds.count() == docs.select("source").distinct().count())
    assert(ds.agg(sum("n_docs")).head.getLong(0) == docs.count())
    assert(ds.agg(sum("n_affected_docs")).head.getLong(0) == mc.count())
    assert(ds.agg(sum("tokens_masked")).head.getLong(0) ==
      mc.agg(sum("masked_tokens")).head.getLong(0))
    assert(ds.filter(col("n_affected_docs") > col("n_docs") ||
      col("tokens_masked") > col("tokens_total") ||
      col("masked_share") < 0 || col("masked_share") >= 1).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("semantic drift: per-source frame, dark-source nulls, real drift") {
    val sd = operators.EmbeddingOps.semanticDrift(spark, sf).cache()
    val srcCounts = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").agg(count(lit(1)).as("n_src"))
    // one row per source; base side is the source's full standing count
    assert(sd.count() == srcCounts.count())
    assert(sd.join(srcCounts, "source")
      .filter(col("base_docs") =!= col("n_src")).count() == 0)
    // feed-absent sources went dark: NULL drift, never fake zeros
    assert(sd.filter(col("feed_docs") === 0 &&
      (col("tv_cluster").isNotNull || col("top_gap").isNotNull)).count() == 0)
    // live sources: TV bounded, worst-cluster gap ≤ 2·TV (it is one term
    // of the TV sum), and the re-fetch substitution makes REAL drift
    val live = sd.filter(col("feed_docs") > 0)
    assert(live.count() > 0)
    assert(live.filter(col("tv_cluster") < 0 || col("tv_cluster") > 1)
      .count() == 0)
    assert(live.filter(col("top_gap") > col("tv_cluster") * 2).count() == 0)
    assert(live.filter(col("tv_cluster") > 0).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("frame dedup: bounds, carriers real in the C37 inventory") {
    val fd = operators.MultimodalOps.frameDedup(spark, sf).cache()
    assert(fd.count() > 0) // the corpus really shares aligned frames
    assert(fd.filter(col("n_payloads") < 2).count() == 0)
    assert(fd.filter(col("n_occ") < col("n_payloads")).count() == 0)
    assert(fd.filter(col("first_doc") >= col("last_doc")).count() == 0)
    // every reported frame is carried by ≥2 distinct payloads of the
    // independent C37 inventory, including its claimed first/last
    val inv = operators.MultimodalOps.multimodalFrames(spark, sf)
      .select("frame_sha", "doc_id")
    val carriers = inv.groupBy("frame_sha")
      .agg(countDistinct("doc_id").as("nd"),
        min("doc_id").as("lo"), max("doc_id").as("hi"))
    assert(fd.join(carriers, "frame_sha")
      .filter(col("n_payloads") =!= col("nd") ||
        col("first_doc") =!= col("lo") || col("last_doc") =!= col("hi"))
      .count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("feed novelty: bounds, doc conservation, both mass classes live") {
    val fn = operators.Pipeline.feedNovelty(spark, sf).cache()
    val feedDocs = graft.sources.Feeds.incomingDocs(spark, sf)
      .filter(length(trim(col("text"))) > 0).count()
    assert(fn.agg(sum("n_docs")).head.getLong(0) == feedDocs)
    assert(fn.filter(col("novel_occ") > col("n_gram_occ")).count() == 0)
    assert(fn.filter(col("n_novel_distinct") > col("n_distinct_grams"))
      .count() == 0)
    assert(fn.filter(col("novel_occ_share") < 0 ||
      col("novel_occ_share") > 1).count() == 0)
    // non-vacuous both ways: re-fetches make KNOWN mass, new pages make
    // NOVEL mass — a feed scoring all-known or all-novel is a broken gate
    assert(fn.agg(sum("novel_occ")).head.getLong(0) > 0)
    assert(fn.agg(sum(col("n_gram_occ") - col("novel_occ"))).head.getLong(0) > 0)
    spark.catalog.clearCache(): Unit
  }

  test("dedup agreement: cells reconcile with the generators, bounded") {
    val m = operators.DedupOps.dedupAgreement(spark, sf).cache()
    assert(m.count() == 3)
    // matrix cells are set-algebra coherent
    assert(m.filter(col("n_both") > least(col("n_a"), col("n_b"))).count() == 0)
    assert(m.filter(col("n_union") < greatest(col("n_a"), col("n_b"))).count() == 0)
    assert(m.filter(col("pair_jaccard") < 0 || col("pair_jaccard") > 1).count() == 0)
    // marginals equal each generator's own pair count
    val nMh = operators.DedupOps.dedupMinhashLsh(spark, sf).count()
    val nNj = operators.DedupOps.dedupNgramJaccard(spark, sf).count()
    assert(m.filter(col("method_a") === "minhash_lsh" &&
      col("method_b") === "ngram_jaccard" &&
      col("n_a") === nMh && col("n_b") === nNj).count() == 1)
    // the methods hunt the same duplicates: some cell overlaps
    assert(m.filter(col("n_both") > 0).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("ann serve: every hit served with its real document context") {
    val served = operators.EmbeddingOps.annServe(spark, sf).cache()
    val hits = operators.EmbeddingOps.annBruteforce(spark, sf)
    // serving neither drops nor invents hits (vec ids are doc ids)
    assert(served.count() == hits.count())
    assert(served.join(hits.withColumnRenamed("neighbor_id", "doc_id"),
      Seq("probe_id", "doc_id", "cosine", "rnk")).count() == hits.count())
    // the snippet really is the leading text of the served document
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        substring(trim(col("text")), 1,
          operators.EmbeddingOps.ServeSnippet).as("expect"))
    assert(served.join(docs, "doc_id")
      .filter(col("snippet") =!= col("expect")).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("cluster profile: reconciles with kmeans, purity/gini coherent") {
    val prof = operators.EmbeddingOps.clusterProfile(spark, sf).cache()
    val km = operators.EmbeddingOps.embedKmeans(spark, sf).cache()
    // every profiled cluster is a kmeans cluster, and doc counts reconcile
    // with the assignment joined to documents (embeddings ids ⊆ doc ids)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id").as("vec_id"))
    val expected = km.join(docs, Seq("vec_id"))
      .groupBy("cluster").agg(count(lit(1)).as("n_exp"))
    assert(prof.join(expected, Seq("cluster"))
      .filter(col("n_docs") =!= col("n_exp")).count() == 0)
    assert(prof.count() == expected.count())
    // dominant share and impurity are internally coherent
    assert(prof.filter(col("top_docs") > col("n_docs")).count() == 0)
    assert(prof.filter(col("purity") <= 0 || col("purity") > 1).count() == 0)
    assert(prof.filter(col("gini") < 0 || col("gini") >= 1).count() == 0)
    // purity 1 ⟺ single-source ⟺ zero impurity; multi-source ⟹ gini > 0
    assert(prof.filter(col("n_sources") === 1 &&
      (col("purity") =!= 1.0 || col("gini") =!= 0.0)).count() == 0)
    assert(prof.filter(col("n_sources") > 1 && col("gini") <= 0.0).count() == 0)
    // non-vacuous on the test corpus: at least one mixed cluster
    assert(prof.filter(col("n_sources") > 1).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("quality classifier: features reconcile with C9, both classes live") {
    val qc = operators.TextOps.qualityClassifier(spark, sf).cache()
    val q9 = operators.TextOps.qualityScore(spark, sf)
    // same population and bit-identical shared features as C9
    assert(qc.count() == q9.count())
    assert(qc.join(q9.select(col("doc_id"),
        col("stopword_ratio").as("r9"), col("punct_ratio").as("p9")), "doc_id")
      .filter(col("stopword_ratio") =!= col("r9") ||
              col("punct_ratio") =!= col("p9")).count() == 0)
    // decision rule is exactly the logit sign
    assert(qc.filter(col("keep") =!= (col("logit") >= 0.0)).count() == 0)
    // the frozen weights separate the corpus (both classes non-vacuous)
    assert(qc.filter(col("keep")).count() > 0)
    assert(qc.filter(!col("keep")).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("substr dup spans: bounds, carriers real, anchored subset of all") {
    val spans = operators.DedupOps.substrDupSpans(spark, sf).cache()
    assert(spans.count() > 0) // non-vacuous on the test corpus
    assert(spans.filter(col("n_docs") < 2).count() == 0)
    assert(spans.filter(col("n_occ") < col("n_docs")).count() == 0)
    assert(spans.filter(col("first_doc") >= col("last_doc")).count() == 0)
    // independently recompute ALL W-token spans (no anchor rule) per doc:
    // every reported span must exist in both its first and last carrier
    val W = operators.DedupOps.SpanTok
    val els = (1 to W)
      .map(j => s"element_at(toks, cast(p + $j as int))").mkString(", ")
    val all = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= W)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(toks) - $W),
              p -> concat_ws(' ', $els))""")).as("span"))
      .select(col("doc_id"), md5(col("span").cast("binary")).as("span_hash"))
      .distinct()
    assert(spans.join(all,
        spans("span_hash") === all("span_hash") &&
          spans("first_doc") === all("doc_id"), "left_anti").count() == 0)
    assert(spans.join(all,
        spans("span_hash") === all("span_hash") &&
          spans("last_doc") === all("doc_id"), "left_anti").count() == 0)
    // the anchor rule only thins the repeated-span set, never invents one
    val allDup = all.groupBy("span_hash")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
    assert(spans.join(allDup, Seq("span_hash"), "left_anti").count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("novelty curve: bucket 0 all-novel, conservation, reconciles C64") {
    val nc = operators.Pipeline.noveltyCurve(spark, sf).cache()
    // full bucket coverage, doc conservation
    assert(nc.count() == operators.Pipeline.NoveltyBuckets)
    val nDocs = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0).count()
    assert(nc.agg(sum("n_docs")).head.getLong(0) == nDocs)
    // the first bucket can only contain first-seen grams
    assert(nc.filter(col("bucket") === 0).head.getAs[Double]("novel_occ_share")
      == 1.0)
    // novel mass is bounded by total mass; shares well-formed
    assert(nc.filter(col("novel_occ") > col("n_gram_occ")).count() == 0)
    assert(nc.filter(col("n_new_grams") > col("n_distinct_grams")).count() == 0)
    // occurrence mass reconciles with C64 (same gram definition)
    val c64occ = operators.Pipeline.gramMemorization(spark, sf)
      .agg(sum("n_gram_occ")).head.getLong(0)
    assert(nc.agg(sum("n_gram_occ")).head.getLong(0) == c64occ)
    // new-gram counts partition the corpus-wide distinct gram set
    val distinctGrams = operators.Pipeline.gramMemorization(spark, sf)
      .agg(sum("n_distinct_grams")).head.getLong(0)
    assert(nc.agg(sum("n_new_grams")).head.getLong(0) <= distinctGrams)
    // non-vacuous: later crawl actually repeats earlier text
    assert(nc.filter(col("bucket") > 0 &&
      col("novel_occ_share") < 1.0).count() > 0)
    spark.catalog.clearCache(): Unit
  }

  test("tokenizer fertility: reconciles with C10, fertility >= 1") {
    val f = operators.TextOps.tokenizerFertility(spark, sf).cache()
    val tc = operators.TextOps.tokenCount(spark, sf)
    // aggregate BPE-ish token mass equals C10's (empty docs carry 0)
    assert(f.agg(sum("n_tokens")).head.getLong(0) ==
      tc.agg(sum("n_tokens_bpe")).head.getLong(0))
    // every whitespace word yields at least one BPE-ish token
    assert(f.filter(col("n_tokens") < col("n_words")).count() == 0)
    assert(f.filter(col("fertility") < 1.0).count() == 0)
    // grid is (source, lang)-bounded and non-trivial
    assert(f.count() > 0)
    f.unpersist(): Unit
  }

  test("zipf profile (C95): exact marks on a constructed distribution") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_zipf")
    // one source, engineered tf: "alpha"x8, "beta"x4, "gamma"x2 + two
    // hapaxes -> total 16, vocab 5, hapax 2, f1=8, f10/f100 absent
    val text = (Seq.fill(8)("alpha") ++ Seq.fill(4)("beta") ++
      Seq.fill(2)("gamma") ++ Seq("delta", "epsilon")).mkString(" ")
    Seq((1L, text, "en", "srcz", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = operators.TextOps.textZipf(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("total_tokens") == 16L)
    assert(row.getAs[Long]("vocab_size") == 5L)
    assert(row.getAs[Long]("hapax_count") == 2L)
    assert(row.getAs[Double]("hapax_frac") == 0.4)
    assert(row.getAs[String]("top_term") == "alpha")
    assert(row.getAs[Double]("top1_share") == 0.5)
    assert(row.getAs[Double]("top10_share") == 1.0) // vocab < 10: all head
    assert(row.isNullAt(row.fieldIndex("zipf_ratio_10")))  // no rank 10
    assert(row.isNullAt(row.fieldIndex("zipf_ratio_100")))
  }

  test("zipf profile: ordering invariants and C10 token reconciliation") {
    val z = operators.TextOps.textZipf(spark, sf).cache()
    assert(z.count() > 0)
    // shares nest and ratios grow with rank depth (f10 >= f100)
    assert(z.filter(col("top1_share") > col("top10_share")).count() == 0)
    assert(z.filter(col("top10_share") > 1.0 || col("top1_share") <= 0.0).count() == 0)
    assert(z.filter(col("zipf_ratio_10") < 1.0).count() == 0)
    assert(z.filter(col("zipf_ratio_100") < col("zipf_ratio_10")).count() == 0)
    assert(z.filter(col("hapax_frac") < 0.0 || col("hapax_frac") > 1.0).count() == 0)
    assert(z.filter(col("vocab_size") > col("total_tokens")).count() == 0)
    // token mass reconciles with C10's whitespace count (empty docs = 0)
    val ws = operators.TextOps.tokenCount(spark, sf)
      .agg(sum("n_tokens_ws")).head.getLong(0)
    assert(z.agg(sum("total_tokens")).head.getLong(0) == ws)
    z.unpersist(): Unit
  }

  test("vocab growth (C97): conservation, monotone cumulatives, C95 pin") {
    val g = operators.TextOps.vocabGrowth(spark, sf).cache()
    assert(g.count() <= operators.TextOps.VocabBuckets)
    val last = g.orderBy(col("bucket").desc).head
    // cumulative types at the end IS the corpus vocabulary; tokens and
    // docs reconcile with the direct counts
    val toks = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0).cache()
    assert(last.getAs[Long]("n_types_cum") ==
      toks.select("term").distinct().count())
    assert(last.getAs[Long]("n_tokens_cum") == toks.count())
    assert(last.getAs[Long]("n_docs_cum") ==
      graft.sources.Tables.documents(spark, sf)
        .filter(length(trim(col("text"))) > 0).count())
    // per-bucket columns sum to the cumulative tail
    assert(g.agg(sum("n_new_types")).head.getLong(0) ==
      last.getAs[Long]("n_types_cum"))
    assert(g.agg(sum("n_tokens")).head.getLong(0) ==
      last.getAs[Long]("n_tokens_cum"))
    // cumulatives never decrease; growth ratios are >= 1 where defined
    val rows = g.orderBy("bucket").collect()
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_types_cum") >= a.getAs[Long]("n_types_cum"))
      assert(b.getAs[Long]("n_tokens_cum") >= a.getAs[Long]("n_tokens_cum"))
      case _ => ()
    }
    assert(g.filter(col("type_ratio") < 1.0 || col("token_ratio") < 1.0)
      .count() == 0)
    assert(rows.head.isNullAt(rows.head.fieldIndex("type_ratio")))
    // corpus vocab <= the sum of C95's per-source vocabularies (shared
    // terms count once per source there)
    val zipfVocab = operators.TextOps.textZipf(spark, sf)
      .agg(sum("vocab_size")).head.getLong(0)
    assert(last.getAs[Long]("n_types_cum") <= zipfVocab)
    toks.unpersist(); g.unpersist(): Unit
  }

  test("threshold sweep: grid rows, monotone survival, reconciliation") {
    val sw = Pipeline.filterThresholdSweep(spark, sf).cache()
    assert(sw.count() == Pipeline.SweepN)
    val d = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .cache()
    // threshold 0 keeps everything; shares are exactly 1
    val base = sw.filter(col("min_tokens") === 0).head
    assert(base.getAs[Long]("n_docs_kept") == d.count())
    assert(base.getAs[Double]("doc_share") == 1.0 &&
      base.getAs[Double]("token_share") == 1.0)
    // survivors reconcile with a direct count at a mid-grid threshold
    val at50 = sw.filter(col("min_tokens") === 50).head
    assert(at50.getAs[Long]("n_docs_kept") ==
      d.filter(col("n_tok") >= 50).count())
    assert(at50.getAs[Long]("n_tokens_kept") ==
      d.filter(col("n_tok") >= 50).agg(sum("n_tok")).head.getLong(0))
    // survival is monotone nonincreasing in the threshold
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("min_tokens")
    assert(sw.withColumn("prev", lag("n_docs_kept", 1).over(w))
      .filter(col("prev").isNotNull && col("n_docs_kept") > col("prev"))
      .count() == 0)
    // the top row exercises the zero-survivor edge: counts 0, share NULL
    val top = sw.orderBy(col("min_tokens").desc).head
    assert(top.getAs[Long]("n_docs_kept") == 0 &&
      top.isNullAt(top.fieldIndex("quality_pass_share")))
    // the quality gate is non-vacuous at threshold 0 (both outcomes seen)
    val qs = base.getAs[Double]("quality_pass_share")
    assert(qs > 0.0 && qs < 1.0, qs)
    d.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("gram memorization: mass reconciliation, hot bounds, non-vacuous") {
    val g = Pipeline.gramMemorization(spark, sf).cache()
    // total gram mass equals sum over docs of (len - MemGram + 1)
    val d = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(size(split(lower(trim(col("text"))), "\\s+")).cast("long")
        .as("len"))
      .filter(col("len") >= Pipeline.MemGram)
    val mass = d.agg(sum(col("len") - Pipeline.MemGram + 1)).head.getLong(0)
    assert(g.agg(sum("n_gram_occ")).head.getLong(0) == mass)
    // hot occurrences / distincts bounded by their totals, shares in range
    assert(g.filter(col("hot_gram_occ") > col("n_gram_occ")).count() == 0)
    assert(g.filter(col("n_hot_distinct") > col("n_distinct_grams"))
      .count() == 0)
    assert(g.filter(col("hot_occ_share") < 0 || col("hot_occ_share") > 1 ||
      col("dup_occ_share") < 0 || col("dup_occ_share") >= 1).count() == 0)
    // both hot and cold gram mass exist corpus-wide (non-vacuous cutoff)
    val hot = g.agg(sum("hot_gram_occ")).head.getLong(0)
    assert(hot > 0 && hot < mass, s"$hot of $mass")
    spark.catalog.clearCache(): Unit
  }

  test("doc repetition: fold equals explode-mode, flags non-vacuous") {
    val r = TextOps.docRepetition(spark, sf).cache()
    val d = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .cache()
    assert(r.count() == d.count())
    // the sorted-run fold must equal an independent explode+groupBy mode
    val mode = d.select(col("doc_id"), explode(col("toks")).as("w"),
        size(col("toks")).cast("long").as("n_tok"))
      .groupBy("doc_id", "n_tok", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tok").agg(max("c").as("topw"))
      .select(col("doc_id"),
        (col("topw").cast("double") / col("n_tok").cast("double")).as("tws"))
    assert(r.join(mode, "doc_id")
      .filter(col("top_word_share") =!= col("tws")).count() == 0)
    // shares live in their ranges
    assert(r.filter(col("top_word_share") <= 0 || col("top_word_share") > 1 ||
      col("top_bigram_share") <= 0 || col("top_bigram_share") > 1 ||
      col("trigram_dup_share") < 0 || col("trigram_dup_share") >= 1)
      .count() == 0)
    // both flag branches populated, and each flag arm is reachable
    assert(r.filter(col("repetitive")).count() > 0)
    assert(r.filter(!col("repetitive")).count() > 0)
    assert(r.filter(col("trigram_dup_share") > 0.0).count() > 0)
    d.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("pii audit: reconciles with the scrubber, both branches populated") {
    val a = TextOps.piiAudit(spark, sf).cache()
    // total redactions reconcile with C16's per-doc redaction counts
    val scrub = TextOps.piiScrub(spark, sf)
    assert(a.agg(sum("n_redactions")).head.getLong(0) ==
      scrub.agg(sum("n_redacciones")).head.getLong(0))
    // the deterministic doc_id % 13 PII slice guarantees both branches
    assert(a.filter(col("docs_with_pii") > 0).count() > 0)
    assert(a.filter(col("docs_with_pii") < col("n_docs")).count() > 0)
    // every email/phone split sums to the redaction total
    assert(a.filter(col("n_emails") + col("n_phones") =!=
      col("n_redactions")).count() == 0)
    assert(a.filter(col("docs_with_pii") > col("n_docs")).count() == 0)
    spark.catalog.clearCache(): Unit
  }

  test("split leakage: content policy leaks zero, id policy leaks some") {
    val r = Pipeline.splitLeakage(spark, sf).cache()
    assert(r.count() == 2)
    val byPolicy = r.collect().map(x => x.getString(0) -> x).toMap
    // THE invariant the report exists to show: identical bytes get an
    // identical content key, so content-keyed leakage is structurally 0
    assert(byPolicy("by_content").getAs[Long]("cross_split_pairs") == 0L)
    assert(byPolicy("by_content").getAs[Double]("leak_share") == 0.0)
    // the naive id-keyed policy re-rolls the die per copy and leaks
    assert(byPolicy("by_doc_id").getAs[Long]("cross_split_pairs") > 0L)
    // the split policy cannot change the duplicate structure itself
    assert(byPolicy("by_content").getAs[Long]("n_dup_pairs") ==
      byPolicy("by_doc_id").getAs[Long]("n_dup_pairs"))
    assert(byPolicy("by_content").getAs[Long]("n_dup_groups") ==
      byPolicy("by_doc_id").getAs[Long]("n_dup_groups"))
    // dup-group count reconciles with an independent union+groupBy
    val feed = graft.sources.Feeds.incomingDocs(spark, sf)
      .select((col("doc_id") + Pipeline.LeakIdOffset).as("doc_id"),
        col("text"))
    val groups = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).unionByName(feed)
      .filter(length(trim(col("text"))) > 0)
      .groupBy(md5(lower(trim(col("text"))).cast("binary")))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).count()
    assert(byPolicy("by_content").getAs[Long]("n_dup_groups") == groups)
    spark.catalog.clearCache(): Unit
  }

  test("source drift: exact TV recompute, conservation, non-degenerate") {
    val r = Pipeline.sourceDrift(spark, sf).cache()
    // NULL drift IS the "source went dark in today's crawl" signal:
    // exactly the feed-empty sources carry it, covered sources never do
    assert(r.filter(col("feed_docs") === 0 && (col("tv_len").isNotNull ||
      col("tv_lang").isNotNull)).count() == 0)
    assert(r.filter(col("feed_docs") > 0 && (col("tv_len").isNull ||
      col("tv_lang").isNull)).count() == 0)
    assert(r.filter(col("feed_docs") > 0).count() > 0)
    // TV is a distance: within [0, 1], and some source genuinely drifts
    // (the feed's refetch slice swaps in different-length texts)
    assert(r.filter(col("tv_len") < 0.0 || col("tv_len") > 1.0 ||
      col("tv_lang") < 0.0 || col("tv_lang") > 1.0).count() == 0)
    assert(r.filter(col("tv_len") > 0.0).count() > 0)
    // conservation: base/feed doc totals match independent counts
    val base = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0)
    val feed = graft.sources.Feeds.incomingDocs(spark, sf)
      .filter(length(trim(col("text"))) > 0)
    assert(r.agg(sum("base_docs")).head.getLong(0) == base.count())
    assert(r.agg(sum("feed_docs")).head.getLong(0) == feed.count())
    // independent bit-exact recompute of tv_len for one source, straight
    // from the raw tables via a different plan (explicit histogram join)
    val srcName = r.filter(col("feed_docs") > 0)
      .select("source").head.getString(0)
    def hist(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("source") === srcName)
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("t"))
      .collect().map(_.getLong(0))
      .groupBy(t => Pipeline.DriftEdges.count(_ <= t)).view
      .mapValues(_.length.toLong).toMap
    val (hb, hf) = (hist(base), hist(feed))
    val (na, nb) = (hb.values.sum, hf.values.sum)
    val num = (0 to Pipeline.DriftEdges.size).map(i =>
      math.abs(hb.getOrElse(i, 0L) * nb - hf.getOrElse(i, 0L) * na)).sum
    val expected = num.toDouble / (2.0 * na.toDouble * nb.toDouble)
    val got = r.filter(col("source") === srcName)
      .select("tv_len").head.getDouble(0)
    assert(got == expected) // bit-exact, not approx
    spark.catalog.clearCache(): Unit
  }

  test("corpus shard: conservation, routing range, checksum reconciles") {
    val m = Pipeline.corpusShard(spark, sf).cache()
    val d = graft.sources.Tables.documents(spark, sf)
      .filter(length(trim(col("text"))) > 0).cache()
    // every doc routed exactly once; token mass conserved
    assert(m.agg(sum("n_docs")).head.getLong(0) == d.count())
    val tot = d.select(size(split(trim(col("text")), "\\s+")).cast("long")
      .as("n")).agg(sum("n")).head.getLong(0)
    assert(m.agg(sum("n_tokens")).head.getLong(0) == tot)
    // routing lands in [0, NumShards) and balance is share * NumShards
    assert(m.filter(col("shard_id") < 0 ||
      col("shard_id") >= Pipeline.NumShards).count() == 0)
    assert(m.filter(col("balance_ratio") =!=
      col("token_share") * Pipeline.NumShards.toDouble).count() == 0)
    assert(math.abs(m.agg(sum("token_share")).head.getDouble(0) - 1.0) < 1e-9)
    // the XOR fingerprint reconciles with an independent regroup, and the
    // second salt keeps it from collapsing onto the shard id
    val re = d.select(
        (expr("graft_str_hash(concat('shard|', lower(trim(text))))")
          % Pipeline.NumShards).as("shard_id"),
        expr("graft_str_hash(concat('cksum|', lower(trim(text))))").as("ck"))
      .groupBy("shard_id").agg(expr("bit_xor(ck)").as("ck2"))
    assert(m.join(re, Seq("shard_id"))
      .filter(col("content_checksum") =!= col("ck2")).count() == 0)
    assert(m.select("content_checksum").distinct().count() > 1)
    d.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("segment migration (B43): conservation and 'none' tier semantics") {
    val m = Cubes.segmentMigration(spark, sf).cache()
    // every customer lands in exactly one cell (never-buyers included)
    assert(m.agg(sum("n_customers")).head.getLong(0) ==
      sources.Tables.customer(spark, sf).count())
    assert(m.count() <= 16)
    val tiers = Set("none", "low", "mid", "high")
    assert(m.filter(!col("tier_from").isin(tiers.toSeq: _*) ||
      !col("tier_to").isin(tiers.toSeq: _*)).count() == 0)
    // 'none' means zero orders in that half, so its revenue must be zero
    assert(m.filter(col("tier_from") === "none" && col("spend_h1") =!= 0.0)
      .count() == 0)
    assert(m.filter(col("tier_to") === "none" && col("spend_h2") =!= 0.0)
      .count() == 0)
    // both halves' revenue reconciles with an independent orders rollup
    val split = lit(Cubes.MigrationSplitDate).cast("timestamp")
    val o = sources.Tables.orders(spark, sf).agg(
      sum(when(col("o_orderdate") < split,
        functions.Exact.cents(col("o_totalprice"))).otherwise(0L)).as("t1"),
      sum(when(col("o_orderdate") >= split,
        functions.Exact.cents(col("o_totalprice"))).otherwise(0L)).as("t2"))
      .head
    // cells were divided before summing, so allow ulp-level slack
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    assert(close(m.agg(sum("spend_h1")).head.getDouble(0), o.getLong(0) / 100.0))
    assert(close(m.agg(sum("spend_h2")).head.getDouble(0), o.getLong(1) / 100.0))
    m.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("dup source matrix (C100) counts cross- and within-source pairs exactly") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_dupmatrix")
    val boiler = "shared boilerplate header repeated verbatim across sources"
    Seq(
      (1L, boiler, "en", "srcA", 10L),
      (2L, boiler, "en", "srcB", 10L),
      (3L, boiler, "en", "srcB", 10L),
      (4L, "a completely different document body", "en", "srcB", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.dupSourceMatrix(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    // srcA(1 copy) x srcB(2 copies) -> 2 cross pairs; srcB diagonal -> 1
    assert(rows == Seq(("srcA", "srcB", 1L, 2L), ("srcB", "srcB", 1L, 1L)))
    spark.catalog.clearCache(): Unit
  }

  test("dup source matrix pair mass reconciles with chunk dedup copy counts") {
    val m = TextOps.dupSourceMatrix(spark, sf).cache()
    assert(m.filter(col("source_a") > col("source_b")).count() == 0)
    assert(m.filter(col("n_dup_pairs") < col("n_shared_chunks")).count() == 0)
    // conservation: every unordered duplicate chunk-instance pair lands in
    // exactly one matrix cell, so the matrix mass equals sum C(n_copies, 2)
    // over C26's per-content copy counts
    val mass = m.agg(sum("n_dup_pairs")).head.getLong(0)
    val fromDedup = TextOps.chunkDedup(spark, sf)
      .agg(sum(expr("n_copies * (n_copies - 1) div 2"))).head.getLong(0)
    assert(mass == fromDedup && mass > 0)
    m.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("minhash row health (C101): 12 bounded rows over a healthy family") {
    val h = DedupOps.minhashRowHealth(spark, sf).cache()
    val nDocs = sources.Tables.documents(spark, sf)
      .filter(length(lower(trim(col("text")))) >= 5).count()
    assert(h.select("row_idx").collect().map(_.getLong(0)).toSeq == (0L to 11L))
    assert(h.filter(col("n_docs") =!= nDocs).count() == 0)
    assert(h.filter(col("n_distinct") > col("n_docs") ||
      col("n_distinct") < 1).count() == 0)
    assert(h.filter(col("min_min") < 0 ||
      col("max_min") < col("min_min") ||
      col("max_min") >= 2147483647L).count() == 0)
    assert(h.filter(col("top_count") < 1 ||
      col("top_share") <= 0 || col("top_share") > 1).count() == 0)
    assert(h.filter(col("mean_frac") <= 0 || col("mean_frac") >= 1).count() == 0)
    // the healthy-family shape: within-row collisions are the similarity
    // signal (shared-vocabulary corpus => low distinct_frac is EXPECTED),
    // but the 12 permutations must behave independently — near-distinct
    // modal values across rows, and minima means far below the modulus
    assert(h.select("top_value").distinct().count() >= 10)
    assert(h.filter(col("n_distinct") === 1L).count() == 0)
    assert(h.filter(col("mean_frac") > 0.1).count() == 0)
    h.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("minhash row health flags a degenerate (collapsed) corpus") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_mhhealth")
    // every doc identical -> every row's minima collapse to ONE value:
    // the monitor must read top_share = 1, n_distinct = 1 on all 12 rows
    // (the round-5 degenerate-family signature)
    (1L to 6L).map(i => (i, "identical text shared by every document",
        "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val h = DedupOps.minhashRowHealth(spark, dir).cache()
    assert(h.count() == 12)
    assert(h.filter(col("n_distinct") =!= 1L).count() == 0)
    assert(h.filter(col("top_share") =!= 1.0).count() == 0)
    assert(h.filter(col("top_count") =!= 6L).count() == 0)
    h.unpersist()
    spark.catalog.clearCache(): Unit
  }
  test("cross-row agreement (C103): full 66-pair panel, independent family") {
    val a = DedupOps.minhashCrossRowAgreement(spark, sf).cache()
    val nDocs = sources.Tables.documents(spark, sf)
      .filter(length(lower(trim(col("text")))) >= 5).count()
    assert(a.count() == 66)
    assert(a.filter(col("row_a") >= col("row_b")).count() == 0)
    assert(a.filter(col("n_docs") =!= nDocs).count() == 0)
    assert(a.filter(col("agree_frac") < 0 || col("agree_frac") > 1)
      .count() == 0)
    // a healthy family: no two permutations behave as the same function
    // (the round-5 signature would read 1.0 on the collapsed pairs)
    assert(a.filter(col("agree_frac") > 0.9).count() == 0)
    a.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("cross-row agreement matches the kernel minima on a single doc") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_xrow")
    val doc = "The quick brown fox jumps over the lazy dog near the bank"
    Seq((1L, doc, "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val mins = graft.functions.Kernels.minhashRows(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        doc.toLowerCase.trim))
    val expected = (for {
      i <- 0 to 10; j <- (i + 1) to 11
    } yield (i.toLong, j.toLong, 1L,
      if (mins(i) == mins(j)) 1L else 0L)).toSeq
    val got = DedupOps.minhashCrossRowAgreement(spark, dir)
      .select("row_a", "row_b", "n_docs", "n_agree")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    spark.catalog.clearCache(): Unit
  }

  test("subspace variance (C104): PQ-granular budget reconciles with C92") {
    val v = operators.EmbeddingOps.embedSubspaceVariance(spark, sf).cache()
    assert(v.select("sub_id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 3L))
    assert(v.filter(col("n_dims") =!= 16L).count() == 0)
    // dims named as extremes must live inside their own subspace
    assert(v.filter(col("top_dim") < col("sub_id") * 16 ||
      col("top_dim") >= (col("sub_id") + 1) * 16 ||
      col("min_dim") < col("sub_id") * 16 ||
      col("min_dim") >= (col("sub_id") + 1) * 16).count() == 0)
    assert(v.filter(col("trace_q") < 0 || col("top_var_q") < col("min_var_q"))
      .count() == 0)
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    // shares partition the total trace
    assert(close(v.agg(sum("trace_share")).head.getDouble(0), 1.0))
    // the subspace trace is the sum of C92's per-dim variances
    val fromAudit = operators.EmbeddingOps.embedDimAudit(spark, sf)
      .select((col("dim").cast("long") / 16).cast("long").as("sub_id"),
        col("var_q"))
      .groupBy("sub_id").agg(sum("var_q").as("t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    v.select("sub_id", "trace_q").collect().foreach { r =>
      assert(close(r.getDouble(1), fromAudit(r.getLong(0))))
    }
    v.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("pair degree (C105): conservation vs pair counts and bucket bounds") {
    val d = DedupArtifacts.pairDegreeStaged(spark, sf).cache()
    assert(d.filter(col("bucket_ord") < 1 || col("bucket_ord") > 6)
      .count() == 0)
    // a bucket's max degree must lie inside the bucket's own band
    val bounds = Map(1L -> (1L, 1L), 2L -> (2L, 2L), 3L -> (3L, 4L),
      4L -> (5L, 8L), 5L -> (9L, 16L), 6L -> (17L, Long.MaxValue))
    d.select("bucket_ord", "max_degree").collect().foreach { r =>
      val (lo, hi) = bounds(r.getLong(0))
      assert(r.getLong(1) >= lo && r.getLong(1) <= hi, r)
    }
    // every pair contributes exactly two endpoint-degree units
    val degByMethod = d.groupBy("method").agg(sum("sum_degree").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairCounts = Map(
      "minhash_lsh" -> DedupOps.dedupMinhashLsh(spark, sf).count(),
      "ngram_jaccard" -> DedupOps.dedupNgramJaccard(spark, sf).count(),
      "simhash_band" -> DedupOps.dedupSimhashBand(spark, sf).count())
    pairCounts.foreach { case (m, n) =>
      assert(degByMethod.getOrElse(m, 0L) == 2 * n, s"$m: $n pairs")
    }
    d.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("pair degree surfaces a boilerplate hub clique") {
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_pairdeg")
    // six identical docs -> a 6-clique in every pair graph: degree 5 each
    (1L to 6L).map(i => (i, "identical boilerplate text repeated in every doc",
        "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = DedupOps.pairDegreeOf(
      DedupOps.dedupMinhashLsh(spark, dir).select("doc_a", "doc_b"),
      DedupOps.dedupNgramJaccard(spark, dir).select("doc_a", "doc_b"),
      DedupOps.dedupSimhashBand(spark, dir).select("doc_a", "doc_b"))
    val rows = d.filter(col("method") === "minhash_lsh")
      .select("degree_bucket", "n_docs", "max_degree")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows == Seq(("5-8", 6L, 5L)))
    spark.catalog.clearCache(): Unit
  }

  test("transitivity (C119): rate bounded, exact at cap >= degree") {
    val sp = spark
    import sp.implicits._
    // the registered census: closure_rate is a probability, and the
    // wedge budget is respected (n_wedges <= edges-incident docs * C(cap,2))
    val r = DedupOps.dedupTransitivity(spark, sf).collect().head
    val (nE, nW, nC) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val rate = r.getDouble(3)
    assert(rate >= 0.0 && rate <= 1.0, s"closure_rate $rate")
    assert(nC <= nW, s"closed $nC > wedges $nW")
    val cap = DedupOps.TransNeighborCap.toLong
    assert(nW <= 2 * nE * (cap * (cap - 1) / 2),
      s"budget breached: $nW wedges for $nE edges")
    spark.catalog.clearCache()
    // EXACTNESS: on a constructed graph whose max degree <= cap, the
    // capped census must equal the uncapped one EXACTLY (the C105
    // constructed-fixture device). A 6-clique has degree 5 < 16 = cap:
    // 15 edges, 6 * C(5,2) = 60 wedges, all closed -> rate 1.0; and a
    // pending path (1-2, 2-3) contributes an open wedge under both.
    val clique = (for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b))
      .toDF("doc_a", "doc_b")
    val capped = DedupOps.transitivityCensusOf(clique.cache(),
      DedupOps.TransNeighborCap).collect().head
    val uncapped = DedupOps.transitivityCensusOf(clique, 1000)
      .collect().head
    assert(capped == uncapped, s"capped $capped != uncapped $uncapped")
    assert(capped.getLong(0) == 15L && capped.getLong(1) == 60L &&
      capped.getLong(2) == 60L && capped.getDouble(3) == 1.0, capped)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val open = DedupOps.transitivityCensusOf(path.cache(), 16).collect().head
    assert(open.getLong(1) == 1L && open.getLong(2) == 0L &&
      open.getDouble(3) == 0.0, open)
    spark.catalog.clearCache(): Unit
  }

  test("dup length bias (C120): bucket partition conserves corpus + C39") {
    val bias = DedupOps.dupLengthBias(spark, sf).cache()
    // the 5 buckets partition the corpus: doc and char mass conserve
    val docs = sources.Tables.documents(spark, sf)
    val nDocs = docs.count()
    val nChars = docs.agg(sum(col("n_chars").cast("long"))).head.getLong(0)
    assert(bias.agg(sum("n_docs")).head.getLong(0) == nDocs)
    assert(bias.agg(sum("n_chars_total")).head.getLong(0) == nChars)
    // shares sum to 1 (exact integer ratio sums)
    val shareSum = bias.agg(sum("doc_share")).head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-9, s"doc_share sums to $shareSum")
    // bucket doc counts reconcile with C39's cluster-size histogram
    // mapped onto the same 5-bucket grid
    val c39 = DedupOps.dedupClusterSizes(spark, sf)
      .select(
        when(col("cluster_size") === 1, "1-unique")
          .when(col("cluster_size") === 2, "2-pair")
          .when(col("cluster_size") <= 4, "3-4")
          .when(col("cluster_size") <= 8, "5-8")
          .otherwise("9+").as("size_bucket"),
        col("n_docs"))
      .groupBy("size_bucket").agg(sum("n_docs").as("n_docs_c39"))
    val diff = bias.join(c39, Seq("size_bucket"), "full")
      .filter(col("n_docs").isNull || col("n_docs_c39").isNull ||
        col("n_docs") =!= col("n_docs_c39"))
    assert(diff.count() == 0, diff.collect().mkString("; "))
    bias.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("vocab overlap (C121): symmetry, containment >= jaccard, C95 pin") {
    val ov = TextOps.sourceVocabOverlap(spark, sf).cache()
    // pair identity: intersection bounded by both vocabularies;
    // containment >= jaccard always (min <= union); both in (0, 1]
    ov.collect().foreach { r =>
      val (va, vb, common) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (jac, cont) = (r.getDouble(5), r.getDouble(6))
      assert(common <= math.min(va, vb), r.toString)
      assert(cont >= jac - 1e-12, r.toString)
      assert(jac > 0.0 && cont <= 1.0 + 1e-12, r.toString)
    }
    // vocabulary sizes pin against C95's independent per-source count
    val c95 = TextOps.textZipf(spark, sf)
      .select(col("source"), col("vocab_size")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ov.select("source_a", "n_vocab_a").collect().foreach { r =>
      assert(c95(r.getString(0)) == r.getLong(1),
        s"${r.getString(0)}: C121 ${r.getLong(1)} vs C95")
    }
    ov.select("source_b", "n_vocab_b").collect().foreach { r =>
      assert(c95(r.getString(0)) == r.getLong(1),
        s"${r.getString(0)}: C121 ${r.getLong(1)} vs C95")
    }
    spark.catalog.clearCache()
    // SYMMETRY under source renaming: relabeling sources so the pair
    // order flips must swap the vocab columns and leave n_common /
    // jaccard / containment identical (the matrix is about SETS, not
    // labels)
    val sp = spark
    import sp.implicits._
    val dir = tmpDir("graft_vocabsym")
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "aaa", 22L),
      (2L, "alpha beta epsilon", "en", "zzz", 18L),
      (3L, "gamma zeta", "en", "zzz", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fwd = TextOps.sourceVocabOverlap(spark, dir).collect().head
    val dir2 = tmpDir("graft_vocabsym2")
    docs.withColumn("source",
        when(col("source") === "aaa", "zzz").otherwise("aaa"))
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val rev = TextOps.sourceVocabOverlap(spark, dir2).collect().head
    assert(fwd.getLong(2) == rev.getLong(3) &&
      fwd.getLong(3) == rev.getLong(2), s"$fwd vs $rev")
    assert(fwd.getLong(4) == rev.getLong(4) &&
      fwd.getDouble(5) == rev.getDouble(5) &&
      fwd.getDouble(6) == rev.getDouble(6), s"$fwd vs $rev")
    spark.catalog.clearCache(): Unit
  }

  test("band revenue (B63): bands partition the filtered join, bounds") {
    val bands = Analytics.bandRevenue(spark, sf).cache()
    val rows = bands.collect()
    // only the three defined bands appear, in order
    assert(rows.map(_.getString(0)).toSeq.sorted ==
      rows.map(_.getString(0)).toSeq)
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("A", "B", "C")))
    rows.foreach { r =>
      val (n, rev, qty, avg) = (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4))
      assert(n > 0 && rev > 0.0 && qty > 0, r.toString)
      // per-band quantity bounds follow the band's own range
      val (lo, hi) = r.getString(0) match {
        case "A" => (1L, 15L) case "B" => (10L, 30L) case _ => (20L, 50L)
      }
      assert(avg >= lo && avg <= hi, s"${r.getString(0)}: avg_qty $avg")
      assert(qty >= n * lo && qty <= n * hi, r.toString)
    }
    // PARTITION: the per-band rows sum to an independent count of the
    // joined rows satisfying the full cross-table disjunction — the
    // residue filters admit no extra row and drop no banded row
    val l = sources.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity")
    val p = sources.Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_size")
    val full = l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand").isin("Brand#11", "Brand#12", "Brand#13") &&
          col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 15)) ||
        (col("p_brand").isin("Brand#21", "Brand#22", "Brand#23") &&
          col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand").isin("Brand#20", "Brand#24", "Brand#25") &&
          col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50)))
      .count()
    assert(bands.agg(sum("n_items")).head.getLong(0) == full,
      s"band rows don't partition the disjunction's ${full} matches")
    bands.unpersist(): Unit
  }

  test("supplier blame (B64): EXISTS recount equality + fixture exactness") {
    // the window-arithmetic collapse must equal the TEXTBOOK double
    // existential computed the expensive way: blame pairs = late
    // (order, supplier) pairs SEMI-joined to some OTHER supplier's pair in
    // the same order, ANTI-joined to any OTHER late pair in the same order
    val blame = Analytics.supplierBlame(spark, sf)
    val total = blame.agg(sum("numwait")).head.getLong(0)
    val o = sources.Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val l = sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val joined = o.join(l, col("o_orderkey") === col("l_orderkey"))
    val allPairs = joined.select(col("o_orderkey").as("ok"),
      col("l_suppkey").as("sk")).distinct().cache()
    val latePairs = joined
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL ${Analytics.LateDays} DAYS"))
      .select(col("o_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct().cache()
    val other = allPairs.select(col("ok").as("ok2"), col("sk").as("sk2"))
    val otherLate = latePairs.select(col("ok").as("ok3"), col("sk").as("sk3"))
    val textbook = latePairs
      .join(other, col("ok") === col("ok2") && col("sk") =!= col("sk2"),
        "left_semi")
      .join(otherLate, col("ok") === col("ok3") && col("sk") =!= col("sk3"),
        "left_anti")
      .count()
    assert(total == textbook, s"window blame $total != textbook $textbook")
    allPairs.unpersist(); latePairs.unpersist()
    spark.catalog.clearCache()
    // constructed fixture with known blame: order 1 has exactly one late
    // supplier among two (blame), order 2 two late (nobody), order 3 a
    // single late supplier (nobody — no other supplier waited), order 4
    // is late but not finalized (excluded), order 5 all on time
    val sp = spark
    import sp.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val dir = tmpDir("graft_blame")
    Seq((1L, "F", ts("2000-01-01")), (2L, "F", ts("2000-01-01")),
      (3L, "F", ts("2000-01-01")), (4L, "O", ts("2000-01-01")),
      (5L, "F", ts("2000-01-01")))
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val late = ts("2000-06-01"); val ontime = ts("2000-01-15")
    Seq((1L, 1L, late), (1L, 1L, ontime), (1L, 2L, ontime),
      (2L, 1L, late), (2L, 2L, late),
      (3L, 3L, late),
      (4L, 2L, late), (4L, 3L, ontime),
      (5L, 2L, ontime), (5L, 3L, ontime))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "SUPP_1", 0L), (2L, "SUPP_2", 0L), (3L, "SUPP_3", 1L))
      .toDF("s_suppkey", "s_name", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((0L, "N_A"), (1L, "N_B")).toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val rows = Analytics.supplierBlame(spark, dir).collect()
    assert(rows.length == 1 && rows.head.getString(0) == "SUPP_1" &&
      rows.head.getString(1) == "N_A" && rows.head.getLong(2) == 1L,
      rows.mkString("; "))
    spark.catalog.clearCache(): Unit
  }

  test("idle high balance (B65): window recount + boundary fixture") {
    // independent recount via a GLOBAL WINDOW instead of the broadcast
    // scalar: same exact-integer predicate, different plan family
    val sp = spark
    import sp.implicits._
    val r = Analytics.idleHighBalance(spark, sf).cache()
    r.collect().foreach { row =>
      assert(Analytics.IdleBuckets.contains(row.getString(0)), row.toString)
      assert(row.getLong(1) > 0L, row.toString)
    }
    val cust = sources.Tables.customer(spark, sf)
      .select(col("c_custkey"), substring(col("c_name"), 17, 2).as("bucket"),
        graft.functions.Exact.cents(col("c_acctbal")).as("bal_c"))
      .filter(col("bucket").isin(Analytics.IdleBuckets: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val recount = cust
      .withColumn("tot", sum(when(col("bal_c") > 0L, col("bal_c"))).over(w))
      .withColumn("n_pos", count(when(col("bal_c") > 0L, lit(1))).over(w))
      .filter(col("bal_c") * col("n_pos") > col("tot"))
      .join(sources.Tables.orders(spark, sf)
          .filter(col("o_orderdate") >=
            lit(Cubes.InactiveSince).cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("bucket").agg(count(lit(1)).as("n2"))
    val diff = r.join(recount, Seq("bucket"), "full")
      .filter(col("n_customers").isNull || col("n2").isNull ||
        col("n_customers") =!= col("n2"))
    assert(diff.count() == 0, diff.collect().mkString("; "))
    r.unpersist()
    spark.catalog.clearCache()
    // boundary fixture: avg over positives = 400.00 exactly; the at-avg
    // customer is EXCLUDED (strict >), the above-avg customer with a
    // recent order is excluded by the anti-join, the negative-balance
    // customer never passes, and only the idle above-avg customer lands
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val dir = tmpDir("graft_idle")
    Seq((1L, "Customer#000000001", 100.0),   // bucket 01, below avg
      (101L, "Customer#000000101", 500.0),   // 01, above avg, RECENT order
      (113L, "Customer#000000113", 400.0),   // 13, exactly at avg: excluded
      (301L, "Customer#000000301", 600.0),   // 01, above avg, idle: KEPT
      (201L, "Customer#000000201", -50.0),   // 01, negative: not in stats
      (99L, "Customer#000000099", 9999.0))   // bucket 99: outside the list
      .toDF("c_custkey", "c_name", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((101L, ts("2001-03-01")), (301L, ts("2000-05-01")))
      .toDF("o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = Analytics.idleHighBalance(spark, dir).collect()
    assert(rows.length == 1 && rows.head.getString(0) == "01" &&
      rows.head.getLong(1) == 1L && rows.head.getDouble(2) == 600.0,
      rows.mkString("; "))
    spark.catalog.clearCache(): Unit
  }

  test("customer order distribution (B66): totals, zero bucket, trap twin") {
    val dist = Analytics.customerOrderDistribution(spark, sf).cache()
    // every customer lands in exactly one bucket — the zero bucket exists
    // precisely because the join stays left outer
    val total = dist.agg(sum("n_customers")).head.getLong(0)
    val nCust = sources.Tables.customer(spark, sf).count()
    assert(total == nCust, s"bucket mass $total != customers $nCust")
    // the zero bucket IS B19's churn set (same qualifying horizon)
    val zero = dist.filter(col("c_count") === 0L)
      .agg(sum("n_customers")).head.getLong(0)
    val churned = Cubes.customersNoOrders(spark, sf)
      .agg(sum("n_customers")).head.getLong(0)
    assert(zero == churned, s"zero bucket $zero != B19 churn $churned")
    // the Q13 trap twin: the textbook join-then-count — qualifier in the
    // ON clause, COUNT(o_orderkey) over the raw left join — must agree
    // with the pre-aggregated plan bucket by bucket
    val textbook = sources.Tables.customer(spark, sf).select("c_custkey")
      .join(sources.Tables.orders(spark, sf)
          .select("o_custkey", "o_orderkey", "o_orderdate"),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderdate") >= lit(Cubes.InactiveSince).cast("timestamp"),
        "left_outer")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("n2"))
    val diff = dist.join(textbook, Seq("c_count"), "full")
      .filter(col("n_customers").isNull || col("n2").isNull ||
        col("n_customers") =!= col("n2"))
    assert(diff.count() == 0, diff.collect().mkString("; "))
    dist.unpersist()
    spark.catalog.clearCache(): Unit
  }

  test("top supplier revenue (B67): window recount + tie fixture") {
    val sp = spark
    import sp.implicits._
    // recount through the global-window argmax the operator deliberately
    // avoids: same exact-integer revenue, different plan family
    val r = Analytics.topSupplierRevenue(spark, sf)
    val got = r.collect().map(x => (x.getLong(0), x.getDouble(2))).toSet
    val perSupp = sources.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >=
          lit(Analytics.TopRevenueQuarterStart).cast("timestamp") &&
        col("l_shipdate") <
          lit(Analytics.TopRevenueQuarterEnd).cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(graft.functions.Exact.discounted(
        graft.functions.Exact.cents(col("l_extendedprice")),
        graft.functions.Exact.cents(col("l_discount")))).as("rev_u"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val want = perSupp.withColumn("mx", max("rev_u").over(w))
      .filter(col("rev_u") === col("mx"))
      .select(col("l_suppkey"),
        (col("rev_u").cast("double") / lit(10000.0)).as("tr"))
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSet
    assert(got == want && got.nonEmpty, s"argmax $got != window recount $want")
    spark.catalog.clearCache()
    // tie fixture: suppliers 1 and 2 both gross exactly 90.00 in-quarter
    // (Q15 semantics: ties -> ALL rows); 3 trails; 4 sells only outside
    // the quarter and must not resurrect via the pushed bound
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val dir = tmpDir("graft_topsupp")
    Seq((1L, 100.0, 0.10, ts("1996-02-01")),
      (2L, 50.0, 0.10, ts("1996-02-01")),
      (2L, 50.0, 0.10, ts("1996-03-15")),
      (3L, 10.0, 0.0, ts("1996-02-01")),
      (4L, 999.0, 0.0, ts("1995-06-01")))
      .toDF("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "S1"), (2L, "S2"), (3L, "S3"), (4L, "S4"))
      .toDF("s_suppkey", "s_name")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val rows = Analytics.topSupplierRevenue(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L), rows.mkString("; "))
    assert(rows.forall(_.getDouble(2) == 90.0), rows.mkString("; "))
    spark.catalog.clearCache(): Unit
  }

}
