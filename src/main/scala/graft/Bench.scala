package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * sys.env("SPARK_GRAFT_SF_DIR") and prints one JSON line with per-query
  * wall seconds. Results are materialized through the noop sink so Catalyst
  * cannot prune work the query declares (a bare count() would let column
  * pruning drop aggregate expressions).
  *
  * Robustness (round 6): the full-run numbers used to carry up to 8×
  * contention noise — back-to-back min-of-2 samples share any transient
  * spike (GC, shuffle-file churn from the previous query), so a single
  * spike faked large regressions (q_validate_products 7.44s in the run,
  * 0.93s warm). Now: a warmup pass absorbs per-query codegen/JIT, then
  * timed passes separated by the length of a full pass — a spike has to
  * recur minutes apart on the same query to survive the min. Every timed
  * sample starts cache-cold (each execution is one
  * [[operators.Caches.scoped]] unit, whose caches are released after it),
  * matching how a query runs in isolation; before this, leaked caches
  * measured 4-6× slowdowns on later-alphabet queries.
  *
  * Round 7, after diagnosing the residual 6-query "unstable" set: the
  * noise is DEFERRED CLEANUP — unpersist/broadcast-removal is
  * asynchronous (ContextCleaner drains a GC-fed reference queue), so the
  * previous query's teardown lands on the next query's clock. The fixes
  * that stand: (1) cache-clear OUT of the timed window, (2) a short
  * between-queries drain pause pays the cleanup debt off the clock, (3)
  * pass-major sample order so the same query's samples sit a full pass
  * apart. A forced System.gc() per query was ALSO tried and is
  * deliberately absent: 408 full GCs evict JIT'd/generated code, which
  * penalizes exactly the composed queries with the largest codegen
  * surface (q_modal_consistency 4.5 s → 12.9 s, total +33%).
  *
  * Round 14 — the driver-budget rework (BENCH_r13.json was rc 124: the
  * 200-query surface at 1 warmup + 3 timed passes outgrew the driver's
  * wall budget; the judge's full-run measurement was 24m22s). The A/B
  * that picked the cut (full 200-query run, per-pass sample dump,
  * SCALING_r14.md): phase walls were staging 44s + warmup 287s + timed
  * passes 361/348/298s. Cutting to min-of-2 (the first idea) was
  * REJECTED by the measurement: this box drifts (the run settles pass
  * over pass — pass 3 was 17% faster than pass 1), so every 2-sample
  * subset inflates the reported total 8-11% vs min-of-3 (per-query
  * median 1.11) — a systematic round-over-round comparability break.
  * Instead the WARMUP pass is dropped (its 287s is the budget cut) and
  * all three timed passes stay:
  *   - Pass 1 doubles as the warmup — its samples carry per-query
  *     codegen (~0.3-0.6s on the heavy queries), which the min over
  *     passes 2-3 absorbs exactly as the old warmup did; a heavy query
  *     still gets ~3 usable samples, a sub-second one 2 warm samples.
  *     SPARK_GRAFT_BENCH_WARMUP=selective|full restores a warmup pass
  *     (selective skips queries under SPARK_GRAFT_WARM_SKIP seconds in
  *     the previous committed bench.json) for A/B work;
  *     SPARK_GRAFT_BENCH_PASSES overrides the pass count.
  *   - The four artifact stores (dedup pairs/components, sketch store,
  *     stream-gate store, ANN store) stage in their OWN measured phase
  *     up front (44s at sf0.1), instead of inside whichever query
  *     touches each store first — staging is paid once and its cost is
  *     visible in the JSON, not smeared into four queries' samples.
  *   - The JSON records wall_s and per-phase seconds (staging / warmup /
  *     each timed pass) so the budget is VISIBLE per run, and a shutdown
  *     hook writes a "partial": true JSON with whatever samples exist if
  *     the process is killed mid-run — a driver timeout now leaves
  *     evidence instead of rc 124 and nothing.
  * Projected driver wall at sf0.1: ~44s staging + ~3×350s passes ≈ 19
  * min sbt-inclusive on a quiet box.
  *
  * Round 15 — the WALL-BUDGET GUARD (BENCH_r14.json was rc 124 AGAIN:
  * the round-14 rework fits a quiet box — builder 1153s in-JVM, judge
  * 1063s rc 0 — but the driver's environment ran the identical
  * code+data 3.1× slower and rode all 3 passes into its 3600s kill,
  * in-JVM wall 3585s at death). Comparability of a number the driver
  * never produces is worth less than a degraded number, so: after each
  * completed pass, if elapsed + (last pass wall × 1.3) would exceed
  * SPARK_GRAFT_BENCH_BUDGET seconds of in-JVM wall (default 3000 —
  * sized for the driver's 3600s kill minus sbt/JVM overhead), the
  * remaining passes are SKIPPED and the run finalizes with the passes
  * it has. The JSON records "passes_done" (and "budget_cut":true when
  * the guard fired) so a degraded min-of-1/2 is visible: per the
  * round-14 A/B, a 2-sample subset reads 8-11% high on this box — a
  * budget-cut total is comparable only to same-passes_done runs. On a
  * quiet box the guard never fires (3 passes ≈ 1000s < 3000s) and the
  * full min-of-3 comparability is unchanged.
  *
  * Round-15 partial-path repairs (the round-14 kill exposed both): the
  * shutdown hook now writes partials to <out>.partial — the old code
  * wrote them to <out> itself, which CLOBBERED the committed bench.json
  * in the driver's working tree — and ALSO printlns the partial line,
  * because the driver parses a 2000-char stdout tail and the file-only
  * partial left parsed:null.
  *
  * Round 16 — three repairs to the driver-facing record. (1) `parsed`
  * was STILL null on the rc-0 round-15 capture: the compact summary fits
  * the 2000-char tail, but sbt prefixed every forked line with "[info] "
  * and printed a "[success] Total time" epilogue after the run, so the
  * JSON was never the literal last stdout line. Fixed in build.sbt
  * (run / outputStrategy := StdoutOutput drops the prefix;
  * Global / showSuccess := false drops the epilogue) and proven by
  * emulating the driver's `| tail -c 2000` capture. (2) The default
  * wall budget now SCALES with the surface — max(3000, 16 s × n
  * queries), capped at 3300 s (≥300 s clear of the driver's 3600 s
  * kill) — the documented growth policy: a fixed 3000 s would degrade
  * to min-of-1 around ~220 queries at the driver's ~5.7 s/query pass
  * cost. (3) `finished` flips only AFTER the final lines print and the
  * out-file write is attempted: the old pre-print flip left a kill
  * window producing neither the final JSON nor the .partial evidence.
  *
  * Unstable = the MEDIAN diverges >3× from the min AND by >0.5s absolute:
  * the relative rule catches genuine bimodality; the absolute guard keeps
  * sub-second codegen/noise deltas (including unwarmed cheap queries'
  * cold first samples) from flagging.
  *
  * The JSON line goes to stdout AND to a file (SPARK_GRAFT_BENCH_OUT,
  * default bench.json) — the driver keeps only a 2,000-char stdout tail,
  * which truncated the round-4 and round-5 per-query maps. In fact EVERY
  * round's full 200-query line (~5.5 KB) outgrows that tail — BENCH_r11
  * and _r12 were rc 0 yet parsed:null, their tails starting mid-map — so
  * since round 15 a COMPACT summary line (total, wall, phases,
  * passes_done, the 8 slowest queries — a few hundred bytes) prints LAST:
  * whatever line-oriented JSON parse the driver runs on the tail finds
  * one complete parseable line, and the full per-query map still lands
  * in the committed bench.json. */
object Bench {

  /** Previous committed per-query minima, parsed from the bench.json this
    * run will overwrite — the warmup-skip decision's input. Best-effort:
    * unreadable/missing → empty map → every query warms. */
  private def priorTimes(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val start = txt.indexOf("\"queries\":{")
      if (start < 0) Map.empty
      else {
        val body = txt.substring(start + 11, txt.indexOf("}", start))
        "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** The tail-sized summary line (see the scaladoc): total + wall + the
    * slowest 8 queries, well under the driver's 2,000-char window. */
  private def compactLine(total: Double, wallS: Double,
      best: Seq[(String, Double)], partial: Boolean,
      extra: String = ""): String = {
    val top = best.sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec","partial":$partial,"n_queries":${best.size},"wall_s":$wallS%.1f$extra,"slowest":$top}"""
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    // GraftSession: kernels via spark.sql.extensions + the scale defaults
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM before timing: first-query cost is otherwise dominated by
    // classloading + codegen + parquet-footer machinery, not query work.
    spark.range(100000).selectExpr("id", "id % 7 AS k")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()
    // Touch every input table once (footer cache + OS page cache) so the
    // first query over each table measures compute, not first-read I/O —
    // q_dedup_exact was absorbing the entire cold documents scan (~13s at
    // sf0.1) purely by running first alphabetically.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // events
    graft.sources.Tables.all.foreach { t =>
      graft.sources.Tables.load(spark, sfDir, t)
        .write.format("noop").mode("overwrite").save()
    }
    // No args (the driver's invocation): staging + selective warmup + 2
    // timed passes. Dev use: pass query names, optionally repeated, to
    // time a subset once each in one JVM (no staging/warmup phases —
    // first sample pays codegen, as an isolated dev run would).
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else args.toSeq.map(n => n -> SparkEntry.queries(n))
    // partial-result evidence for a driver kill: every completed sample
    // lands here; the shutdown hook writes them if we never reach the end
    val partial = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    @volatile var finished = false
    val hook = new Thread(() => if (!finished) {
      val best = {
        val m = scala.collection.mutable.Map[String, Double]()
        partial.forEach { case (n, t) =>
          m(n) = math.min(t, m.getOrElse(n, Double.MaxValue)) }
        m.toSeq.sortBy(_._1)
      }
      val qs = best.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val line = f"""{"metric":"total","value":${best.map(_._2).sum}%.3f,""" +
        f""""unit":"sec","partial":true,"wall_s":${secsSince(wall0)}%.1f,""" +
        f""""queries":$qs,"unstable":[],"sf":"$sfDir"}"""
      // Sidecar + stdout, NEVER the committed out file: the driver
      // parses a stdout tail, and a kill must not clobber bench.json.
      println(line)
      println(compactLine(best.map(_._2).sum, secsSince(wall0),
        best, partial = true))
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out + ".partial"), line + "\n")
      catch { case _: Throwable => () }
    })
    Runtime.getRuntime.addShutdownHook(hook)
    def once(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame, record: Boolean = false)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      def stop() = (System.nanoTime() - t0) / 1e9
      // Teardown OFF the clock: the clock stops inside the scope, which
      // then unpersists this query's caches; then a pause lets the
      // ContextCleaner/GC drain — otherwise the async
      // unpersist/broadcast-removal debt lands on the NEXT query's timed
      // window (the diagnosed source of the "runs right after heavy work"
      // instability cluster). NO System.gc() here — see the scaladoc A/B.
      val (dt, ok) =
        try operators.Caches.scoped(spark)(fn(spark, sfDir)) { df =>
          df.write.format("noop").mode("overwrite").save()
          (stop(), true)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e"); (stop(), false) }
      if (record && ok) partial.add((name, dt)): Unit
      Thread.sleep(150)
      (dt, ok)
    }
    var stagingS, warmupS = 0.0
    var passWalls = Seq.empty[Double]
    var warmed = 0
    val passes =
      if (args.nonEmpty) 1
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    if (args.isEmpty) {
      // phase: store staging — the four per-(dir, JVM) artifact stores
      // built once, measured apart from any query's samples
      val tStage = System.nanoTime()
      graft.operators.DedupArtifacts.stage(spark, sfDir)
      graft.operators.SketchArtifacts.stage(spark, sfDir)
      graft.operators.StreamArtifacts.stage(spark, sfDir)
      graft.operators.AnnArtifacts.stage(spark, sfDir)
      stagingS = secsSince(tStage)
      // optional warmup phase (default OFF since round 14 — pass 1 warms;
      // see the scaladoc A/B): "selective" skips the cheap tail the
      // previous committed run measured, "full" warms everything
      val warmMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "none")
      if (warmMode != "none") {
        val prior = priorTimes(out)
        val skipBelow =
          sys.env.getOrElse("SPARK_GRAFT_WARM_SKIP", "0.5").toDouble
        val toWarm =
          if (warmMode == "full") selected
          else selected.filter { case (n, _) =>
            prior.get(n).forall(_ >= skipBelow) }
        warmed = toWarm.size
        val tWarm = System.nanoTime()
        toWarm.foreach { case (n, f) => once(n, f) } // discarded
        warmupS = secsSince(tWarm)
      }
    }
    // pass-major order: the same query's samples are a full pass apart.
    // Budget guard (round 15): after each completed pass, project the
    // next pass at last-pass wall × 1.3 (headroom for the drift this box
    // shows pass-over-pass) against the in-JVM wall budget; skip the
    // remaining passes rather than ride into the driver's kill.
    // Default budget SCALES with the surface (round 16 — the growth
    // policy): at ~5.7 s/query driver-side per pass, a fixed 3000 s
    // degrades to min-of-1 around ~220 queries. 16 s/query of budget
    // keeps pass-count parity as the surface grows, capped at 3300 s so
    // a pass the guard admits still finishes ≥ 300 s clear of the
    // driver's 3600 s kill (the guard projects BEFORE starting a pass;
    // the cap bounds where an admitted pass can end).
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble)
      .getOrElse(math.min(3300.0, math.max(3000.0, 16.0 * selected.size)))
    val samples =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(Double, Boolean)]]
    var budgetCut = false
    while (samples.size < passes && !budgetCut) {
      val tPass = System.nanoTime()
      samples += selected.map { case (n, f) => once(n, f, record = true) }
      passWalls = passWalls :+ secsSince(tPass)
      if (samples.size < passes &&
          secsSince(wall0) + passWalls.last * 1.3 > budgetS) {
        budgetCut = true
        System.err.println(
          f"[bench] budget guard: elapsed ${secsSince(wall0)}%.0fs + " +
            f"projected pass ${passWalls.last * 1.3}%.0fs > budget " +
            f"$budgetS%.0fs — finalizing with ${samples.size} of $passes passes")
      }
    }
    val passesDone = samples.size
    val results = selected.zipWithIndex.map { case ((name, _), i) =>
      val runs = samples.toSeq.map(_(i))
      // min over SUCCESSFUL runs — a fast failure must not masquerade as
      // steady-state time; if every run failed, report the (slow) failure
      // time rather than poisoning the JSON with infinities
      val good = runs.filter(_._2)
      val times = (if (good.nonEmpty) good else runs).map(_._1).sorted
      (name, times.min, times(times.size / 2))
    }
    val unstable = results.collect {
      case (n, lo, med) if med > 3.0 * lo && med - lo > 0.5 => n
    }
    // A/B instrumentation: dump EVERY pass's samples so one 3-pass run
    // answers "does the 3rd pass change the min" exactly (SCALING_r14.md)
    sys.env.get("SPARK_GRAFT_BENCH_SAMPLES").foreach { p =>
      val rows = selected.zipWithIndex.map { case ((name, _), i) =>
        "\"" + name + "\":[" +
          samples.map(s => f"${s(i)._1}%.3f").mkString(",") + "]"
      }.mkString("{", ",", "}")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), rows + "\n")
      catch { case _: Throwable => () }
    }
    val qs = results.map { case (k, lo, _) => "\"" + k + "\":" + f"$lo%.3f" }
      .mkString("{", ",", "}")
    val un = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val phases = (Seq("staging" -> stagingS, "warmup" -> warmupS) ++
      passWalls.zipWithIndex.map { case (w, i) => s"pass_${i + 1}" -> w })
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.1f" }
      .mkString("{", ",", "}")
    val cut = if (budgetCut) ""","budget_cut":true""" else ""
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"unstable":$un,"wall_s":${secsSince(wall0)}%.1f,"phases":$phases,"passes":$passes,"passes_done":$passesDone$cut,"warmed":$warmed,"sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: $e") }
    spark.stop()
    // LAST on stdout: the tail-sized summary (the full line above
    // outgrows the driver's 2,000-char tail — see the scaladoc)
    println(compactLine(total, secsSince(wall0),
      results.map(r => (r._1, r._2)), partial = false,
      extra = s""","passes_done":$passesDone$cut"""))
    // Disarm the partial hook only AFTER the final lines are printed and
    // the out-file write was attempted: flipping it earlier left a window
    // where a driver kill suppressed BOTH the final JSON and the .partial
    // evidence the hook exists to guarantee (round-15 ADVICE).
    finished = true
  }
}
