package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The PERSISTED dedup-artifact layer — the production shape of the
  * composed dedup reports (SURVEY.md §2 C39/C59/C75/C82).
  *
  * The inline compositions ([[DedupOps.dedupAgreement]],
  * [[DedupOps.dedupFunnel]]) run every candidate generator inside ONE
  * action, which holds every generator's corpus-scaled signature cache
  * simultaneously (measured ≈1.8× the sum of the standalone runs) and
  * re-runs C18's iterative component loop once per consuming report. At
  * 100 TB that is a memory-pressure peak and a 4×-repeated iterative job.
  * The reference's analog is its keyed MERGE staging table — state written
  * once, read by every consumer (etl_service.py:252-293).
  *
  * This object is the C58-index pattern applied to the reports: each
  * generator's candidate pair set and C18's component labels are written
  * ONCE, each by its own job (so peak residency is one generator's caches,
  * reclaimed before the next starts), as key-partitioned parquet with a
  * per-artifact row-count + content-checksum manifest (the
  * [[graft.sources.Export.shardedCorpus]] / readShardedVerified
  * machinery). The reports then read O(pairs)/O(docs) artifacts — no
  * generator cache is alive during the report action, verified by plan
  * pin in ArtifactSpec (no InMemoryTableScan below the matrix action).
  *
  * Layout under a root:
  * {{{
  *   pairs_minhash_lsh/    doc_a, doc_b              (C2 candidates)
  *   pairs_ngram_jaccard/  source, doc_a, doc_b, …   (C4 pairs, thresholded)
  *   pairs_simhash_band/   doc_a, doc_b, hamming     (C14 pairs)
  *   components/           doc_id, component_id, component_size (C18)
  * }}}
  * Each directory carries `_graft_manifest.json` = {n_rows, checksum};
  * [[readVerified]] recomputes both FROM THE FILES and fails fast naming
  * the artifact on any mismatch (truncated file, lost task output,
  * flipped byte) — same contract as
  * [[graft.sources.Tables.readShardedVerified]].
  *
  * THE INTEGRITY CONTRACT of every verified read (these artifacts, the
  * quantizers, the sketch month/type artifacts and every [[SliceLog]]
  * family), all through [[readVerifiedCanonical]]: the params handshake
  * runs on every read, and the digest runs once per snapshot — the
  * manifest plus the (path, length, modification time) of every data
  * file the read scans. A later read of a snapshot this JVM already
  * verified skips the digest; any append, restatement, compaction
  * publish or re-stamp changes the snapshot and is verified again.
  * Failed reads record nothing: a read that failed verification fails
  * again on the same files. The one gap: an out-of-band rewrite that
  * keeps a file's length and modification time, made in this JVM after
  * a verified read, is not re-checked.
  *
  * At 100 TB the write is a once-a-day indexing job (bucketed catalog
  * tables via [[graft.sources.Export.bucketedTable]] if the joins repeat);
  * the registered queries stage into a fresh temp root per call because
  * the verify/bench harness owns no state between queries — the staged
  * plans are byte-identical to a standing-artifact deployment's.
  */
object DedupArtifacts {

  val PairMethods: Seq[String] = Seq("minhash_lsh", "ngram_jaccard", "simhash_band")

  /** The BUILD GEOMETRY each pair/component artifact records in its
    * manifest (round-12: the round-11 sketch-store params contract
    * extended to the dedup stores). Today the generators expose no knobs
    * — these are the session constants their rows are only meaningful
    * under — but the round-10 sketch-store lesson was exactly that the
    * manifest should make implicit build config EXPLICIT before an API
    * change makes a mismatch reachable: a pair set generated under a
    * different banding (or hot-bucket cap, or gram size) silently changes
    * what "candidate" means, and every downstream
    * agreement/precision/funnel report would misattribute the drift to
    * the data. Readers state these and
    * [[readVerified]] fails fast on any difference. */
  private[graft] def pairParams(method: String): Map[String, String] = {
    val hotCap = Map("max_bucket_docs" -> DedupOps.MaxBucketDocs.toString)
    method match {
      case "minhash_lsh" => Map("family" -> "pairs_minhash_lsh",
        "shingle_chars" -> "5", "bands" -> "4", "rows_per_band" -> "3") ++
        hotCap
      case "ngram_jaccard" => Map("family" -> "pairs_ngram_jaccard",
        "gram_words" -> "3", "max_gram_df" -> DedupOps.MaxGramDf.toString,
        "min_jaccard" -> "0.2")
      case "simhash_band" => Map("family" -> "pairs_simhash_band",
        "sim_bits" -> "32", "bands" -> "4", "band_bits" -> "8",
        "max_hamming" -> DedupOps.SimhashMaxHamming.toString) ++ hotCap
    }
  }

  /** C18's labels inherit the minhash banding (its edges are the C2
    * bucket co-membership relation). */
  private[graft] def componentParams: Map[String, String] =
    Map("family" -> "components", "shingle_chars" -> "5", "bands" -> "4",
      "rows_per_band" -> "3")

  private def generator(spark: SparkSession, dir: String,
      method: String): DataFrame = method match {
    case "minhash_lsh"   => DedupOps.dedupMinhashLsh(spark, dir)
    case "ngram_jaccard" => DedupOps.dedupNgramJaccard(spark, dir)
    case "simhash_band"  => DedupOps.dedupSimhashBand(spark, dir)
  }

  /** Write one artifact: key-partitioned parquet + manifest. The
    * manifest's (n_rows, checksum) is re-derived from the WRITTEN files, so
    * a read that reverifies it proves file integrity end-to-end. `params`
    * records the BUILD PARAMETERS the rows are only meaningful under
    * (sketch geometry — m / depth·width / s): a reader that states its
    * expected params fails fast on mismatch instead of silently
    * reinterpreting registers under the wrong bucket map (the round-10
    * latent-defect class). `df` is built, written and stamped in one
    * [[Caches.scoped]] unit, so the caches its plan kept are released
    * when the artifact is written. */
  private[operators] def writeArtifact(spark: SparkSession, df: => DataFrame,
      path: String, key: String, params: Map[String, String] = Map.empty): Unit =
    Caches.scoped(spark)(df) { rows =>
      rows.repartition(spark.sessionState.conf.numShufflePartitions, col(key))
        .write.mode(SaveMode.Overwrite).parquet(path)
      refreshManifest(spark, path, params, identity)
    }

  /** Write `rows` hive-partitioned by `partCol` under `path` — the slice
    * layout a [[SliceLog]] build and [[compactSlices]] share. `sliceKey`
    * co-partitions rows WITHIN slices (the cell-major layout for IVF
    * cells); without it each slice lands as one file (segment-sketch
    * slices are one row each; no small-file spray). */
  private[operators] def writeSlices(rows: DataFrame, path: String,
      partCol: String, sliceKey: Option[String]): Unit = {
    val laid = sliceKey match {
      case Some(k) => rows.repartition(
        rows.sparkSession.sessionState.conf.numShufflePartitions,
        col(partCol), col(k))
      case None => rows.repartition(col(partCol))
    }
    laid.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)
  }

  /** (n_rows, checksum) of a frame: an order-free row-set digest (bit_xor
    * of per-row xxhash64), so a family assembled slice by slice digests
    * the SAME as one written in a single pass — append ≡ rebuild is
    * checkable by manifest equality alone. One narrow pass. */
  private def digest(df: DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)).as("n"),
      coalesce(expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))"),
        lit(0L)).as("ck")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Recompute (n_rows, checksum) FROM THE FILES and rewrite the
    * manifest. The digest is over `canon` of the rows as read (partition
    * columns included): the identity for a plain artifact, a slice log's
    * canonical view for its families ([[SliceLog.Family]]). One narrow
    * O(artifact) pass (tiny for sketch stores: one row per segment). */
  private[graft] def refreshManifest(spark: SparkSession, path: String,
      params: Map[String, String], canon: DataFrame => DataFrame): Unit = {
    val (n, ck) = digest(canon(Tables.readParquet(spark, path)))
    writeManifest(spark, path, n, ck, params)
  }

  /** SLICE COMPACTION for log-structured stores (round 13): merge every
    * slice with `partCol ≤ upTo` into ONE slice holding the CANONICAL
    * merge of their rows, labeled `partCol = upTo`; slices above `upTo`
    * are untouched, so the nightly append cadence continues against the
    * compacted base. `canon` takes the rows as read and drops `partCol`
    * (a family whose slice label is data cannot compact). Every store
    * `canon` is associative and idempotent, so compacting a prefix of the
    * log preserves the overall canonical view — and with it the canonical
    * DIGEST — exactly, and manifest equality before/after is the spec's
    * pin that compaction touched layout, never meaning. This is what
    * keeps [[SliceLog.read]]'s per-read merge bounded after a year of day
    * appends: O(compactions-since) slices, not 365.
    *
    * Crash recovery (round 14, the advisor's finding — the round-13
    * docstring over-claimed "crash-safe by construction"): the new
    * layout is staged whole under a `_`-prefixed sibling and swapped in
    * with [[graft.sources.Export.publish]]'s rename publish, so a READER
    * sees the old slices or the new, never a mix — and a crash between
    * publish's two renames leaves the family staged out under
    * `_<name>.old` with the target absent; on entry, a stranded `.old`
    * is renamed back so the retry starts from a readable store.
    *
    * The manifest TRAVELS WITH the swap (round 15, the advisor's
    * refinement of the round-14 re-stamp signal): the canonical digest
    * is invariant under compaction, so the family manifest is COPIED
    * into the staged layout before the publish — there is no
    * crash-after-publish-before-re-stamp window anymore, and a missing
    * manifest now unambiguously means a HALF-BUILT store (a crash
    * between the initial family write and its first stamp), which this
    * method — and `recover()` — FAILS on rather than blessing with
    * caller-asserted params. Dropping the post-compact re-stamp also
    * strengthens verification: if a compaction ever broke the canonical
    * merge, verified readers now fail against the pre-compaction
    * manifest instead of a re-stamp silently adopting the broken
    * digest. Returns true iff a compaction ran (≥ 2 slices merged).
    *
    * CONCURRENCY: compact reads the whole family and swaps the whole
    * directory, so it must be SERIALIZED with appends — a slice landing
    * between the read and the publish would be silently dropped by the
    * swap. The serial order is PER FAMILY: the nightly cadence
    * ([[Nightly.runDay]]) runs each store's append → re-stamp → compact
    * in that order, while different stores — and the families of one
    * store, which share no directory — run concurrently
    * ([[concurrently]]). That is the deployment contract; the
    * whole-directory swap is kept (over a slices-≤-upTo partial swap)
    * because it is the only layout change readers observe atomically —
    * a partial swap can expose a merged slice NEXT TO its unmerged
    * sources mid-crash, double-counting summed counters (span_index).
    * The trade is the usual LSM one: a merged day can no longer be
    * RESTATED slice-wise (its rows lost their day identity) — compact
    * behind the restatement horizon. */
  private[graft] def compactSlices(spark: SparkSession, path: String,
      partCol: String, upTo: Long, canon: DataFrame => DataFrame,
      sliceKey: Option[String]): Boolean = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery: restore a family stranded mid-publish (target gone,
    // data parked under _<name>.old) so the retry reads the old slices
    graft.sources.Export.restoreStranded(fs, target): Unit
    // a missing manifest is a half-built store (crash between the
    // initial family write and its first stamp) — compacting it would
    // launder unstamped data into a published layout
    if (!fs.exists(new Path(manifestPath(path)))) noManifest(path)
    val raw = Tables.readParquet(spark, path)
    // distinct slice labels, never index rows — the bounded collect
    val nMerge = raw.select(partCol).distinct()
      .filter(col(partCol) <= upTo).count()
    if (nMerge <= 1) false
    else {
      val merged = canon(raw.filter(col(partCol) <= upTo))
        .withColumn(partCol, lit(upTo))
      val keep = raw.filter(col(partCol) > upTo)
        .withColumn(partCol, col(partCol).cast("long"))
      val tmp = new Path(target.getParent, "_" + target.getName + ".compact")
      writeSlices(merged.unionByName(keep), tmp.toString, partCol, sliceKey)
      // the canonical digest is invariant under compaction, so the
      // manifest is valid for the new layout — copy it INTO the staged
      // directory so the publish swap carries it atomically (underscore
      // prefix: parquet readers ignore it as a data file)
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(manifestPath(path)),
        fs, new Path(manifestPath(tmp.toString)), false,
        spark.sparkContext.hadoopConfiguration): Unit
      graft.sources.Export.publish(fs, tmp, target)
      true
    }
  }

  /** Whether a family directory exists without its `_graft_manifest.json`
    * — a HALF-BUILT family (a crash between its initial write and its
    * first stamp; compaction's publish carries the manifest, so it cannot
    * leave this state). An FS existence check, no Spark job. */
  private[graft] def manifestMissing(spark: SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(path)) && !fs.exists(p)
  }

  /** The slice labels present under a log-structured family — parsed
    * from the hive directory names (`partCol=N/`), an O(directories) FS
    * listing that schedules NO Spark job. This is the cadence policy's
    * whole input ([[SliceLog.compactIfNeeded]]): deciding whether to
    * compact must stay free on the 364 nights it answers "no". */
  private[graft] def sliceDays(spark: SparkSession, path: String,
      partCol: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath.getName.stripPrefix(partCol + "=").toLong)
  }

  /** Run independent store steps concurrently; their results come back in
    * step order. Each call makes its own fixed pool, one thread per step,
    * and its threads start on the calling thread, so every step inherits
    * the caller's SparkContext local properties (job group, scheduler
    * pool) and active session, both `InheritableThreadLocal`s — and a
    * step may call this again without waiting on a shared pool. Every
    * step finishes before this returns or throws (no write is still
    * running when the caller sees a failure); the first failing step's
    * own exception is then rethrown. */
  private[graft] def concurrently[A](steps: Seq[() => A]): Seq[A] = {
    import java.util.concurrent.{ExecutionException, Executors}
    val pool = Executors.newFixedThreadPool(steps.size max 1)
    try {
      val running = steps.map(step => pool.submit[A](() => step()))
      running.map(f => scala.util.Try(f.get())).map {
        case scala.util.Failure(e: ExecutionException) => throw e.getCause
        case done => done.get
      }
    } finally pool.shutdown()
  }

  /** [[readVerified]] over a canonical view: verifies the digest of
    * `canon` of the rows as read (see [[refreshManifest]]) and hands back
    * the RAW rows, partition columns included, for the caller's view
    * derivation. This is the one verified read: every [[SliceLog.read]]
    * and every [[readVerified]] lands here.
    *
    * The frame reads exactly the files it verified
    * ([[graft.sources.Tables.pinned]]), so a cache kept over an earlier
    * snapshot of the family can never answer it: after an append a
    * consumer's cached reduction is recomputed over the new files, and a
    * re-read of an unchanged snapshot still hits its cache.
    *
    * VERIFY ONCE PER SNAPSHOT. The params handshake ([[requireParams]])
    * runs on every read. The digest runs only when the returned frame's
    * [[Snapshot]] (the manifest's recorded (n_rows, checksum, params) and
    * the sorted (path, length, modification time) of every data file the
    * frame scans, taken from its own file index, no second listing)
    * differs from the last snapshot verified at `path`. Only a digest
    * that matched records its snapshot, so a failed read records nothing
    * and the same read retried fails again. An append, a restatement
    * (new part files), a compaction publish or a re-stamp changes the
    * listing or the manifest, so the next read verifies again. A frame
    * whose index cannot list its files is verified every time.
    *
    * The one gap: an out-of-band rewrite that keeps a file's length and
    * modification time, made in this JVM after a verified read of its
    * snapshot, is not re-checked. */
  private[graft] def readVerifiedCanonical(spark: SparkSession,
      path: String, expectParams: Map[String, String],
      canon: DataFrame => DataFrame): DataFrame = {
    val manifest = requireParams(spark, path, expectParams, "read")
    val raw = Tables.readParquet(spark, path)
    val snapshot = filesOf(raw).map(Snapshot(manifest, _))
    if (!snapshot.contains(verified.get(path))) {
      val want = (manifest._1, manifest._2)
      val got = digest(canon(raw))
      if (got != want)
        sys.error(s"artifact $path failed verification: manifest says " +
          s"(n_rows=${want._1}, checksum=${want._2}), files say " +
          s"(n_rows=${got._1}, checksum=${got._2})")
      snapshot.foreach(verified.put(path, _))
    }
    Tables.pinned(spark, raw)
  }

  /** What one verified read checked: the manifest as parsed and the
    * sorted (path, length, modification time) of the data files. */
  private final case class Snapshot(manifest: (Long, Long, Map[String, String]),
      files: Seq[(String, Long, Long)])

  /** The last snapshot verified per family path — one entry per path,
    * replaced by each verifying read, so a long-lived maintainer's memo
    * stays as large as its set of families. */
  private val verified =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  /** The data files `df` scans, from its one file index, or None when the
    * frame is not a single listed file relation. */
  private def filesOf(df: DataFrame): Option[Seq[(String, Long, Long)]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation, PartitioningAwareFileIndex}
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    } match {
      case Seq(index: PartitioningAwareFileIndex) =>
        Some(index.allFiles().map(f =>
          (f.getPath.toString, f.getLen, f.getModificationTime)).sorted)
      case _ => None
    }
  }

  /** The manifest, parsed: (n_rows, checksum, params), or None when the
    * family has no manifest. The one reader of the manifest format. */
  private def readManifest(spark: SparkSession,
      path: String): Option[(Long, Long, Map[String, String])] = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.trim match {
        case manifestRe(n, c, ps) => Some((n.toLong, c.toLong,
          Option(ps).toSeq.flatMap(s => paramRe.findAllMatchIn(s)
            .map(m => m.group(1) -> m.group(2))).toMap))
        case other =>
          sys.error(s"unparseable artifact manifest at $path: $other")
      }
    }
  }

  /** The manifest's recorded params, or None when no manifest exists. */
  private[graft] def manifestParams(spark: SparkSession,
      path: String): Option[Map[String, String]] =
    readManifest(spark, path).map(_._3)

  /** The params HANDSHAKE every verified read, append and re-stamp runs
    * before touching a family: the manifest must exist (a family without
    * one is half-built, and stamping it would bless unverified rows) and,
    * when `want` is non-empty, record exactly `want` (re-stamping writes
    * `want`, so an unchecked re-stamp would relabel rows built at another
    * geometry, and a read would reinterpret them). Fails with one line
    * naming both sides and the fix; nothing is written. `op` names the
    * operation. Returns the manifest: (n_rows, checksum, params). */
  private[graft] def requireParams(spark: SparkSession, path: String,
      want: Map[String, String], op: String): (Long, Long, Map[String, String]) = {
    def show(ps: Map[String, String]) =
      ps.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")")
    val manifest = readManifest(spark, path).getOrElse(noManifest(path))
    val rec = manifest._3
    if (want.nonEmpty && rec != want)
      sys.error(s"artifact $path geometry mismatch: $op expects ${show(want)}" +
        ", manifest records " +
        (if (rec.isEmpty) "no params (legacy manifest)" else show(rec)) +
        "; rebuild the family")
    manifest
  }

  /** A family directory without a manifest is half-built: fail naming
    * the fix. */
  private[graft] def noManifest(path: String): Nothing =
    sys.error(s"artifact $path has no manifest — store half-built; " +
      "rebuild the family")

  private def manifestPath(path: String) = s"$path/_graft_manifest.json"

  /** Param keys/values are interpolated into the manifest JSON verbatim
    * and parsed back by regex, so they are restricted to a charset that
    * can never break either side (no quotes, braces, backslashes,
    * whitespace). Enforced at WRITE time: a param that would produce a
    * manifest the reader rejects as unparseable must fail the build, not
    * the read. */
  private val paramCharsRe = """[A-Za-z0-9_.\-]+""".r

  /** The same safe-charset rule for any caller-supplied token that gets
    * spliced into a SQL/expr string (probe keys, slice names): a quote or
    * brace in the token would break the plan or silently change the list.
    * Fail the call, not the parse. */
  private[graft] def requireSafeToken(what: String, v: String): Unit =
    if (!paramCharsRe.matches(v))
      sys.error(s"$what ('$v') must match [A-Za-z0-9_.-]+ (it is " +
        "interpolated into a query string)")

  private[graft] def writeManifest(spark: SparkSession, path: String,
      nRows: Long, checksum: Long,
      params: Map[String, String] = Map.empty): Unit = {
    params.foreach { case (k, v) =>
      if (!paramCharsRe.matches(k) || !paramCharsRe.matches(v))
        sys.error(s"artifact manifest param ($k=$v) for $path: keys and " +
          "values must match [A-Za-z0-9_.-]+ (they are interpolated into " +
          "the manifest JSON and parsed back by regex)")
    }
    val p = new org.apache.hadoop.fs.Path(manifestPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paramsJson =
      if (params.isEmpty) ""
      else params.toSeq.sorted
        .map { case (k, v) => s""""$k":"$v"""" }
        .mkString(""","params":{""", ",", "}")
    val out = fs.create(p, true)
    try out.write(
      s"""{"n_rows":$nRows,"checksum":$checksum$paramsJson}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  private val manifestRe =
    """\{"n_rows":(-?\d+),"checksum":(-?\d+)(?:,"params":\{(.*)\})?\}""".r
  private val paramRe = """"([^"]+)":"([^"]*)"""".r

  /** Manifest-verified artifact read: recompute (n_rows, checksum) from
    * the files and compare before handing the frame out — ONE narrow
    * O(artifact) pass, no shuffle; skipping it would let a lost part file
    * read as a clean smaller pair set. The pass runs once per snapshot;
    * [[readVerifiedCanonical]] states that contract and its one gap.
    * `expectParams` (when non-empty) must be exactly the params the
    * manifest records ([[requireParams]])
    * — a store built at one sketch geometry read under another is a
    * silent wrong-answer path, so the mismatch (or a legacy manifest
    * recording no params at all) fails fast naming both sides. */
  def readVerified(spark: SparkSession, path: String,
      expectParams: Map[String, String] = Map.empty): DataFrame =
    readVerifiedCanonical(spark, path, expectParams, identity)

  /** Write the three candidate pair sets, one generator job at a time;
    * each manifest records its generator's build geometry
    * ([[pairParams]]). Each generator's caches are released before the
    * next one starts ([[writeArtifact]]), which caps peak memory at one
    * generator's caches. */
  def writePairs(spark: SparkSession, dir: String, root: String): Unit =
    PairMethods.foreach { m =>
      writeArtifact(spark, generator(spark, dir, m), s"$root/pairs_$m",
        "doc_a", pairParams(m))
    }

  /** Write C18's component labels (one iterative job + one write); the
    * loop's caches are released with the write. */
  def writeComponents(spark: SparkSession, dir: String, root: String): Unit =
    writeArtifact(spark, DedupOps.dedupComponents(spark, dir),
      s"$root/components", "doc_id", componentParams)

  /** Full artifact build — the once-a-day indexing job. */
  def write(spark: SparkSession, dir: String, root: String): Unit = {
    writePairs(spark, dir, root)
    writeComponents(spark, dir, root)
  }

  def pairs(spark: SparkSession, root: String, method: String): DataFrame =
    readVerified(spark, s"$root/pairs_$method", pairParams(method))

  def components(spark: SparkSession, root: String): DataFrame =
    readVerified(spark, s"$root/components", componentParams)

  // ---- artifact-fed reports (byte-equal to the inline plans, ArtifactSpec)

  /** C75 matrix over persisted pair sets — O(pairs), no generator caches. */
  def agreement(spark: SparkSession, root: String): DataFrame =
    DedupOps.agreementOf(
      pairs(spark, root, "minhash_lsh"),
      pairs(spark, root, "ngram_jaccard"),
      pairs(spark, root, "simhash_band"))

  /** C39 roll-up over persisted component labels — O(docs). */
  def clusterSizes(spark: SparkSession, root: String): DataFrame =
    DedupOps.clusterSizesOf(components(spark, root))

  /** C59 keeper selection over persisted component labels. */
  def canonical(spark: SparkSession, dir: String, root: String): DataFrame =
    DedupOps.canonicalFrom(spark, dir, components(spark, root))

  /** C82 waterfall over persisted component labels; the artifact stands in
    * for the inline form's kept component relation (both consumers
    * re-read tiny parquet). */
  def funnel(spark: SparkSession, dir: String, root: String): DataFrame =
    DedupOps.funnelFrom(spark, dir, components(spark, root))

  /** Delete a local directory tree, deepest paths first; a missing root
    * is a no-op. */
  private[graft] def deleteRoot(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f): Unit))
  }

  /** Staged roots live until JVM exit: the registered queries RETURN a
    * lazy plan over the staged files, so the root must outlive this call
    * (the action runs later, in Verify/Bench), but a long-running session
    * that re-stages per call (bench runs each registered query four
    * times) must not leak temp directories forever. */
  private val stagedRoots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagedRoots.forEach { r =>
        try deleteRoot(r)
        catch { case _: Throwable => () } // best-effort; exit anyway
      }))
  }

  /** One staged store: its root, built into a fresh temp directory on
    * first use (a failed build is retried by the next use). */
  private final class Staged(build: String => Unit) {
    lazy val root: String = {
      val r = java.nio.file.Files.createTempDirectory("graft-dedup-artifacts-")
        .toString
      stagedRoots.add(r)
      build(r)
      r
    }
  }

  private val staging = new java.util.concurrent.ConcurrentHashMap[String, Staged]()

  /** Build-once memoization (round 8), the one staging memo of every
    * store: the store under `key` is built ONCE per JVM by `build` (which
    * writes it into the root it is given) and shared by every consumer —
    * `q_dedup_agreement`, `q_dedup_agreement_samesource` and
    * `q_dedup_funnel` read the same staged pair and component files,
    * exactly as the production once-a-day indexing job feeds every
    * downstream report. Re-staging identical artifacts per
    * registered-query CALL (the round-7 shape) charged each consumer the
    * full generator fleet; the build cost is now paid once per session
    * and measured on its own in ScaleProbe's artifact probes, while the
    * registered queries measure what a deployment's consumers actually
    * run: an O(pairs)/O(docs) manifest-verified read. Keys carry the
    * source dir, so inflated scale-sweep dirs stage independently;
    * results are unaffected (byte-equality vs the inline plans stays
    * pinned in ArtifactSpec). Builds of different keys run concurrently;
    * a second caller of a key waits for its build. */
  private[operators] def staged(key: String)(build: String => Unit): String =
    staging.computeIfAbsent(key, _ => new Staged(build)).root

  private def pairsRoot(spark: SparkSession, dir: String): String =
    staged(s"pairs:$dir")(writePairs(spark, dir, _))

  private def componentsRoot(spark: SparkSession, dir: String): String =
    staged(s"components:$dir")(writeComponents(spark, dir, _))

  /** Force the per-(dir, JVM) pair/component staging NOW — [[graft.Bench]]
    * pays store builds in its measured staging phase instead of inside
    * whichever query alphabetically touches the store first (round 14:
    * the driver-bench budget work made staging a first-class phase). */
  private[graft] def stage(spark: SparkSession, dir: String): Unit = {
    pairsRoot(spark, dir): Unit
    componentsRoot(spark, dir): Unit
  }

  /** The registered `q_dedup_agreement`: stage the three pair sets (three
    * SEQUENTIAL generator jobs — peak residency is one generator's caches,
    * reclaimed between jobs; once per dir, see [[pairsRoot]]), then
    * assemble the matrix from the artifacts. The matrix action touches
    * only O(pairs) parquet: ArtifactSpec pins zero InMemoryTableScan in
    * its plan, closing the round-6 triple-cache-residency finding. Oracle
    * unchanged (DuckDB recomputes the generators inline — hash equality
    * across the staging round-trip is the correctness pin). */
  def agreementStaged(spark: SparkSession, dir: String): DataFrame =
    agreement(spark, pairsRoot(spark, dir))

  /** The registered `q_dedup_agreement_samesource` (C75b): the matrix over
    * the SAME staged pair sets, restricted to same-source pairs so all
    * three cells share C4's candidate domain —
    * [[DedupOps.dedupAgreementSameSource]]'s staged twin. */
  def agreementSameSourceStaged(spark: SparkSession, dir: String): DataFrame = {
    val root = pairsRoot(spark, dir)
    val src = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "source")
    DedupOps.agreementOf(
      DedupOps.sameSourceOnly(pairs(spark, root, "minhash_lsh"), src),
      pairs(spark, root, "ngram_jaccard").select("doc_a", "doc_b"),
      DedupOps.sameSourceOnly(pairs(spark, root, "simhash_band"), src))
  }

  /** The registered `q_dedup_funnel`: C18's labels staged by their own
    * job (once per dir, see [[componentsRoot]]), funnel assembled from the
    * artifact — the composed action holds at most the semantic stage's
    * caches instead of components + semantic together. */
  def funnelStaged(spark: SparkSession, dir: String): DataFrame =
    funnel(spark, dir, componentsRoot(spark, dir))

  /** The registered `q_dedup_pair_precision` (C89): exact-Jaccard
    * verification over the SAME staged pair sets the agreement matrix
    * reads — the verification action holds only the gram relation's cache,
    * never a generator's. */
  def pairPrecisionStaged(spark: SparkSession, dir: String): DataFrame = {
    val root = pairsRoot(spark, dir)
    DedupOps.pairPrecisionOf(spark, dir,
      pairs(spark, root, "minhash_lsh"),
      pairs(spark, root, "ngram_jaccard").select("doc_a", "doc_b"),
      pairs(spark, root, "simhash_band"))
  }

  /** The registered `q_dedup_pair_degree` (C105): the hub-doc degree
    * histogram over the SAME staged pair sets — an O(pairs) artifact
    * read, one doc-keyed count, a 6-cell per-method rollup; no text, no
    * signatures, no generator job. */
  def pairDegreeStaged(spark: SparkSession, dir: String): DataFrame = {
    val root = pairsRoot(spark, dir)
    DedupOps.pairDegreeOf(
      pairs(spark, root, "minhash_lsh").select("doc_a", "doc_b"),
      pairs(spark, root, "ngram_jaccard").select("doc_a", "doc_b"),
      pairs(spark, root, "simhash_band").select("doc_a", "doc_b"))
  }
}
