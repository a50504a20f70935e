package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED ANN index store — round 12's E-surface addition, closing
  * the one family that still rebuilt its index in-session per query: C74's
  * serve path recomputed per-vector norms, C13's cell assignment re-ran
  * the corpus × centroid argmax, and C56's codes re-ran the subspace
  * argmins, on EVERY search. At 100 TB an ANN index is built once by the
  * nightly indexing job (the reference's staging-table analog,
  * /root/reference/app/services/etl_service.py:252-293 — state written
  * once, read by every consumer) and every query run READS it; this
  * object writes the four index relations under the
  * `_graft_manifest.json` (n_rows, checksum, params) contract of
  * [[DedupArtifacts]], with the INDEX GEOMETRY as params so a reader
  * expecting a different quantizer/codebook fails fast instead of
  * silently scoring against the wrong index (the round-11 sketch-store
  * contract).
  *
  * Layout under a root (per-vector relations hive-partitioned by
  * `ingest_day` since round 13 — 0 is the initial build, day N's admitted
  * vectors land as their own slice; quantizer relations are the frozen
  * model and stay single artifacts):
  * {{{
  *   flat/           vec_id, label, embedding, n2     (serving snapshot)
  *   ivf_centroids/  cent_id, c_emb, c_n2             (coarse quantizer)
  *   ivf_cells/      vec_id, embedding, n2, cent_id   (cell-major corpus)
  *   pq_codebook/    cent_id, c_emb                   (PQ codewords)
  *   pq_codes/       vec_id, code_0..code_3           (compressed corpus)
  * }}}
  *
  * `flat` persists the PRECOMPUTED norms next to the vectors — the
  * store-fed searches scan zero `embeddings` parquet (plan-pinned in
  * ArtifactSpec): probes and corpus both come off the index, exactly a
  * serving node's working set. `ivf_cells` is the same corpus in
  * CELL-MAJOR layout (repartitioned on cent_id), the layout that lets a
  * deployment's probe read only its nprobe cells' files. The store-fed
  * searches are byte-equal to the inline builds (ArtifactSpec) because
  * the assemblies are the SAME frame-parametric plans
  * ([[EmbeddingOps.bruteforceHits]]/[[EmbeddingOps.ivfSearch]]/
  * [[EmbeddingOps.adcSearch]]) fed persisted relations.
  *
  * Build vs read vs maintenance is measured by ScaleProbe:
  * `ann_index_build` (linear — one assignment pass and one code pass over
  * the corpus), `ann_index_route` (FLAT — a query router boots from the
  * O(k) centroid rows alone, never touching cells), `ann_index_search`
  * (linear at fixed k), `ann_index_append_slice` (FLAT — a fixed
  * constructed day assigned via the frozen quantizer, re-stamp deferred)
  * and `ann_index_append_fixedday` (slice + canonical re-stamp, ≤ linear);
  * gates recorded in SCALING_r13.md. */
object AnnArtifacts {

  import EmbeddingOps.{IvfK, IvfNprobe, PqK, PqSub, PqSubDim, ProbeBatch}

  private def flatParams = Map("family" -> "flat", "dim" -> "64")
  private def centParams(k: Int) =
    Map("family" -> "ivf_centroids", "k" -> k.toString)
  private def cellParams(k: Int) =
    Map("family" -> "ivf_cells", "k" -> k.toString)
  private def cbParams(pqK: Int) =
    Map("family" -> "pq_codebook", "k" -> pqK.toString,
      "sub" -> PqSub.toString, "sub_dim" -> PqSubDim.toString)
  private def codeParams(pqK: Int) =
    Map("family" -> "pq_codes", "k" -> pqK.toString,
      "sub" -> PqSub.toString, "sub_dim" -> PqSubDim.toString)

  /** The three PER-VECTOR relations are LOG-STRUCTURED since round 13
    * (the StreamArtifacts day-slice device applied to the vector index):
    * a [[SliceLog]] hive-partitioned by `ingest_day` (0 = the initial
    * build; day N's admitted vectors land as their own slice). Their
    * canonical view is the raw union without the label — vec ids are
    * disjoint across ingest days (the appendDay contract), so no
    * read-side merge is needed and slices simply add. Quantizer relations
    * are the frozen model and stay single artifacts. */
  private[graft] val VectorFamilies = Seq("flat", "ivf_cells", "pq_codes")

  private def vectorFamilyParams(family: String, k: Int,
      pqK: Int): Map[String, String] = family match {
    case "flat"      => flatParams
    case "ivf_cells" => cellParams(k)
    case "pq_codes"  => codeParams(pqK)
  }

  /** A per-vector family's slice frame for a vector set under a FROZEN
    * quantizer: norms (flat), nearest-centroid assignment (cells),
    * subspace argmin codes (codes) — each an O(vectors) pass, never
    * O(corpus). */
  private def sliceFrame(family: String, v: DataFrame, cents: DataFrame,
      cb: DataFrame): DataFrame = family match {
    case "flat"      => v
    case "ivf_cells" => EmbeddingOps.ivfAssigned(v, cents)
    case "pq_codes"  => EmbeddingOps.pqCodesWide(v, cb)
  }

  /** The per-vector slice log at geometry (k, pqK) — the geometry only
    * matters to the params handshake. Rows co-partition inside a slice on
    * their key: CELL-MAJOR for cells (the layout that lets a probe read
    * only its nprobe cells' files), vec-keyed for flat and codes. */
  private def log(root: String, k: Int, pqK: Int): SliceLog =
    SliceLog(root, "ingest_day", VectorFamilies.map(f => SliceLog.Family(f,
      vectorFamilyParams(f, k, pqK), _.drop("ingest_day"),
      Some(if (f == "ivf_cells") "cent_id" else "vec_id"))))

  /** Build the store from an explicit vector frame and a FROZEN quantizer
    * (centroids + PQ codebook) — the frame-parametric body [[write]] and
    * the append≡rebuild spec share: quantizer relations persist as plain
    * artifacts (they are the frozen model — appends never touch them);
    * the per-vector relations land as the `ingest_day=0` slice under the
    * canonical-digest manifest. The five families build concurrently
    * ([[DedupArtifacts.concurrently]], [[SliceLog.write]]): the
    * quantizers are plans over the vector frame, so cells and codes never
    * read the quantizer files being written. */
  private[graft] def writeFrom(spark: SparkSession, v: DataFrame,
      cents: DataFrame, cb: DataFrame, root: String,
      k: Int = IvfK, pqK: Int = PqK): Unit = {
    DedupArtifacts.concurrently(Seq(
      () => DedupArtifacts.writeArtifact(spark, cents,
        s"$root/ivf_centroids", "cent_id", centParams(k)),
      () => DedupArtifacts.writeArtifact(spark, cb, s"$root/pq_codebook",
        "cent_id", cbParams(pqK)),
      () => log(root, k, pqK).write(spark, f =>
        sliceFrame(f, v, cents, cb).withColumn("ingest_day", lit(0L))))): Unit
  }

  /** The nightly index build: one norm pass (flat), one corpus × O(k)
    * assignment pass (cells), one corpus × O(pqK·sub) code pass (codes);
    * centroid/codebook relations are O(k). The five families build
    * concurrently ([[writeFrom]]). Each artifact manifest records the
    * geometry its rows are only meaningful under. */
  def write(spark: SparkSession, dir: String, root: String,
      k: Int = IvfK, pqK: Int = PqK): Unit = {
    val v = EmbeddingOps.vectors(spark, dir)
    writeFrom(spark, v, EmbeddingOps.ivfCentroids(v, k),
      EmbeddingOps.ivfCentroids(v, pqK).select("cent_id", "c_emb"),
      root, k, pqK)
  }

  /** INCREMENTAL MAINTENANCE (round 13 — the verdict's remaining store
    * gap): day `dayEpoch`'s admitted vectors (vec_id, label, embedding)
    * append to the three per-vector relations, assigned via the
    * PERSISTED FROZEN quantizer — an O(day) norm/assign/code pass plus
    * one slice swap per family, the three concurrently; the standing
    * corpus is never re-read and the quantizer is never retrained (C117's
    * code-usage panel is the report that says when it must be).
    * CONTRACT: an admitted vector is a NEW vector — its id must not
    * already exist in the store (slices add; a restated day replaces its
    * own slice, run-twice ≡ run-once). The quantizer's geometry is
    * checked by its verified reads, the per-vector families' by the
    * log's handshake — all before any slice lands (a missing manifest
    * fails too: a half-built store must not take a wrong-geometry day).
    * `restamp = false` defers the canonical re-stamp (the sketch-store
    * batch device); until the re-stamp, verified readers fail fast —
    * never a silent misread. Append-built ≡ a one-pass rebuild over the
    * union under the SAME frozen quantizer, pinned by manifest equality
    * (ArtifactSpec). */
  def appendDay(spark: SparkSession, root: String, dayEpoch: Long,
      dayVectors: DataFrame, k: Int = IvfK, pqK: Int = PqK,
      restamp: Boolean = true): Unit = {
    val cents = centroids(spark, root, k)
    val cb = pqCodebook(spark, root, pqK)
    val v = dayVectors.select(col("vec_id"), col("label"), col("embedding"),
      expr("graft_norm2(embedding)").as("n2"))
    log(root, k, pqK).append(spark, dayEpoch, sliceFrame(_, v, cents, cb),
      restamp)
  }

  /** The deferred canonical re-stamp for the three per-vector families —
    * one narrow O(index) digest pass each (index bytes, never
    * embeddings), after the params handshake ([[SliceLog.restamp]]): a
    * missing manifest or one recording another k / pqK fails naming both
    * sides and no manifest changes — re-stamping writes the caller's
    * geometry, so unchecked it would relabel a store built at another
    * geometry, or bless a half-built family. */
  def restamp(spark: SparkSession, root: String, k: Int = IvfK,
      pqK: Int = PqK): Unit =
    log(root, k, pqK).restamp(spark)

  /** SLICE COMPACTION for the per-vector relations
    * ([[SliceLog.compact]] — vec ids are disjoint across days, so the
    * canonical merge is the raw union): merge every slice ≤ `upToDay`
    * into one, keeping the CELL-MAJOR layout inside the merged
    * `ivf_cells` slice and the vec-keyed layout for flat/codes. The
    * canonical digest — and with it the manifest — is invariant
    * (spec-pinned); quantizer relations are single artifacts and never
    * compact. Must be serialized with appendDay — [[Nightly.runDay]] is
    * the sequenced cadence. */
  def compact(spark: SparkSession, root: String, upToDay: Long): Unit =
    log(root, IvfK, PqK).compact(spark, upToDay)

  /** The crash-recovery prologue for the per-vector relations
    * ([[SliceLog.recover]]): restores mid-publish strandings, FAILS on a
    * half-built family. Quantizer relations never publish-swap (plain
    * writeArtifact stamps inline), so they need no recovery path. */
  def recover(spark: SparkSession, root: String): Boolean =
    log(root, IvfK, PqK).recover(spark)

  /** The cadence policy for the per-vector relations
    * ([[SliceLog.compactIfNeeded]]). The D40 maintainer invokes this from
    * its foreachBatch epilogue with its batch's min day as the replay
    * horizon — the single-writer cadence that already serializes
    * appends, so the compactSlices concurrency contract holds by
    * construction. */
  def compactIfNeeded(spark: SparkSession, root: String,
      maxSlices: Int = SliceLog.DefaultMaxSlices,
      protectFrom: Long = Long.MaxValue): Boolean =
    log(root, IvfK, PqK).compactIfNeeded(spark, maxSlices, protectFrom)

  // ---- manifest- and geometry-verified readers

  /** The serving snapshot (vec_id, label, embedding, n2) — the union of
    * all ingest-day slices, canonical-digest-verified. */
  def flat(spark: SparkSession, root: String): DataFrame =
    log(root, IvfK, PqK).read(spark, "flat")
      .select("vec_id", "label", "embedding", "n2")

  /** The coarse quantizer, built at `k`. */
  def centroids(spark: SparkSession, root: String,
      k: Int = IvfK): DataFrame =
    DedupArtifacts.readVerified(spark, s"$root/ivf_centroids", centParams(k))
      .select("cent_id", "c_emb", "c_n2")

  /** The cell-major corpus (vec_id, embedding, n2, cent_id), built at `k`. */
  def cells(spark: SparkSession, root: String, k: Int = IvfK): DataFrame =
    log(root, k, PqK).read(spark, "ivf_cells")
      .select("vec_id", "embedding", "n2", "cent_id")

  /** The PQ codebook (cent_id, c_emb), built at `pqK`. */
  def pqCodebook(spark: SparkSession, root: String,
      pqK: Int = PqK): DataFrame =
    DedupArtifacts.readVerified(spark, s"$root/pq_codebook", cbParams(pqK))
      .select("cent_id", "c_emb")

  /** The compressed corpus (vec_id, code_0..code_3), built at `pqK`. */
  def pqCodes(spark: SparkSession, root: String, pqK: Int = PqK): DataFrame =
    log(root, IvfK, pqK).read(spark, "pq_codes")
      .select(col("vec_id") +:
        (0 until PqSub).map(s => col(s"code_$s")): _*)

  // ---- store-fed consumers (byte-equal to the inline builds, ArtifactSpec)

  /** C74 answered FROM THE STORE: probes and corpus both come off the
    * flat index (zero embeddings scans — plan-pinned); only the payload
    * fetch touches `documents`. */
  def annServe(spark: SparkSession, dir: String, root: String,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    EmbeddingOps.serveJoin(spark, dir,
      EmbeddingOps.bruteforceHits(flat(spark, root), probeBatch, probeLo))
  }

  /** C13 answered FROM THE STORE: centroids and cell-major assignments
    * read persisted; probes off the flat index. */
  def annIvf(spark: SparkSession, root: String, k: Int = IvfK,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0,
      nprobe: Int = IvfNprobe): DataFrame = {
    EmbeddingOps.ivfSearch(flat(spark, root), centroids(spark, root, k),
      cells(spark, root, k), probeBatch, probeLo, nprobe)
  }

  /** C56 answered FROM THE STORE: codes and codebook read persisted;
    * probes off the flat index. The search never recomputes a code. */
  def annPqAdc(spark: SparkSession, root: String, pqK: Int = PqK,
      probeBatch: Int = ProbeBatch, probeLo: Int = 0): DataFrame = {
    EmbeddingOps.adcSearch(flat(spark, root), pqCodes(spark, root, pqK),
      pqCodebook(spark, root, pqK), probeBatch, probeLo)
  }

  /** C117's report body over an ARBITRARY wide-code relation. */
  private[graft] def pqCodeUsageOf(codes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stacked = codes.select(explode(array(
        (0 until PqSub).map(s => struct(lit(s.toLong).as("sub_id"),
          col(s"code_$s").as("code"))): _*)).as("sc"))
      .select(col("sc.sub_id").as("sub_id"), col("sc.code").as("code"))
    // the share window runs ABOVE the (sub, code) aggregate — a ≤ sub·k
    // row grid, never the corpus
    stacked.groupBy("sub_id", "code").agg(count(lit(1)).as("n_vecs"))
      .withColumn("share", col("n_vecs").cast("double") /
        sum(col("n_vecs")).over(Window.partitionBy("sub_id")).cast("double"))
      .orderBy("sub_id", "code")
  }

  /** C117: `q_pq_code_usage` — codebook-utilization QA from the PERSISTED
    * codes alone (the index-health panel next to C53's cell balance):
    * per (subspace, codeword) how many vectors compressed onto it and
    * its in-subspace share. A subspace whose mass concentrates on a few
    * codewords has collapsed (quantization error explodes while C55's
    * MSE still averages fine over the corpus) — this is the report that
    * says RETRAIN THE CODEBOOK before recall degrades. Reads O(corpus)
    * 4-int rows, no embeddings, no distance folds. */
  def pqCodeUsage(spark: SparkSession, root: String,
      pqK: Int = PqK): DataFrame = {
    pqCodeUsageOf(pqCodes(spark, root, pqK))
  }

  /** The query router's bootstrap read — what a serving node does at
    * startup and per probe batch WITHOUT touching cells: read the O(k)
    * centroid rows (manifest-verified) and route each probe to its
    * `nprobe` nearest cells. ScaleProbe's `ann_index_route` pins this
    * FLAT in corpus size — the index-read payoff, measured. Probes need
    * (probe_id, embedding). */
  def routeProbes(spark: SparkSession, root: String, probes: DataFrame,
      k: Int = IvfK, nprobe: Int = IvfNprobe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroids(spark, root, k)
    probes.select(col("probe_id"), col("embedding").as("p_emb"),
        expr("graft_norm2(embedding)").as("p_n2"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("cent_id"),
        (expr(EmbeddingOps.dotExpr("p_emb", "c_emb")) /
          (sqrt(col("p_n2")) * sqrt(col("c_n2")))).as("c_cos"))
      .withColumn("prnk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("c_cos").desc, col("cent_id"))))
      .filter(col("prnk") <= nprobe)
      .select("probe_id", "prnk", "cent_id", "c_cos")
  }

  // ---- staged registered queries (the DedupArtifacts memoization: the
  // index is built ONCE per (source dir, JVM) and every consumer reads it,
  // exactly as the nightly indexing job feeds every search)

  private def annRoot(spark: SparkSession, dir: String): String =
    DedupArtifacts.staged(s"ann:$dir")(write(spark, dir, _))

  /** Force the per-(dir, JVM) store staging now — the [[graft.Bench]]
    * measured-staging-phase hook (see [[DedupArtifacts.stage]]). */
  private[graft] def stage(spark: SparkSession, dir: String): Unit =
    annRoot(spark, dir): Unit

  /** The registered `q_ann_serve_store` (C115). Oracle unchanged from
    * C74 (DuckDB recomputes inline — hash equality across the store
    * round-trip is the correctness pin, the C75 precedent). */
  def annServeStaged(spark: SparkSession, dir: String): DataFrame =
    annServe(spark, dir, annRoot(spark, dir))

  /** The registered `q_ann_pq_adc_store` (C116). */
  def annPqAdcStaged(spark: SparkSession, dir: String): DataFrame =
    annPqAdc(spark, annRoot(spark, dir))

  /** The registered `q_pq_code_usage` (C117). */
  def pqCodeUsageStaged(spark: SparkSession, dir: String): DataFrame =
    pqCodeUsage(spark, annRoot(spark, dir))
}
