package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED frozen-model index store for the streaming gates —
  * round 11's E-surface component, INCREMENTALLY MAINTAINED since round
  * 12 (the verdict's nightly cadence: a day's ADMITTED docs append to
  * the standing indexes; nothing re-signatures the standing corpus).
  *
  * The frozen-model gates (D18 incremental dedup, D24 novelty, D34 span
  * masking) each compare a live feed against a STANDING index of the
  * admitted corpus. At 100 TB that index is built ONCE by the admission
  * pipeline (the reference's analog is its keyed MERGE staging table,
  * etl_service.py:252-293) and then MAINTAINED: each night the day's
  * admitted docs are signatured — an O(day) pass, never an O(corpus)
  * rebuild — and appended.
  *
  * Layout: LOG-STRUCTURED day slices. Each family is hive-partitioned by
  * `ingest_day` (0 = the initial build; day N's append lands as its own
  * `ingest_day=N/` slice via [[graft.operators.Etl.replaceSlice]] — a
  * restated day replaces its slice, run-twice ≡ run-once), and the
  * persisted rows are the RAW per-slice relations:
  * {{{
  *   incr_hash/   h, doc_id                       (exact-dup occurrences)
  *   incr_sigs/   band, sig, doc_id               (LSH signature rows)
  *   gram_index/  gram_hash BINARY(16)            (per-slice distinct)
  *   span_index/  span_hash, n_occ, n_docs, first_doc, last_doc
  * }}}
  * Readers derive the gate views by a per-read merge (the LSM shape —
  * read-side compaction): min-partner per hash, hot-bucket drop over
  * CURRENT totals (a bucket that went hot through appends drops
  * correctly, which a frozen cold view could not do), distinct grams,
  * span counters summed across slices (doc sets are disjoint across
  * ingest days, so per-slice distinct-doc counts ADD exactly).
  *
  * The store is a [[SliceLog]] of these four families: it declares
  * them and delegates append, re-stamp, compaction, recovery and the
  * verified read. Manifest contract: the digest is over the CANONICAL
  * view (each family's `canon` drops `ingest_day` and merges), so an
  * append-built store is MANIFEST-EQUAL to a single-pass rebuild over
  * the union corpus — append ≡ rebuild pinned by manifest equality
  * (ArtifactSpec),
  * exactly the sketch store's contract. The hot append path
  * (`restamp = false`) is O(day): slice signatures + one slice swap; the
  * nightly re-stamp is one narrow O(index) digest pass — index bytes,
  * never corpus text. ScaleProbe measures all four curves
  * (`stream_index_build` linear, `stream_index_read` linear,
  * `stream_index_append_slice` FLAT at a fixed constructed day — the
  * log-structured payoff — and `stream_index_append_fixedday` = slice +
  * re-stamp, ≤ linear; the gap between the append curves is the re-stamp
  * cost the per-batch re-stamp policy amortizes) plus
  * `stream_index_compact` (the [[compact]] nightly job — an O(index)
  * canonical rewrite, linear); gates recorded in SCALING_r13.md.
  *
  * The params map records the STANDING-CORPUS SPLIT the indexes were
  * built against (doc_id % IncrMod ≠ IncrRem — the frozen-model
  * convention every gate spec pins): a reader expecting a different
  * split fails fast instead of silently scoring a feed against the
  * wrong-universe index. Readers hand back exactly the frames
  * [[graft.streaming.DedupStream.incremental]] /
  * [[graft.streaming.CorpusStream.noveltyGate]] /
  * [[graft.streaming.MaskStream.plan]] take, so a replay day runs off
  * the store unchanged (ReplaySpec pins artifact-fed ≡ in-session).
  *
  * The gram family's params also record `schema_version=2`: v2 persists
  * `gram_hash` as the 16-byte binary md5 the in-session gram plans key
  * on, where v1 stored it as 32-char lowercase hex. A v1 family records
  * no `schema_version`, so every verified reader, [[appendDay]] and
  * [[restamp]] refuse it before reading or writing a byte; the fix is a
  * rebuild ([[write]]), never a conversion. */
object StreamArtifacts {

  val Families: Seq[String] =
    Seq("incr_hash", "incr_sigs", "gram_index", "span_index")

  private def splitParams(family: String) = Map(
    "family" -> family,
    "incr_mod" -> graft.sources.Feeds.IncrMod.toString,
    "incr_rem" -> graft.sources.Feeds.IncrRem.toString)

  /** The gram family's persisted key encoding: 2 = binary md5. */
  private val GramSchemaVersion = "2"

  // D34's span index is frozen over the WHOLE corpus (the span universe
  // masking is planned against), not the incremental split
  private def familyParams(family: String): Map[String, String] =
    family match {
      case "span_index" => Map("family" -> "span_index")
      case "gram_index" =>
        splitParams(family) + ("schema_version" -> GramSchemaVersion)
      case _ => splitParams(family)
    }

  // ---- the raw per-slice relations (an O(slice) signature pass each)

  private def hashRows(docs: DataFrame): DataFrame =
    docs.select(md5(lower(trim(col("text"))).cast("binary")).as("h"),
      col("doc_id"))

  private def sigRows(spark: SparkSession, docs: DataFrame): DataFrame =
    DedupOps.minhashSigsOf(spark, docs)
      .select("band", "sig", "doc_id")

  // persisted as the 16-byte binary md5 the in-session gram plans key on
  // (schema_version=2), so no read or write converts the key
  private def gramRows(docs: DataFrame): DataFrame =
    graft.operators.Pipeline.gramHashRows(docs)

  private def spanRows(spark: SparkSession, docs: DataFrame): DataFrame = {
    DedupOps.anchoredSpans(docs)
      .select(col("doc_id"), col("span_hash"))
      .groupBy("span_hash")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
  }

  // ---- the canonical (read-side-merged) views the manifests digest

  private def canon(family: String): DataFrame => DataFrame = family match {
    case "incr_hash" => raw =>
      raw.groupBy("h").agg(min("doc_id").as("doc_id"))
    case "incr_sigs" => raw => raw // one row per (doc, band) — no merge
    case "gram_index" => raw => raw.distinct()
    case "span_index" => raw =>
      raw.groupBy("span_hash")
        .agg(sum("n_occ").as("n_occ"), sum("n_docs").as("n_docs"),
          min("first_doc").as("first_doc"), max("last_doc").as("last_doc"))
  }

  private def slices(family: String, spark: SparkSession,
      docs: DataFrame): DataFrame = family match {
    case "incr_hash"  => hashRows(docs)
    case "incr_sigs"  => sigRows(spark, docs)
    case "gram_index" => gramRows(docs)
    case "span_index" => spanRows(spark, docs)
  }

  /** The store's slice log: every family drops `ingest_day` before its
    * canonical merge, so an append-built family digests as a rebuild. */
  private def log(root: String): SliceLog = SliceLog(root, "ingest_day",
    Families.map(f => SliceLog.Family(f, familyParams(f),
      raw => canon(f)(raw.drop("ingest_day")), None)))

  /** Build the store from explicit doc frames — `standingDocs` feeds the
    * split-scoped families, `spanDocs` the whole-corpus span universe
    * (the D34 convention). Everything lands as `ingest_day=0`; each
    * family's manifest digests the canonical view. The four families
    * share no directory and read only the doc frames, so they build
    * concurrently ([[SliceLog.write]]); the session cache is cleared
    * once, after all four. */
  def writeFrom(spark: SparkSession, standingDocs: DataFrame,
      spanDocs: DataFrame, root: String): Unit = {
    log(root).write(spark, f =>
      slices(f, spark, if (f == "span_index") spanDocs else standingDocs)
        .withColumn("ingest_day", lit(0L)))
    spark.catalog.clearCache()
  }

  /** Build the store from a source dir: standing split for
    * hash/sigs/grams, the whole corpus for spans; the four families build
    * concurrently ([[writeFrom]]). */
  def write(spark: SparkSession, dir: String, root: String): Unit = {
    val docs = graft.sources.Tables.documents(spark, dir)
    writeFrom(spark,
      docs.filter(col("doc_id") % graft.sources.Feeds.IncrMod
        =!= graft.sources.Feeds.IncrRem),
      docs, root)
  }

  /** The nightly cadence: day `dayEpoch`'s ADMITTED docs (doc_id, text,
    * source) append to all four families — an O(day) signature pass plus
    * one slice swap per family, after the params handshake over all four
    * ([[SliceLog.append]]); the standing corpus is never re-read.
    * CONTRACT: an admitted doc is a NEW doc — its id must not already
    * exist in the store (the span counters sum per-slice distinct-doc
    * counts, which is exact only while ingest days partition the doc
    * universe; a re-ingested doc belongs in its original day's restated
    * slice, not a new day). `restamp = false` defers the canonical
    * re-stamp to one [[restamp]] per batch. */
  def appendDay(spark: SparkSession, root: String, dayEpoch: Long,
      dayDocs: DataFrame, restamp: Boolean = true): Unit =
    log(root).append(spark, dayEpoch, slices(_, spark, dayDocs), restamp)

  /** The deferred canonical re-stamp for all four families — one narrow
    * O(index) digest pass each (index bytes, never corpus text), after
    * the params handshake ([[SliceLog.restamp]]): re-stamping writes
    * [[familyParams]], so a v1 gram family re-stamped unchecked would
    * carry `schema_version=2` over hex rows, and every gram would then
    * read novel. */
  def restamp(spark: SparkSession, root: String): Unit =
    log(root).restamp(spark)

  /** SLICE COMPACTION (round 13 — the verdict's unbounded-slice-count
    * fix): merge every day slice with `ingest_day ≤ upToDay` into ONE
    * slice holding the CANONICAL merge of their rows (min-partner per
    * hash, distinct grams, summed span counters — each family's `canon`
    * is associative, so the canonical view and its manifest are
    * invariant). After a year of appends this is what keeps the per-read
    * merge bounded: it re-merges O(compactions-since) slices, not 365.
    * See [[SliceLog.compact]] for the publish, crash and serialization
    * contract. */
  def compact(spark: SparkSession, root: String, upToDay: Long): Unit =
    log(root).compact(spark, upToDay)

  /** The crash-recovery prologue ([[SliceLog.recover]]): restores a
    * family stranded mid-publish, FAILS on a half-built one.
    * [[Nightly.runDay]] runs this first. */
  def recover(spark: SparkSession, root: String): Boolean =
    log(root).recover(spark)

  /** Compact when the log has grown past `maxSlices` day slices, merging
    * only slices below the `protectFrom` replay horizon — the cadence
    * policy ([[SliceLog.compactIfNeeded]]). */
  def compactIfNeeded(spark: SparkSession, root: String,
      maxSlices: Int = SliceLog.DefaultMaxSlices,
      protectFrom: Long = Long.MaxValue): Boolean =
    log(root).compactIfNeeded(spark, maxSlices, protectFrom)

  // every reader merges the slices itself, so the label is dropped
  private def rawVerified(spark: SparkSession, root: String,
      family: String): DataFrame =
    log(root).read(spark, family).drop("ingest_day")

  /** D18's exact-dup index (h, exact_partner), manifest- and
    * split-verified; the partner is the min admitted doc per hash across
    * all slices. */
  def incrHash(spark: SparkSession, root: String): DataFrame =
    rawVerified(spark, root, "incr_hash")
      .groupBy("h").agg(min("doc_id").as("exact_partner"))

  /** D18's cold LSH signature index (band, k1, k2, k3, partner), manifest-
    * and split-verified. The hot-bucket drop runs over CURRENT totals, so a
    * bucket that crossed the cap through appends drops exactly as a
    * rebuild would drop it. The PERSISTED rows keep the formatted
    * "k1:k2:k3" sig (the store schema is a cross-round artifact contract);
    * this read view splits them back to the raw long minima — the
    * representation the batch index and triage key on since round 16
    * (':'-joined decimal formatting is injective, so the conversion is
    * exact both ways). */
  def incrSigs(spark: SparkSession, root: String): DataFrame =
    DedupOps.dropHotBuckets(rawVerified(spark, root, "incr_sigs"),
        Seq("band", "sig"))
      .select(col("band"),
        split(col("sig"), ":").getItem(0).cast("long").as("k1"),
        split(col("sig"), ":").getItem(1).cast("long").as("k2"),
        split(col("sig"), ":").getItem(2).cast("long").as("k3"),
        col("doc_id").as("partner"))

  /** D24's standing gram set (16-byte binary `gram_hash`, the key the
    * in-session gram plans join on), manifest-, split- and
    * schema-verified. */
  def gramIndex(spark: SparkSession, root: String): DataFrame =
    rawVerified(spark, root, "gram_index")
      .distinct().withColumn("known", lit(1L))

  /** D34's duplicate-span index, manifest-verified: spans whose merged
    * distinct-doc count reaches 2 — including spans seen once in the
    * standing corpus and once in an appended day, which neither slice
    * alone could call a duplicate (the reason the store keeps counters,
    * not the filtered set). */
  def spanIndex(spark: SparkSession, root: String): DataFrame =
    rawVerified(spark, root, "span_index")
      .groupBy("span_hash")
      .agg(sum("n_docs").as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("span_hash")

  /** C118: `q_stream_index_stats` — the gate store's HEALTH PANEL, from
    * the persisted index alone (the C117 code-usage device applied to the
    * streaming gates): per family, the raw rows on disk (`n_rows`), the
    * distinct lookup keys (`n_keys`), and the rows the derived gate view
    * actually serves (`n_gate` — post hot-bucket drop for the LSH sigs,
    * the ≥ 2-doc duplicate spans for the span index). This is the report
    * an operator reads before pointing tomorrow's feed at the store: a
    * gate/keys ratio collapsing toward zero on incr_sigs means the hot
    * cap is swallowing buckets (retune the banding); span n_gate
    * exploding against n_keys means the corpus is boilerplate-heavy.
    * Reads O(index) bytes, ZERO corpus scans (plan-pinned in
    * ArtifactSpec); the only joins are 1-row aggregate cross-joins. */
  def streamIndexStats(spark: SparkSession, root: String): DataFrame = {
    val hash = rawVerified(spark, root, "incr_hash")
    val sigs = rawVerified(spark, root, "incr_sigs")
    val grams = rawVerified(spark, root, "gram_index")
    val spans = rawVerified(spark, root, "span_index")
    val hashStats = hash
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("h")).as("n_keys"))
      .select(lit("incr_hash").as("family"), col("n_rows"), col("n_keys"),
        col("n_keys").as("n_gate"))
    val sigStats = sigs
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("band"), col("sig")).as("n_keys"))
      .crossJoin(DedupOps.dropHotBuckets(sigs, Seq("band", "sig"))
        .agg(count(lit(1)).as("n_gate")))
      .select(lit("incr_sigs").as("family"), col("n_rows"), col("n_keys"),
        col("n_gate"))
    val gramStats = grams
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("gram_hash")).as("n_keys"))
      .select(lit("gram_index").as("family"), col("n_rows"), col("n_keys"),
        col("n_keys").as("n_gate"))
    val spanStats = spans
      .groupBy("span_hash").agg(sum("n_docs").as("n_docs"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_gate"))
      .crossJoin(spans.agg(count(lit(1)).as("n_rows")))
      .select(lit("span_index").as("family"), col("n_rows"), col("n_keys"),
        col("n_gate"))
    hashStats.unionByName(sigStats).unionByName(gramStats)
      .unionByName(spanStats)
      .orderBy("family")
  }

  // ---- staged registered query (the DedupArtifacts memoization: the
  // store is built ONCE per (source dir, JVM); the registered action
  // measures the deployment READ — the C75/C115 precedent)

  private val statsRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def statsRoot(spark: SparkSession, dir: String): String =
    statsRoots.computeIfAbsent(dir, { _ =>
      val root = DedupArtifacts.stagingRoot()
      write(spark, dir, root)
      root
    })

  /** Force the per-(dir, JVM) store staging now — the [[graft.Bench]]
    * measured-staging-phase hook (see [[DedupArtifacts.stage]]). */
  private[graft] def stage(spark: SparkSession, dir: String): Unit =
    statsRoot(spark, dir): Unit

  /** The registered `q_stream_index_stats` (C118). */
  def streamIndexStatsStaged(spark: SparkSession, dir: String): DataFrame =
    streamIndexStats(spark, statsRoot(spark, dir))

  /** DuckDB twin: rebuilds every family's signatures relationally from
    * `documents` under the standing split (the store staging is a
    * single-pass day-0 build, so raw row counts are deterministic). */
  val streamIndexStatsSql: String = {
    val mod = graft.sources.Feeds.IncrMod
    val rem = graft.sources.Feeds.IncrRem
    val memGram = Pipeline.MemGram
    val gramCat = (1 to memGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    val spanTok = DedupOps.SpanTok
    val spanCat = (1 to spanTok)
      .map(j => s"toks[CAST(p + $j AS INT)]").mkString(" || ' ' || ")
    val anchor = s"""(list_reduce(list_transform(
        range(1, length('anc|' || toks[CAST(p + 1 AS INT)]) + 1), i ->
          CAST(ascii(substr('anc|' || toks[CAST(p + 1 AS INT)],
                            CAST(i AS INT), 1)) AS BIGINT)),
        (acc, c) -> (acc * 31 + c) % 2147483647)) % ${DedupOps.AnchorMod} = 0"""
    s"""
    WITH standing AS (
      SELECT * FROM documents WHERE doc_id % $mod <> $rem),
    ${DedupOps.minhashSigsCtesOver("standing", "d", "hh", "sigs")},
    ${DedupOps.coldSigsCtes},
    grams AS (
      SELECT DISTINCT md5(gram) AS gram_hash FROM (
        SELECT unnest(list_transform(range(0, len(toks) - ${memGram - 1}),
          i -> $gramCat)) AS gram
        FROM (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM standing WHERE length(trim(text)) > 0)
        WHERE len(toks) >= $memGram)),
    spn AS (
      SELECT md5(span) AS span_hash, COUNT(DISTINCT doc_id) AS n_docs FROM (
        SELECT doc_id, unnest(list_transform(
          list_filter(range(0, len(toks) - ${spanTok - 1}), p -> $anchor),
          p -> $spanCat)) AS span
        FROM (SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM documents WHERE length(trim(text)) > 0)
        WHERE len(toks) >= $spanTok)
      GROUP BY 1)
    SELECT family, n_rows, n_keys, n_gate FROM (
      SELECT 'incr_hash' AS family,
        (SELECT COUNT(*) FROM standing) AS n_rows,
        (SELECT COUNT(DISTINCT md5(lower(trim(text)))) FROM standing) AS n_keys,
        (SELECT COUNT(DISTINCT md5(lower(trim(text)))) FROM standing) AS n_gate
      UNION ALL
      SELECT 'incr_sigs',
        (SELECT COUNT(*) FROM sigs),
        (SELECT COUNT(*) FROM (SELECT DISTINCT band, sig FROM sigs)),
        (SELECT COUNT(*) FROM cold)
      UNION ALL
      SELECT 'gram_index',
        (SELECT COUNT(*) FROM grams),
        (SELECT COUNT(*) FROM grams),
        (SELECT COUNT(*) FROM grams)
      UNION ALL
      SELECT 'span_index',
        (SELECT COUNT(*) FROM spn),
        (SELECT COUNT(*) FROM spn),
        (SELECT COUNT(*) FROM spn WHERE n_docs >= 2))
    ORDER BY family"""
  }
}
