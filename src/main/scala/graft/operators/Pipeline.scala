package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Feeds, Tables}

/** C17: the end-to-end training-corpus pipeline — the composition a real
  * LLM data pipeline runs over an incoming document feed
  * ([[Feeds.documentsWithPii]]):
  *
  *   1. quality gate (composite score ≥ minQuality),
  *   2. language gate (predicted language must match the declared one),
  *   3. exact dedup (canonical copy = min doc_id per normalized content
  *      hash among the surviving rows),
  *   4. PII scrub of the emitted text.
  *
  * Built from the same column-level primitives as the standalone operators
  * ([[TextOps.qualityScoreCol]], [[TextOps.langPredCol]],
  * [[TextOps.scrubCol]]), so the whole pipeline is ONE narrow codegen'd
  * projection + ONE shuffle (the dedup window on the 16-byte hash) — not a
  * join of four separate corpus passes. At 100 TB this is the difference
  * between one scan and four.
  */
object Pipeline {

  def corpusPipeline(spark: SparkSession, dir: String,
      minQuality: Double = 0.0): DataFrame = {
    val w = Window.partitionBy("norm_hash").orderBy("doc_id")
    Feeds.documentsWithPii(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        md5(lower(trim(col("text"))).cast("binary")).as("norm_hash"),
        TextOps.qualityScoreCol(col("text")).as("quality_score"),
        TextOps.langPredCol(col("text")).as("lang_predicho"))
      .filter(col("quality_score") >= minQuality &&
        col("lang_predicho") === col("lang"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("source"), col("lang_predicho"),
        col("quality_score"),
        TextOps.scrubCol(col("text")).as("texto_limpio"),
        TextOps.redactionsCol(col("text")).as("n_redacciones"))
      .orderBy("doc_id")
  }

  /** Train/val/test percentage bounds for [[corpusSplit]] — 80/10/10. */
  val SplitTrainPct: Int = 80
  val SplitValPct: Int = 90

  /** C19: deterministic content-keyed train/val/test split — the split key
    * is a hash of the NORMALIZED TEXT, not the doc id, so byte-identical
    * duplicates always land in the same split and can never leak from train
    * into eval. Narrow codegen'd pass
    * ([[graft.functions.Kernels.cmsBaseHash]] fold), zero shuffle. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(length(lower(trim(col("text")))) > 0)
      .select(col("doc_id"), col("source"),
        (expr("graft_str_hash(lower(trim(text)))") % 100).as("h"))
      .withColumn("split",
        when(col("h") < SplitTrainPct, "train")
          .when(col("h") < SplitValPct, "val").otherwise("test"))
      .select("doc_id", "source", "split")
      .orderBy("doc_id")
  }

  val corpusSplitSql: String = s"""
    SELECT doc_id, source,
      CASE WHEN h < $SplitTrainPct THEN 'train'
           WHEN h < $SplitValPct THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT doc_id, source,
        list_reduce(list_transform(range(1, length(lower(trim(text))) + 1), i ->
          CAST(ascii(substr(lower(trim(text)), CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) % 100 AS h
      FROM documents WHERE length(lower(trim(text))) > 0)
    ORDER BY doc_id"""

  /** Per-language keep-rates (percent) for [[corpusSample]] — the standard
    * corpus-rebalancing move: downsample the dominant language, keep the
    * rest. A closed map, so the dispatch compiles to a codegen'd CASE
    * chain; an open-ended rate table would ride a broadcast join instead
    * (same plan shape, still no shuffle). */
  val SampleRates: Map[String, Int] = Map("en" -> 25, "es" -> 50)
  val SampleDefaultRate: Int = 100

  /** C20: `q_corpus_sample` — deterministic stratified corpus sampling.
    * The keep decision hashes the NORMALIZED TEXT under a dedicated salt
    * ("sample|" prefix), so (a) byte-identical duplicates are kept or
    * dropped together, (b) re-ingesting the corpus reproduces the exact
    * sample, and (c) the decision is independent of [[corpusSplit]]'s
    * unsalted hash — sampling doesn't bias the split. Narrow codegen'd
    * pass, zero shuffle, at any corpus size. */
  def corpusSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldLeft(when(lit(false), lit(0))) {
      case (acc, (l, r)) => acc.when(col("lang") === l, lit(r))
    }.otherwise(lit(SampleDefaultRate))
    Tables.documents(spark, dir)
      .filter(length(lower(trim(col("text")))) > 0)
      .select(col("doc_id"), col("source"), col("lang"),
        (expr("graft_str_hash(concat('sample|', lower(trim(text))))") % 100).as("h"),
        rate.as("keep_rate"))
      .filter(col("h") < col("keep_rate"))
      .select("doc_id", "source", "lang", "keep_rate")
      .orderBy("doc_id")
  }

  val corpusSampleSql: String = {
    val cases = SampleRates.toSeq.sortBy(_._1)
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
    s"""
    SELECT doc_id, source, lang, keep_rate
    FROM (
      SELECT doc_id, source, lang,
        list_reduce(list_transform(range(1, length('sample|' || lower(trim(text))) + 1), i ->
          CAST(ascii(substr('sample|' || lower(trim(text)), CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) % 100 AS h,
        CASE $cases ELSE $SampleDefaultRate END AS keep_rate
      FROM documents WHERE length(lower(trim(text))) > 0)
    WHERE h < keep_rate
    ORDER BY doc_id"""
  }

  /** The simulated benchmark/eval slice for C25 (doc_id ≡ 3 mod 10 — wide
    * enough that the slice's near-dups exist in the training side, so the
    * contaminated branch is exercised at test scale) and the
    * decontamination shingle width. */
  val BenchMod: Int = 10
  val BenchRem: Int = 3
  val DecontamGram: Int = 8

  /** C25: `q_corpus_decontaminate` — benchmark decontamination: flag every
    * training document sharing ANY [[DecontamGram]]-token shingle with the
    * eval slice (the standard pre-training hygiene step; n-gram overlap is
    * how GPT-3/PaLM-style decontamination is defined). Distinct from C4:
    * no similarity score — one shared shingle is a hit.
    *
    * Plan: both sides shingle in the same narrow pass; the eval side
    * collapses to a DISTINCT gram set that is provably eval-sized (an eval
    * suite is fixed, never corpus-scaled) and rides a broadcast hash join;
    * hits partial-aggregate per doc. Clean docs survive via a left join —
    * short docs (< gram width) are trivially clean and never shingle. */
  /** The C25/C84 gram base: one narrow tokenize pass (doc_id, source,
    * toks) over any (doc_id, source, text) relation — batch corpus or a
    * streaming micro-batch. */
  private[graft] def decontamBaseOf(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        split(lower(trim(col("text"))), "\\s+").as("toks"))

  private def decontamBase(spark: SparkSession, dir: String): DataFrame =
    decontamBaseOf(Tables.documents(spark, dir))

  /** Distinct [[DecontamGram]]-token shingles per doc off [[decontamBase]]:
    * (doc_id, gram). */
  private[graft] def decontamGrams(base: DataFrame): DataFrame = {
    base.filter(size(col("toks")) >= DecontamGram)
      .select(col("doc_id"), explode(expr(
        s"graft_word_grams_distinct(toks, $DecontamGram)")).as("gram"))
  }

  def corpusDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val base = decontamBase(spark, dir)
    val grams = decontamGrams(base)
    val benchGrams = grams
      .filter(col("doc_id") % BenchMod === BenchRem).select("gram").distinct()
    val hits = grams.filter(col("doc_id") % BenchMod =!= BenchRem)
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    base.filter(col("doc_id") % BenchMod =!= BenchRem)
      .select("doc_id", "source")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
      .orderBy("doc_id")
  }

  val corpusDecontaminateSql: String = {
    val cat = (1 to DecontamGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    s"""
    WITH d AS (
      SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(0, len(toks) - ${DecontamGram - 1}), i ->
          $cat))) AS gram
      FROM d WHERE len(toks) >= $DecontamGram),
    b AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchMod = $BenchRem),
    h AS (
      SELECT g.doc_id, COUNT(*) AS n_hits
      FROM g JOIN b ON g.gram = b.gram
      WHERE g.doc_id % $BenchMod <> $BenchRem GROUP BY 1)
    SELECT d.doc_id, d.source, coalesce(h.n_hits, 0) AS n_hits,
      coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM d LEFT JOIN h ON d.doc_id = h.doc_id
    WHERE d.doc_id % $BenchMod <> $BenchRem
    ORDER BY d.doc_id"""
  }

  /** C27: `q_corpus_mix` — data-driven source mixing: downsample every
    * source to the SMALLEST source's token volume (the uniform-mix special
    * case of Pile/Dolma-style source weighting; a non-uniform target is the
    * same plan with a weights map). The keep decision is entirely INTEGER:
    * per-source threshold = T_min·10⁶ div T_s, doc kept iff its salted
    * content hash mod 10⁶ falls below — no doubles anywhere, so
    * cross-engine exactness is structural, and identical docs are kept or
    * dropped together (content-hash salted independently of C19/C20).
    * Plan: one narrow token-count pass → 20-row source totals → broadcast
    * back over a second narrow pass; no fact-side shuffle at any corpus
    * size. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        (expr("graft_str_hash(concat('mix|', lower(trim(text))))") % 1000000).as("h"))
    // cache(): the 20-row source totals feed both the broadcast join and
    // the global min — without it the min branch re-runs the whole
    // token-count scan
    val tok = Caches.keep(d.groupBy("source").agg(sum("n_tok").as("t_src")))
    val tmin = tok.agg(min("t_src").as("t_min"))
    d.join(broadcast(tok), "source").crossJoin(broadcast(tmin))
      .withColumn("umbral", expr("(t_min * 1000000) div t_src"))
      .filter(col("h") < col("umbral"))
      .select("doc_id", "source", "n_tok", "umbral")
      .orderBy("doc_id")
  }

  val corpusMixSql: String = """
    WITH d AS (
      SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        list_reduce(list_transform(range(1, length('mix|' || lower(trim(text))) + 1), i ->
          CAST(ascii(substr('mix|' || lower(trim(text)), CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) % 1000000 AS h
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS t_src FROM d GROUP BY 1),
    tm AS (SELECT MIN(t_src) AS t_min FROM tok)
    SELECT doc_id, d.source, n_tok, (t_min * 1000000) // t_src AS umbral
    FROM d JOIN tok ON d.source = tok.source, tm
    WHERE h < (t_min * 1000000) // t_src
    ORDER BY doc_id"""

  /** C54: `q_corpus_mix_temp` — temperature-smoothed source mixing, the
    * non-uniform target C27's scaladoc promises: keep rate
    * (T_min/T_s)^τ with τ = 1/2 (Pile/Dolma-style smoothing — large
    * sources still downsample, but less brutally than C27's full
    * leveling; τ → 0 keeps everything, τ = 1 IS C27). Same salted hash as
    * C27 ON PURPOSE: `h < umbral` decisions NEST as τ varies, so C27's
    * kept set is a guaranteed subset of this one (spec-pinned) and a
    * τ-sweep downsamples monotonically instead of re-rolling the dice
    * per doc.
    *
    * Exactness: the threshold chain is floor(10⁶ · sqrt(t_min/t_src)) —
    * division, sqrt, multiply are each IEEE correctly-rounded on
    * identical sub-2⁵³ integer inputs, so both engines produce the SAME
    * double before the floor (no summation-order hazard: every input is
    * an exact integer aggregate). The C27 integer form (t_min·10¹² div
    * t_src, integer sqrt) would overflow BIGINT at corpus scale
    * (t_min ~ 10¹² tokens at 100 TB); this chain never exceeds the
    * inputs' magnitudes. Plan: identical to C27 — one narrow token-count
    * pass, 20-row cached source totals, broadcast back; no fact-side
    * shuffle at any corpus size. */
  def corpusMixTemp(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        (expr("graft_str_hash(concat('mix|', lower(trim(text))))") % 1000000).as("h"))
    val tok = Caches.keep(d.groupBy("source").agg(sum("n_tok").as("t_src")))
    val tmin = tok.agg(min("t_src").as("t_min"))
    d.join(broadcast(tok), "source").crossJoin(broadcast(tmin))
      .withColumn("umbral", floor(lit(1000000.0) *
        sqrt(col("t_min").cast("double") / col("t_src").cast("double"))))
      .filter(col("h") < col("umbral"))
      .select("doc_id", "source", "n_tok", "umbral")
      .orderBy("doc_id")
  }

  val corpusMixTempSql: String = """
    WITH d AS (
      SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        list_reduce(list_transform(range(1, length('mix|' || lower(trim(text))) + 1), i ->
          CAST(ascii(substr('mix|' || lower(trim(text)), CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) % 1000000 AS h
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS t_src FROM d GROUP BY 1),
    tm AS (SELECT MIN(t_src) AS t_min FROM tok)
    SELECT doc_id, d.source, n_tok,
      CAST(floor(1000000 * sqrt(CAST(t_min AS DOUBLE) / CAST(t_src AS DOUBLE)))
        AS BIGINT) AS umbral
    FROM d JOIN tok ON d.source = tok.source, tm
    WHERE h < CAST(floor(1000000 * sqrt(CAST(t_min AS DOUBLE) / CAST(t_src AS DOUBLE)))
        AS BIGINT)
    ORDER BY doc_id"""

  /** Per-stratum sample size for C57. */
  val StratumK: Int = 10

  /** C57: `q_corpus_sample_stratified` — EXACT-size stratified sampling:
    * the k lowest-salted-hash docs per (source, lang) stratum. C20's
    * rate-based sample can only hit an expected size per stratum; this
    * delivers exactly min(k, |stratum|) — the eval-set builder's contract
    * (every stratum represented, sizes reproducible on re-ingest) — and
    * C34's bottom-k merge property holds per stratum. PURE INTEGER: salted
    * hash, row_number, no doubles anywhere.
    *
    * Scale: the window partitions by STRATUM — corpus-scaled partitions,
    * normally the C28 hazard — but the `rnk <= k` filter directly over
    * `row_number` triggers Spark's rank-limit pushdown
    * (WindowGroupLimitExec, PlanSpec-pinned): every map task pre-prunes to
    * its local bottom-k PER STRATUM before the exchange, so shuffle volume
    * is ≤ tasks · strata · k rows and the post-shuffle sort handles
    * ≤ tasks · k rows per stratum — the two-phase bottom-k merge, planned
    * automatically. */
  def corpusSampleStratified(spark: SparkSession, dir: String,
      k: Int = StratumK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .filter(length(lower(trim(col("text")))) > 0)
      .select(col("doc_id"), col("source"), col("lang"),
        expr("graft_str_hash(concat('strat|', lower(trim(text))))").as("h"))
      .withColumn("rnk", row_number().over(Window
        .partitionBy("source", "lang").orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("source", "lang", "rnk")
  }

  def corpusSampleStratifiedSqlFor(k: Int = StratumK): String = s"""
    WITH d AS (
      SELECT doc_id, source, lang,
        list_reduce(list_transform(range(1, length('strat|' || lower(trim(text))) + 1), i ->
          CAST(ascii(substr('strat|' || lower(trim(text)), CAST(i AS INT), 1)) AS BIGINT)),
          (acc, c) -> (acc * 31 + c) % 2147483647) AS h
      FROM documents WHERE length(lower(trim(text))) > 0)
    SELECT doc_id, source, lang, h, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY source, lang
                                   ORDER BY h, doc_id) AS rnk
      FROM d) WHERE rnk <= $k
    ORDER BY source, lang, rnk"""

  val corpusSampleStratifiedSql: String = corpusSampleStratifiedSqlFor()

  /** C28 pack size (tokens). Sized so test-corpus packs hold a handful of
    * 10-99-token docs; a real 4k/8k context window is the same arithmetic. */
  val PackBudget: Int = 256

  /** C28: `q_corpus_pack` — concat-and-cut sequence packing, the batching
    * step that turns a curated corpus into fixed-size training sequences:
    * documents are concatenated per source in deterministic doc_id order and
    * the token stream is cut every [[PackBudget]] tokens (GPT-style packing;
    * a doc may straddle a cut — `cruza_limite` flags those for loss-masking
    * policies that drop or re-pad straddlers). Each doc's placement is pure
    * integer arithmetic on its exclusive prefix token count: pack_id =
    * offset div budget, pack_pos = offset mod budget.
    *
    * One per-source window computes the running offset — a single `source`
    * shuffle. At 100 TB a source is an unbounded window partition (one task
    * scans a whole source), so the scale path is SHIPPED as
    * [[corpusPackHier]] (`q_corpus_pack_hier`): same output contract,
    * offsets computed by the standard hierarchical two-pass prefix sum,
    * row-for-row equality spec-pinned. This declarative window form stays
    * registered as the test-scale reference the oracle mirrors directly
    * (vetted in [[graft.Audit.knownBounded]]). */
  def corpusPack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("tok_offset", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"tok_offset div $PackBudget"))
      .withColumn("pack_pos", col("tok_offset") % PackBudget)
      .withColumn("cruza_limite",
        expr(s"(tok_offset + n_tok - 1) div $PackBudget") =!= col("pack_id"))
      .select("source", "doc_id", "n_tok", "tok_offset", "pack_id",
        "pack_pos", "cruza_limite")
      .orderBy("source", "doc_id")
  }

  val corpusPackSql: String = s"""
    WITH d AS (
      SELECT source, doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents WHERE length(trim(text)) > 0),
    o AS (
      SELECT source, doc_id, n_tok,
        CAST(coalesce(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS tok_offset
      FROM d)
    SELECT source, doc_id, n_tok, tok_offset,
      tok_offset // $PackBudget AS pack_id,
      tok_offset % $PackBudget AS pack_pos,
      (tok_offset + n_tok - 1) // $PackBudget <> tok_offset // $PackBudget
        AS cruza_limite
    FROM o ORDER BY source, doc_id"""

  /** Chunk width (docs) for [[corpusPackHier]]'s first pass. Small here so
    * the test corpus (500 docs) exercises multi-chunk offset composition;
    * production sizing is ~10⁵-10⁶ docs per chunk so the subtotal relation
    * is corpus/PackChunk — a 10⁵× reduction per level (recursable if a
    * single level is still too wide). */
  val PackChunk: Int = 64

  /** C49: `q_corpus_pack_hier` — C28's 100 TB path SHIPPED (the B21→B24
    * precedent): identical output contract to [[corpusPack]], but the
    * exclusive prefix token count is computed hierarchically instead of one
    * per-source window (where one window partition = one source = one task —
    * a single-task prefix-sum scale-killer at 100 TB):
    *
    *   1. docs get a deterministic integer chunk id (`doc_id div PackChunk`
    *      — pure arithmetic, no sampling, so the assignment is reproducible
    *      and needs no materialization barrier),
    *   2. per-(source, chunk) token subtotals via ONE partial-agg shuffle,
    *   3. exclusive scan over the subtotal relation (corpus/PackChunk rows —
    *      tiny; its per-source window sits ABOVE the aggregate),
    *   4. chunk base offsets broadcast back; each doc's offset = chunk base
    *      + its within-chunk running sum, whose window partition
    *      (source, chunk) is ≤ PackChunk rows BY CONSTRUCTION.
    *
    * Row-for-row equality with the window-based [[corpusPack]] is
    * spec-pinned; the oracle is the same SQL. */
  def corpusPackHier(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("chunk", expr(s"doc_id div $PackChunk"))
    val wChunk = Window.partitionBy("source").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = d.groupBy("source", "chunk").agg(sum("n_tok").as("t_chunk"))
      .withColumn("base_offset", coalesce(sum("t_chunk").over(wChunk), lit(0L)))
      .select("source", "chunk", "base_offset")
    val wIn = Window.partitionBy("source", "chunk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("local_offset", coalesce(sum("n_tok").over(wIn), lit(0L)))
      .join(broadcast(bases), Seq("source", "chunk"))
      .withColumn("tok_offset", col("base_offset") + col("local_offset"))
      .withColumn("pack_id", expr(s"tok_offset div $PackBudget"))
      .withColumn("pack_pos", col("tok_offset") % PackBudget)
      .withColumn("cruza_limite",
        expr(s"(tok_offset + n_tok - 1) div $PackBudget") =!= col("pack_id"))
      .select("source", "doc_id", "n_tok", "tok_offset", "pack_id",
        "pack_pos", "cruza_limite")
      .orderBy("source", "doc_id")
  }

  /** C50: `q_pack_efficiency` — the packing QA report a trainer reads
    * before committing a corpus to a context budget: per source, how many
    * [[PackBudget]]-token sequences the token stream cuts into, how many
    * documents straddle a cut (loss-masking candidates — the cost side of
    * concat-and-cut), the final pack's padding, and the fill efficiency.
    * Together with C43's length histogram this is the input for tuning the
    * budget; it composes [[corpusPackHier]] (the 100 TB path), so the
    * straddler flags come from the same offsets the packer ships.
    *
    * Exactness: counts and token sums are exact integers; n_packs is
    * integer ceil-division; efficiency is ONE final division of exact
    * integers — bit-identical on any engine.
    *
    * Scale: the packer's plan plus one tiny source roll-up (partial-agg
    * shuffle onto the ≤ sources key space). */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    corpusPackHier(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(col("cruza_limite").cast("long")).as("n_cruzan"))
      .withColumn("n_packs",
        expr(s"(n_tokens + ${PackBudget - 1}) div $PackBudget"))
      .withColumn("relleno_final",
        col("n_packs") * PackBudget - col("n_tokens"))
      .withColumn("eficiencia",
        col("n_tokens").cast("double") /
          (col("n_packs") * PackBudget).cast("double"))
      .orderBy("source")

  val packEfficiencySql: String = s"""
    WITH pk AS ($corpusPackSql),
    agg AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(SUM(CAST(cruza_limite AS INT)) AS BIGINT) AS n_cruzan
      FROM pk GROUP BY source)
    SELECT source, n_docs, n_tokens, n_cruzan,
      (n_tokens + ${PackBudget - 1}) // $PackBudget AS n_packs,
      ((n_tokens + ${PackBudget - 1}) // $PackBudget) * $PackBudget - n_tokens
        AS relleno_final,
      CAST(n_tokens AS DOUBLE) /
        CAST(((n_tokens + ${PackBudget - 1}) // $PackBudget) * $PackBudget
          AS DOUBLE) AS eficiencia
    FROM agg ORDER BY source"""

  /** C31: `q_corpus_datasheet` — the per-(source, language) composition
    * report every corpus release publishes (a "datasheet"): document /
    * token / char volumes, exact-duplicate counts, and share-of-corpus
    * ratios. Every aggregate is an order-independent integer (counts,
    * BIGINT sums, distinct hashes) — the two ratio columns are single
    * final divisions of those integers, so the report is bit-identical on
    * any engine at any parallelism. One partial-agg shuffle on the tiny
    * (source, lang) key; the duplicate count shuffles 16-byte hashes. */
  def corpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("lang"),
        md5(lower(trim(col("text"))).cast("binary")).as("norm_hash"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chr"))
    val stats = d.groupBy("source", "lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("n_tokens"),
      sum("n_chr").as("n_chars"),
      countDistinct("norm_hash").as("n_distinct"))
    val total = d.agg(sum("n_tok").as("t_total"))
    stats.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
        ((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double")).as("tasa_dup"),
        (col("n_tokens").cast("double") / col("t_total").cast("double"))
          .as("fraccion_tokens"))
      .orderBy("source", "lang")
  }

  val corpusDatasheetSql: String = """
    WITH d AS (
      SELECT source, lang, md5(lower(trim(text))) AS norm_hash,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        CAST(length(text) AS BIGINT) AS n_chr
      FROM documents WHERE length(trim(text)) > 0),
    stats AS (
      SELECT source, lang, count(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chr) AS BIGINT) AS n_chars,
        count(DISTINCT norm_hash) AS n_distinct
      FROM d GROUP BY 1, 2),
    t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_total FROM d)
    SELECT source, lang, n_docs, n_tokens, n_chars, n_distinct,
      n_docs - n_distinct AS n_dup_docs,
      CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE) AS tasa_dup,
      CAST(n_tokens AS DOUBLE) / CAST(t_total AS DOUBLE) AS fraccion_tokens
    FROM stats, t
    ORDER BY source, lang"""

  /** C34 sample size. */
  val BottomK: Int = 100

  /** C34: `q_corpus_bottomk` — EXACT-size deterministic sample: the k docs
    * with the smallest salted content hashes (the classic bottom-k
    * sketch). Rate-based sampling (C20) can only hit an expected size;
    * bottom-k delivers exactly k, is reproducible on re-ingest, and merges
    * trivially (the bottom-k of a union is the bottom-k of the parts'
    * bottom-ks) — so at 100 TB this runs as per-partition top-k with a
    * k-row driver merge (TakeOrderedAndProject), never a full sort.
    * Hash ties break on doc_id; the salt keeps the selection independent
    * of C19/C20's hashes. */
  def corpusBottomK(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(length(lower(trim(col("text")))) > 0)
      .select(col("doc_id"), col("source"), col("lang"),
        expr("graft_str_hash(concat('bottomk|', lower(trim(text))))").as("h"))
      .orderBy("h", "doc_id")
      .limit(BottomK)
  }

  val corpusBottomKSql: String = s"""
    SELECT doc_id, source, lang,
      list_reduce(list_transform(range(1, length('bottomk|' || lower(trim(text))) + 1), i ->
        CAST(ascii(substr('bottomk|' || lower(trim(text)), CAST(i AS INT), 1)) AS BIGINT)),
        (acc, c) -> (acc * 31 + c) % 2147483647) AS h
    FROM documents WHERE length(lower(trim(text))) > 0
    ORDER BY h, doc_id LIMIT $BottomK"""

  val corpusPipelineSql: String = s"""
    WITH feed AS (${Feeds.documentsWithPiiSql}),
    scored AS (
      SELECT doc_id, source, lang, text,
        md5(lower(trim(text))) AS norm_hash,
        ${TextOps.qualitySqlScore} AS quality_score,
        ${TextOps.langSqlCase} AS lang_predicho
      FROM (
        SELECT *,
          ${TextOps.qualitySqlRatios}
        FROM (
          SELECT doc_id, source, lang, text,
            ${TextOps.qualitySqlMeasures},
            ${TextOps.langSqlScores}
          FROM feed WHERE length(trim(text)) > 0))),
    flt AS (
      SELECT * FROM scored
      WHERE quality_score >= 0.0 AND lang_predicho = lang),
    ded AS (
      SELECT *, row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) AS _rn
      FROM flt)
    SELECT doc_id, source, lang_predicho, quality_score,
      regexp_replace(regexp_replace(text,
        '${TextOps.EmailRe}', '<EMAIL>', 'g'),
        '${TextOps.PhoneRe}', '<PHONE>', 'g') AS texto_limpio,
      len(regexp_extract_all(text, '${TextOps.EmailRe}'))
        + len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS n_redacciones
    FROM ded WHERE _rn = 1
    ORDER BY doc_id"""
  /** C47: `q_source_health` — the per-source curation GATE report: the
    * signals a pipeline thresholds when deciding whether a source ships
    * into the next training mix — mean quality score, language-declaration
    * agreement, exact-duplicate share — next to the volumes C31's
    * datasheet carries. One documents scan; the only shuffle beyond the
    * tiny source roll-up is the 16-byte content-hash window for the dup
    * share.
    *
    * Exactness: the per-doc quality score is a deterministic double (same
    * expression tree as C9), but a distributed double SUM is shuffle-order
    * nondeterministic — so the mean is computed over the score quantized
    * to integer nano-units, summed exactly, divided once. All shares are
    * integer counts with one final division. */
  def sourceHealth(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        md5(lower(trim(col("text"))).cast("binary")).as("norm_hash"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        round(TextOps.qualityScoreCol(col("text")) * lit(1.0e9))
          .cast("long").as("qu"),
        (TextOps.langPredCol(col("text")) === col("lang"))
          .cast("long").as("lang_ok"))
    d.withColumn("keeper",
        min("doc_id").over(Window.partitionBy("norm_hash")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("qu").as("squ"),
        sum("lang_ok").as("n_lang_ok"),
        sum((col("doc_id") =!= col("keeper")).cast("long")).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("squ").cast("double") / col("n_docs").cast("double") /
          lit(1.0e9)).as("quality_media"),
        (col("n_lang_ok").cast("double") / col("n_docs").cast("double"))
          .as("lang_match_share"),
        (col("n_dups").cast("double") / col("n_docs").cast("double"))
          .as("dup_share"))
      .orderBy("source")
  }

  val sourceHealthSql: String = s"""
    WITH m AS (
      SELECT source, doc_id, lang,
        md5(lower(trim(text))) AS norm_hash,
        ${TextOps.qualitySqlMeasures},
        ${TextOps.langSqlScores}
      FROM documents WHERE length(trim(text)) > 0),
    r AS (
      SELECT source, doc_id, norm_hash, n_tok,
        ${TextOps.qualitySqlRatios},
        CASE WHEN (${TextOps.langSqlCase}) = lang THEN 1 ELSE 0 END AS lang_ok
      FROM m),
    q AS (
      SELECT source, doc_id, norm_hash, n_tok, lang_ok,
        CAST(round((${TextOps.qualitySqlScore}) * CAST(1000000000.0 AS DOUBLE))
          AS BIGINT) AS qu,
        CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY norm_hash)
             THEN 1 ELSE 0 END AS dup
      FROM r)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(qu) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0
        AS quality_media,
      CAST(SUM(lang_ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lang_match_share,
      CAST(SUM(dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_share
    FROM q
    GROUP BY source
    ORDER BY source"""

  /** Shingle width for the C52 source-overlap matrix. 5-word grams catch
    * shared phrasing/boilerplate BETWEEN sources; doc-level contamination
    * (C25) stays at the stricter [[DecontamGram]] = 8. Declared before the
    * SQL val that interpolates it (object-val init order). */
  val OverlapGram: Int = 5

  /** C52: `q_source_overlap` — cross-source content-overlap matrix: for
    * every source pair, the count of shared distinct word-[[OverlapGram]]-
    * grams and their Jaccard similarity. The datasheet-level contamination
    * report next to C31 (which is per-source) and C25 (which is per-doc):
    * a high-Jaccard pair means two "different" sources are mirrors or
    * share boilerplate, so their token budgets double-count — the input a
    * source-weighting decision (C27) needs. Exact-hash overlap (C1's
    * norm_hash) is structurally zero on disjoint crawls; gram overlap is
    * the standard corpus-level signal (Pile/Dolma-style analyses).
    *
    * Exactness: distinct-gram counts are integers, Jaccard is ONE final
    * division shared/(n_a + n_b − shared) of exact longs.
    *
    * Plan: grams explode narrow (per-doc `array_distinct` first, so a
    * repetitive doc contributes each gram once to the explode); the
    * corpus-wide distinct (gram_hash, source) set — 16-byte md5, never
    * full gram text, so shuffle rows are fixed-width — is cached and read
    * three ways (per-source totals, pair join a-side, b-side). The
    * self-join keys on gram_hash with per-key fanout structurally ≤
    * #sources rows (≤ S² pairs per gram): bounded by the SOURCE count, not
    * by any data property, so no hot-bucket cap is needed (unlike C2/C14's
    * doc-level buckets). The pair aggregate lands on a ≤ S²-row grid and
    * the final matrix assembles from broadcast S-row totals. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val grams = Caches.keep(Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= OverlapGram)
      .select(col("source"), explode(expr(
        s"graft_word_grams_distinct(toks, $OverlapGram)")).as("gram"))
      .select(col("source"), unhex(md5(col("gram").cast("binary"))).as("gram_hash"))
      .distinct())
    val totals = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val shared = grams.as("a")
      .join(grams.as("b"), col("a.gram_hash") === col("b.gram_hash") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    totals.select(col("source").as("source_a"), col("n_grams").as("n_a"))
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("n_grams").as("n_b"))), col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("shared"),
        (col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String = {
    val cat = (1 to OverlapGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    s"""
    WITH d AS (
      SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT DISTINCT source, md5(gram) AS gram_hash FROM (
        SELECT source, unnest(list_distinct(
          list_transform(range(0, len(toks) - ${OverlapGram - 1}), i ->
            $cat))) AS gram
        FROM d WHERE len(toks) >= $OverlapGram)),
    t AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
    s AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
      FROM g a JOIN g b ON a.gram_hash = b.gram_hash AND a.source < b.source
      GROUP BY 1, 2)
    SELECT ta.source AS source_a, tb.source AS source_b,
      ta.n_grams AS n_a, tb.n_grams AS n_b,
      COALESCE(s.shared, 0) AS shared,
      CAST(COALESCE(s.shared, 0) AS DOUBLE) /
        CAST(ta.n_grams + tb.n_grams - COALESCE(s.shared, 0) AS DOUBLE)
        AS jaccard
    FROM t ta JOIN t tb ON ta.source < tb.source
    LEFT JOIN s ON s.source_a = ta.source AND s.source_b = tb.source
    ORDER BY source_a, source_b"""
  }

  /** Epoch ceiling for [[mixEpochs]] — repeating a source more than this
    * many times measurably degrades models (the LLaMA/Dolma upsampling
    * cap), so the report flags sources whose uniform-share target would
    * need more. Declared before the SQL val that interpolates it. */
  val MixMaxEpochs: Int = 4

  /** C60: `q_mix_epochs` — the EPOCH-PLANNING view of source mixing:
    * C27/C54 decide which docs to keep for ONE pass, but a training run
    * needs the repeat plan — how many full epochs of each source, plus the
    * partial-epoch token remainder, to hit a uniform per-source token
    * share of the corpus total. `repeat_factor` > 1 means upsample (small
    * quality source), < 1 means subsample; `needs_cap` flags sources whose
    * target would exceed [[MixMaxEpochs]] epochs — the recipe-is-infeasible
    * signal that tells a curator to shrink the target or find more data.
    *
    * Exactness: epoch/remainder arithmetic is pure BIGINT div/mod on
    * exact token aggregates; `repeat_factor` is one correctly-rounded
    * division of sub-2⁵³ integers.
    *
    * Scale: one narrow token-count pass + one source-keyed partial-agg
    * shuffle; the source totals are cache()d (the corpus total and the
    * final report both read them — the C27 lesson) and the 1-row total
    * rides a broadcast. No fact-side shuffle at any corpus size. */
  def mixEpochs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val tok = Caches.keep(d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens")))
    val tot = tok.agg(sum("n_tokens").as("t_total"),
      count(lit(1)).as("n_sources"))
    tok.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr("t_total DIV n_sources"))
      .withColumn("full_epochs", expr("target_tokens DIV n_tokens"))
      .withColumn("partial_tokens", expr("target_tokens % n_tokens"))
      .withColumn("repeat_factor",
        col("target_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("needs_cap", col("repeat_factor") > lit(MixMaxEpochs))
      .select("source", "n_docs", "n_tokens", "target_tokens",
        "full_epochs", "partial_tokens", "repeat_factor", "needs_cap")
      .orderBy("source")
  }

  val mixEpochsSql: String = s"""
    WITH d AS (
      SELECT source,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents WHERE length(trim(text)) > 0),
    tok AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_total, COUNT(*) AS n_sources
      FROM tok)
    SELECT source, n_docs, n_tokens,
      t_total // n_sources AS target_tokens,
      (t_total // n_sources) // n_tokens AS full_epochs,
      (t_total // n_sources) % n_tokens AS partial_tokens,
      CAST(t_total // n_sources AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        AS repeat_factor,
      CAST(t_total // n_sources AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        > $MixMaxEpochs AS needs_cap
    FROM tok, tot ORDER BY source"""

  /** C63 grid: min-token thresholds i·[[SweepStep]] for i = 0..[[SweepN]]-1.
    * The top row (100 tokens) sits above the corpus max, so the sweep
    * always exercises the zero-survivor edge. Declared before the SQL val
    * that interpolates them (object-val init order). */
  val SweepStep: Int = 10
  val SweepN: Int = 11

  /** Quality cut for C63's pass-share column — strictly between C17's two
    * observed score levels so both gate outcomes are populated. */
  val SweepQualityMin: Double = 0.25

  /** C63: `q_filter_threshold_sweep` — filter-calibration curve: for a grid
    * of min-token-length thresholds (the Gopher/C4-style length gate),
    * the docs and tokens that would survive, as counts and corpus shares,
    * plus the share of survivors that also clear the C9 quality gate.
    * This is the report a curator reads BEFORE picking a cutoff: "t=30
    * keeps 62% of docs but 81% of tokens" is the knob-vs-yield trade-off,
    * and a quality-share that RISES with the threshold is the evidence the
    * length gate is doing its job. One grid, every candidate threshold —
    * not one corpus pass per candidate.
    *
    * Exactness: survivors are pure integer sums (each doc is bucketed by
    * `n_tok div step` and a threshold keeps buckets ≥ its index); shares
    * are single divisions of exact longs; the quality flag compares the
    * C9 score (bit-identical across engines) to a literal.
    *
    * Scale: ONE narrow codegen'd corpus pass collapses map-side into a
    * ≤ [[SweepN]]-row bucket histogram (the B24 histogram move); the
    * threshold grid then LEFT-joins buckets triangularly (idx ≥ i) —
    * a ≤ SweepN² driver-scale join, NO window (a reverse-cumulative
    * window over the grid would be an Audit global-window finding), no
    * second fact pass at any corpus size. */
  def filterThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        (TextOps.qualityScoreCol(col("text")) >= SweepQualityMin).as("q_ok"))
    val b = Caches.keep(d
      .select(least(expr(s"n_tok DIV $SweepStep"), lit((SweepN - 1).toLong))
          .as("b"), col("n_tok"), col("q_ok"))
      .groupBy("b").agg(count(lit(1)).as("nd"), sum("n_tok").as("nt"),
        sum(when(col("q_ok"), 1L).otherwise(0L)).as("nq")))
    val tot = b.agg(sum("nd").as("td"), sum("nt").as("tt"))
    val grid = spark.range(0, SweepN)
      .select(col("id").as("i"), (col("id") * SweepStep).as("min_tokens"))
    grid.join(b, col("b") >= col("i"), "left")
      .groupBy("i", "min_tokens")
      .agg(coalesce(sum("nd"), lit(0L)).as("n_docs_kept"),
        coalesce(sum("nt"), lit(0L)).as("n_tokens_kept"),
        coalesce(sum("nq"), lit(0L)).as("nq_kept"))
      .crossJoin(broadcast(tot))
      .select(col("min_tokens"), col("n_docs_kept"), col("n_tokens_kept"),
        (col("n_docs_kept").cast("double") / col("td").cast("double"))
          .as("doc_share"),
        (col("n_tokens_kept").cast("double") / col("tt").cast("double"))
          .as("token_share"),
        when(col("n_docs_kept") > 0,
          col("nq_kept").cast("double") / col("n_docs_kept").cast("double"))
          .as("quality_pass_share"))
      .orderBy("min_tokens")
  }

  val filterThresholdSweepSql: String = s"""
    WITH m AS (
      SELECT ${TextOps.qualitySqlMeasures}
      FROM documents WHERE length(trim(text)) > 0),
    s AS (
      SELECT CAST(n_tok AS BIGINT) AS n_tok,
        CASE WHEN (${TextOps.qualitySqlScore}) >= $SweepQualityMin
             THEN 1 ELSE 0 END AS q_ok
      FROM (
        SELECT n_tok,
          ${TextOps.qualitySqlRatios}
        FROM m)),
    b AS (
      SELECT least(n_tok // $SweepStep, ${SweepN - 1}) AS b,
        COUNT(*) AS nd, CAST(SUM(n_tok) AS BIGINT) AS nt,
        CAST(SUM(q_ok) AS BIGINT) AS nq
      FROM s GROUP BY 1),
    grid AS (SELECT i, i * $SweepStep AS min_tokens FROM range(0, $SweepN) t(i)),
    k AS (
      SELECT grid.i, grid.min_tokens,
        CAST(coalesce(SUM(nd), 0) AS BIGINT) AS n_docs_kept,
        CAST(coalesce(SUM(nt), 0) AS BIGINT) AS n_tokens_kept,
        CAST(coalesce(SUM(nq), 0) AS BIGINT) AS nq_kept
      FROM grid LEFT JOIN b ON b.b >= grid.i GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS td,
                   CAST(SUM(nt) AS BIGINT) AS tt FROM b)
    SELECT min_tokens, n_docs_kept, n_tokens_kept,
      CAST(n_docs_kept AS DOUBLE) / CAST(td AS DOUBLE) AS doc_share,
      CAST(n_tokens_kept AS DOUBLE) / CAST(tt AS DOUBLE) AS token_share,
      CASE WHEN n_docs_kept > 0
           THEN CAST(nq_kept AS DOUBLE) / CAST(n_docs_kept AS DOUBLE)
      END AS quality_pass_share
    FROM k, tot ORDER BY min_tokens"""

  /** C64 gram width — [[DecontamGram]]-class 8-word grams, the width the
    * repeated-sequence memorization analyses use (long enough that a
    * repeat is verbatim text, not phrasing). Declared before the SQL val
    * that interpolates it. */
  val MemGram: Int = 8

  /** Corpus-wide occurrence count at/above which a C64 gram is "hot". */
  val MemGramMin: Int = 2

  /** C64: `q_gram_memorization` — memorization-risk exposure per source:
    * how much of each source's [[MemGram]]-gram mass is verbatim text
    * repeated elsewhere in the corpus. Training data repeated even a few
    * times is disproportionately regurgitated by LLMs, so the share of a
    * source's gram occurrences that belong to corpus-wide-hot grams
    * (`hot_occ_share`) is the per-source risk number a curator reads next
    * to C52's pair matrix (which localizes WHO shares text, while this
    * prices HOW MUCH of a source is repeated, including within itself via
    * `dup_occ_share`).
    *
    * Exactness: all counts are exact integers off two aggregations; the
    * two shares are single divisions of exact longs.
    *
    * Scale: grams explode narrow with occurrence multiplicity KEPT
    * (unlike C52's per-doc distinct — repeats are the signal here) and
    * collapse immediately into the (gram_hash, source) occurrence grid:
    * 16-byte fixed-width keys, map-side partial agg, the only fact-scaled
    * shuffle. Corpus-wide totals re-aggregate that grid (≤ #sources rows
    * per gram), and the hot-flag join keys on gram_hash — the same key
    * the grid is already partitioned by, so it replans shuffle-free under
    * AQE off the cache()d grid. The final roll-up lands on ≤ #sources
    * rows. */
  def gramMemorization(spark: SparkSession, dir: String): DataFrame = {
    val occ = Caches.keep(Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= MemGram)
      .select(col("source"), explode(expr(
        s"graft_word_grams(toks, $MemGram)")).as("gram"))
      .select(col("source"), unhex(md5(col("gram").cast("binary"))).as("gram_hash"))
      .groupBy("gram_hash", "source").agg(count(lit(1)).as("occ")))
    val tot = occ.groupBy("gram_hash").agg(sum("occ").as("tot_occ"))
    occ.join(tot, "gram_hash")
      .groupBy("source").agg(
        sum("occ").as("n_gram_occ"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when(col("tot_occ") >= MemGramMin, col("occ")).otherwise(0L))
          .as("hot_gram_occ"),
        sum(when(col("tot_occ") >= MemGramMin, 1L).otherwise(0L))
          .as("n_hot_distinct"))
      .select(col("source"), col("n_gram_occ"), col("n_distinct_grams"),
        col("hot_gram_occ"), col("n_hot_distinct"),
        (col("hot_gram_occ").cast("double") / col("n_gram_occ").cast("double"))
          .as("hot_occ_share"),
        (lit(1.0) - col("n_distinct_grams").cast("double")
          / col("n_gram_occ").cast("double")).as("dup_occ_share"))
      .orderBy("source")
  }

  val gramMemorizationSql: String = {
    val cat = (1 to MemGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    s"""
    WITH d AS (
      SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT source, md5(gram) AS gram_hash FROM (
        SELECT source, unnest(
          list_transform(range(0, len(toks) - ${MemGram - 1}), i ->
            $cat)) AS gram
        FROM d WHERE len(toks) >= $MemGram)),
    o AS (SELECT gram_hash, source, COUNT(*) AS occ FROM g GROUP BY 1, 2),
    t AS (SELECT gram_hash, CAST(SUM(occ) AS BIGINT) AS tot_occ
          FROM o GROUP BY 1)
    SELECT o.source,
      CAST(SUM(occ) AS BIGINT) AS n_gram_occ,
      COUNT(*) AS n_distinct_grams,
      CAST(SUM(CASE WHEN tot_occ >= $MemGramMin THEN occ ELSE 0 END)
        AS BIGINT) AS hot_gram_occ,
      CAST(SUM(CASE WHEN tot_occ >= $MemGramMin THEN 1 ELSE 0 END)
        AS BIGINT) AS n_hot_distinct,
      CAST(SUM(CASE WHEN tot_occ >= $MemGramMin THEN occ ELSE 0 END)
        AS DOUBLE) / CAST(SUM(occ) AS DOUBLE) AS hot_occ_share,
      CAST(1.0 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)
        / CAST(SUM(occ) AS DOUBLE) AS dup_occ_share
    FROM o JOIN t USING (gram_hash)
    GROUP BY 1 ORDER BY 1"""
  }

  /** C71 crawl-order bucket count (deciles). Declared before the SQL val
    * that interpolates it. */
  val NoveltyBuckets: Int = 10

  /** C71: `q_novelty_curve` — diminishing-returns curve over crawl order:
    * walk the corpus in ingestion order (doc_id), split it into
    * [[NoveltyBuckets]] equal id-range buckets, and report per bucket how
    * much of its [[MemGram]]-gram occurrence mass belongs to grams FIRST
    * seen in that bucket (novel) vs carried over from earlier buckets.
    * This is the "is more crawl still buying new text?" read a curator
    * makes before paying for the next 10 TB — the curve bending toward
    * zero novel share is the empirical saturation signal next to C64's
    * memorization pricing (same gram definition ON PURPOSE, so the two
    * reports reconcile gram-for-gram).
    *
    * Buckets are id-RANGE deciles (bucket = doc_id·B div (max_id+1) off a
    * broadcast 1-row max), not rank deciles: an ntile/row_number ranking
    * is a global sort — the Audit global-window hazard — while the range
    * rule is a narrow integer map exact on both engines (equal-population
    * only if ids are dense, which the report's own n_docs column makes
    * visible). A gram's within-first-bucket repeats count as novel mass:
    * the metric prices "mass of text first contributed here".
    *
    * Exactness: all counts exact integers; the two shares are single
    * divisions (NULL when a bucket has no grams — sub-[[MemGram]] docs
    * still count in n_docs).
    *
    * Scale: the C64 shape — grams explode narrow with multiplicity and
    * collapse straight into the cache()d 16-byte (gram_hash, bucket)
    * occurrence grid (map-side partial agg, the only fact-scaled
    * shuffle); first-bucket mins re-aggregate the grid on its own key, so
    * the join back replans shuffle-free under AQE; the roll-up lands on
    * ≤ B rows. Doc counts come from a separate column-pruned doc_id-only
    * scan (no token re-read). */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val B = NoveltyBuckets
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val mx = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .agg(max("doc_id").as("max_id"))
    val bucketed = d.crossJoin(broadcast(mx))
      .withColumn("bucket",
        expr(s"least(doc_id * $B div (max_id + 1), ${B - 1})"))
    val grid = Caches.keep(bucketed
      .filter(size(col("toks")) >= MemGram)
      .select(col("bucket"), explode(expr(
        s"graft_word_grams(toks, $MemGram)")).as("gram"))
      .select(col("bucket"), unhex(md5(col("gram").cast("binary"))).as("gram_hash"))
      .groupBy("gram_hash", "bucket").agg(count(lit(1)).as("occ")))
    val firsts = grid.groupBy("gram_hash")
      .agg(min("bucket").as("first_bucket"))
    val perBucket = grid.join(firsts, "gram_hash")
      .groupBy("bucket").agg(
        sum("occ").as("n_gram_occ"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when(col("first_bucket") === col("bucket"), col("occ"))
          .otherwise(0L)).as("novel_occ"),
        sum(when(col("first_bucket") === col("bucket"), 1L)
          .otherwise(0L)).as("n_new_grams"))
    val nDocs = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id")).crossJoin(broadcast(mx))
      .select(expr(s"least(doc_id * $B div (max_id + 1), ${B - 1})")
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    nDocs.join(perBucket, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_gram_occ"), lit(0L)).as("n_gram_occ"),
        coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
        coalesce(col("novel_occ"), lit(0L)).as("novel_occ"),
        coalesce(col("n_new_grams"), lit(0L)).as("n_new_grams"),
        when(coalesce(col("n_gram_occ"), lit(0L)) > 0,
          col("novel_occ").cast("double") / col("n_gram_occ").cast("double"))
          .as("novel_occ_share"),
        when(coalesce(col("n_gram_occ"), lit(0L)) > 0,
          col("n_new_grams").cast("double")
            / col("n_distinct_grams").cast("double")).as("new_gram_share"))
      .orderBy("bucket")
  }

  val noveltyCurveSql: String = {
    val B = NoveltyBuckets
    val cat = (1 to MemGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    s"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    mx AS (SELECT MAX(doc_id) AS max_id FROM d),
    bd AS (
      SELECT least(doc_id * $B // (max_id + 1), ${B - 1}) AS bucket, toks
      FROM d, mx),
    g AS (
      SELECT bucket, md5(gram) AS gram_hash FROM (
        SELECT bucket, unnest(
          list_transform(range(0, len(toks) - ${MemGram - 1}), i ->
            $cat)) AS gram
        FROM bd WHERE len(toks) >= $MemGram)),
    grid AS (SELECT gram_hash, bucket, COUNT(*) AS occ FROM g GROUP BY 1, 2),
    f AS (SELECT gram_hash, MIN(bucket) AS first_bucket FROM grid GROUP BY 1),
    pb AS (
      SELECT bucket,
        CAST(SUM(occ) AS BIGINT) AS n_gram_occ,
        COUNT(*) AS n_distinct_grams,
        CAST(SUM(CASE WHEN first_bucket = bucket THEN occ ELSE 0 END)
          AS BIGINT) AS novel_occ,
        CAST(SUM(CASE WHEN first_bucket = bucket THEN 1 ELSE 0 END)
          AS BIGINT) AS n_new_grams
      FROM grid JOIN f USING (gram_hash) GROUP BY 1),
    nd AS (
      SELECT least(doc_id * $B // (max_id + 1), ${B - 1}) AS bucket,
        COUNT(*) AS n_docs
      FROM d, mx GROUP BY 1)
    SELECT nd.bucket, nd.n_docs,
      coalesce(pb.n_gram_occ, 0) AS n_gram_occ,
      coalesce(pb.n_distinct_grams, 0) AS n_distinct_grams,
      coalesce(pb.novel_occ, 0) AS novel_occ,
      coalesce(pb.n_new_grams, 0) AS n_new_grams,
      CASE WHEN coalesce(pb.n_gram_occ, 0) > 0
           THEN CAST(pb.novel_occ AS DOUBLE) / CAST(pb.n_gram_occ AS DOUBLE)
      END AS novel_occ_share,
      CASE WHEN coalesce(pb.n_gram_occ, 0) > 0
           THEN CAST(pb.n_new_grams AS DOUBLE)
                / CAST(pb.n_distinct_grams AS DOUBLE)
      END AS new_gram_share
    FROM nd LEFT JOIN pb USING (bucket)
    ORDER BY nd.bucket"""
  }

  /** C76: `q_feed_novelty` — per-source novelty of TODAY'S crawl against
    * the standing corpus (C71 reads novelty retrospectively across crawl
    * history; this is the daily admission gate next to C69's shape drift
    * and C58's dedup triage, answering the budget question directly: how
    * much genuinely new text is this source still delivering?). For each
    * source in the incoming batch ([[Feeds.incomingDocs]]): its
    * [[MemGram]]-gram occurrence mass split into grams already present in
    * the standing slice vs never-seen grams, by occurrence and by
    * distinct-gram count. Byte-identical re-fetches score fully known; a
    * source whose novel share collapses has gone stale.
    *
    * Exactness: integer counts off one grid; the two shares are single
    * divisions (NULL for a source with no ≥ MemGram-token docs).
    *
    * Scale: the feed side collapses to its (gram_hash, source) grid at
    * batch scale (O(today's crawl)); the standing side is the DISTINCT
    * gram-hash set — corpus-scaled, but at 100 TB this is the standing
    * gram INDEX built once and bucketed on gram_hash exactly like C58's
    * signature index (the daily query then probes it with an O(batch)
    * join, re-derived here from parquet because the test corpus is small);
    * the membership join keys both sides on the 16-byte hash, and the
    * roll-up lands on ≤ sources rows. */
  def feedNovelty(spark: SparkSession, dir: String): DataFrame =
    noveltyReport(Feeds.incomingDocs(spark, dir),
      standingGramIndex(spark, dir))

  /** The (source, gram_hash) explode shared by the C76 family. */
  private def sourceGramsOf(df: DataFrame): DataFrame = {
    df.filter(length(trim(col("text"))) > 0)
      .select(col("source"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= MemGram)
      .select(col("source"), explode(expr(
        s"graft_word_grams(toks, $MemGram)")).as("gram"))
      .select(col("source"), unhex(md5(col("gram").cast("binary"))).as("gram_hash"))
  }

  /** The standing-corpus gram INDEX the C76 family probes — the artifact a
    * production deployment materializes once (bucketed on gram_hash, the
    * C58 signature-index contract) and D24 freezes for the stream. */
  def standingGramIndex(spark: SparkSession, dir: String): DataFrame =
    standingGramIndexOf(Tables.documents(spark, dir)
      .filter(col("doc_id") % Feeds.IncrMod =!= Feeds.IncrRem))

  /** [[standingGramIndex]] of an ARBITRARY (source, text) frame — DF-
    * parametric so the `stream` sweep of [[graft.ScaleProbe]] can size
    * its standing index. */
  private[graft] def standingGramIndexOf(docs: DataFrame): DataFrame =
    gramHashRows(docs).withColumn("known", lit(1L))

  /** The raw distinct-gram-hash rows of a doc frame — the slice relation
    * [[graft.operators.StreamArtifacts]] persists per ingest day (the
    * `known` marker is a reader-side decoration). */
  private[graft] def gramHashRows(docs: DataFrame): DataFrame =
    sourceGramsOf(docs).select("gram_hash").distinct()

  /** C76's report on ANY (source, text) feed frame against ANY standing
    * gram set — batch C76 and D24's per-micro-batch scoring share this
    * plan verbatim. */
  private[graft] def noveltyReport(feedDocs: DataFrame,
      standing: DataFrame): DataFrame = {
    val feedGrid = sourceGramsOf(feedDocs)
      .groupBy("gram_hash", "source").agg(count(lit(1)).as("occ"))
    val nDocs = feedDocs
      .filter(length(trim(col("text"))) > 0)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val perSource = feedGrid
      .join(standing, Seq("gram_hash"), "left")
      .groupBy("source").agg(
        sum("occ").as("n_gram_occ"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when(col("known").isNull, col("occ")).otherwise(0L))
          .as("novel_occ"),
        sum(when(col("known").isNull, 1L).otherwise(0L))
          .as("n_novel_distinct"))
    nDocs.join(perSource, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_gram_occ"), lit(0L)).as("n_gram_occ"),
        coalesce(col("novel_occ"), lit(0L)).as("novel_occ"),
        coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
        coalesce(col("n_novel_distinct"), lit(0L)).as("n_novel_distinct"),
        when(coalesce(col("n_gram_occ"), lit(0L)) > 0,
          col("novel_occ").cast("double") / col("n_gram_occ").cast("double"))
          .as("novel_occ_share"),
        when(coalesce(col("n_gram_occ"), lit(0L)) > 0,
          col("n_novel_distinct").cast("double")
            / col("n_distinct_grams").cast("double"))
          .as("novel_distinct_share"))
      .orderBy("source")
  }

  val feedNoveltySql: String = {
    val cat = (1 to MemGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    def gramsCte(rel: String) = s"""
      SELECT source, md5(gram) AS gram_hash FROM (
        SELECT source, unnest(
          list_transform(range(0, len(toks) - ${MemGram - 1}), i ->
            $cat)) AS gram
        FROM (SELECT source,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
              FROM $rel WHERE length(trim(text)) > 0)
        WHERE len(toks) >= $MemGram)"""
    s"""
    WITH inc AS (${graft.sources.Feeds.incomingDocsSql}),
    standing AS (
      SELECT DISTINCT gram_hash FROM (${gramsCte(
        s"(SELECT * FROM documents WHERE doc_id % ${Feeds.IncrMod} <> ${Feeds.IncrRem})")})),
    fg AS (
      SELECT gram_hash, source, COUNT(*) AS occ
      FROM (${gramsCte("inc")}) GROUP BY 1, 2),
    nd AS (
      SELECT source, COUNT(*) AS n_docs FROM inc
      WHERE length(trim(text)) > 0 GROUP BY 1),
    ps AS (
      SELECT fg.source,
        CAST(SUM(occ) AS BIGINT) AS n_gram_occ,
        COUNT(*) AS n_distinct_grams,
        CAST(SUM(CASE WHEN s.gram_hash IS NULL THEN occ ELSE 0 END)
          AS BIGINT) AS novel_occ,
        CAST(SUM(CASE WHEN s.gram_hash IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_novel_distinct
      FROM fg LEFT JOIN standing s USING (gram_hash) GROUP BY 1)
    SELECT nd.source, nd.n_docs,
      coalesce(ps.n_gram_occ, 0) AS n_gram_occ,
      coalesce(ps.novel_occ, 0) AS novel_occ,
      coalesce(ps.n_distinct_grams, 0) AS n_distinct_grams,
      coalesce(ps.n_novel_distinct, 0) AS n_novel_distinct,
      CASE WHEN coalesce(ps.n_gram_occ, 0) > 0
           THEN CAST(ps.novel_occ AS DOUBLE) / CAST(ps.n_gram_occ AS DOUBLE)
      END AS novel_occ_share,
      CASE WHEN coalesce(ps.n_gram_occ, 0) > 0
           THEN CAST(ps.n_novel_distinct AS DOUBLE)
                / CAST(ps.n_distinct_grams AS DOUBLE)
      END AS novel_distinct_share
    FROM nd LEFT JOIN ps USING (source)
    ORDER BY nd.source"""
  }

  /** C65 output-shard count. A real export picks shards ≈ corpus_bytes /
    * target_file_size; the arithmetic below is shard-count-agnostic.
    * Declared before the SQL val that interpolates it. */
  val NumShards: Int = 8

  /** C65: `q_corpus_shard` — deterministic output-shard MANIFEST: every
    * kept doc routes to `graft_str_hash('shard|' + normalized content) %
    * [[NumShards]]` and the report prices each shard (docs, tokens, token
    * share, balance vs uniform) and fingerprints it with an
    * order-independent content checksum. This is the plan for the final
    * corpus EXPORT — the writer is just `df.repartition(NumShards,
    * col("shard_id")).write.parquet(...)` — and the manifest is what makes
    * the export REPRODUCIBLE: content-keyed routing means a re-crawl with
    * different doc_ids lands every unchanged doc in the same shard, and
    * two exports are byte-equal in content iff their checksum columns
    * match, with no re-read of either corpus.
    *
    * Exactness: counts/sums are exact integers; the checksum is BIT_XOR
    * of a per-doc salted content hash — XOR is commutative (partition
    * order can't perturb it) and cannot overflow, where a SUM of hashes
    * would wrap BIGINT at corpus scale. A second salt (`cksum|` vs
    * `shard|`) keeps the fingerprint's low bits from degenerating to the
    * shard id. The shares are single divisions of exact longs.
    *
    * Scale: ONE narrow codegen'd pass, partial-aggregated map-side onto
    * [[NumShards]] groups — the only exchange moves ≤ tasks·shards rows —
    * plus a 1-row broadcast total. The [[NumShards]]-row manifest is
    * cache()d so the total and the report read it without re-scanning the
    * corpus (the C27 lesson). No fact-side shuffle at any corpus
    * size (the export itself pays the one full shuffle; the manifest
    * never does). */
  def corpusShard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(
        (expr("graft_str_hash(concat('shard|', lower(trim(text))))")
          % NumShards).as("shard_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        expr("graft_str_hash(concat('cksum|', lower(trim(text))))").as("ck"))
    val sh = Caches.keep(d.groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
      expr("bit_xor(ck)").as("content_checksum")))
    val tot = sh.agg(sum("n_tokens").as("t_total"))
    sh.crossJoin(broadcast(tot))
      .withColumn("token_share",
        col("n_tokens").cast("double") / col("t_total").cast("double"))
      .withColumn("balance_ratio",
        col("token_share") * lit(NumShards.toDouble))
      .select("shard_id", "n_docs", "n_tokens", "token_share",
        "balance_ratio", "content_checksum")
      .orderBy("shard_id")
  }

  private def strHashSqlOn(e: String): String = s"""
    list_reduce(list_transform(range(1, length($e) + 1), i ->
      CAST(ascii(substr($e, CAST(i AS INT), 1)) AS BIGINT)),
      (acc, c) -> (acc * 31 + c) % 2147483647)"""

  /** Id offset minting fresh doc ids for the admitted re-crawl batch in
    * C67 (an ingest assigns new ids; byte-identical content keeps its
    * bytes). Declared before the SQL val that interpolates it. */
  val LeakIdOffset: Long = 10000000L

  /** C67: `q_split_leakage` — the WHY of C19's content-keyed split,
    * measured: over the post-admission corpus (standing docs ∪ a
    * re-crawl batch with re-minted ids — the C58 feed, whose every third
    * page is a byte-identical re-fetch), count duplicate pairs that land
    * in DIFFERENT train/val/test splits under two policies: C19's
    * content-hash key and the naive id-hash key. A cross-split duplicate
    * pair IS eval contamination — the eval answer sits verbatim in
    * train. Content keying makes the leak structurally zero (identical
    * bytes ⇒ identical key ⇒ same split); id keying re-rolls the die per
    * copy, so every re-fetch is a coin-flip leak. The report row pair is
    * the evidence a curator shows for the policy choice.
    *
    * Exactness: pair counts are BIGINT binomials n·(n−1) div 2 on exact
    * group sizes (overflow needs a ~3·10⁹-copy group — the C2-class
    * degenerate family a curator caps upstream); `leak_share` is one
    * division of exact longs.
    *
    * Scale: one narrow pass over the standing corpus plus the feed's
    * id-equi-join (C58's shape, batch side small at any scale); both
    * policies ride ONE plan via a two-policy union, aggregated on
    * fixed-width (policy, 16-byte hash, split) keys — the only
    * fact-scaled shuffle — then re-keyed onto (policy, hash) and
    * collapsed to a 2-row report. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(h: org.apache.spark.sql.Column) =
      when(h < SplitTrainPct, "train")
        .when(h < SplitValPct, "val").otherwise("test")
    val feed = graft.sources.Feeds.incomingDocs(spark, dir)
      .select((col("doc_id") + LeakIdOffset).as("doc_id"), col("text"))
    val b = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .unionByName(feed)
      .filter(length(trim(col("text"))) > 0)
      .select(md5(lower(trim(col("text"))).cast("binary")).as("nh"),
        splitOf(expr("graft_str_hash(lower(trim(text)))") % 100).as("sc"),
        splitOf(expr("graft_str_hash(cast(doc_id as string))") % 100).as("si"))
    // ONE corpus pass for both policies: the union-of-branches shape
    // replayed the whole hash/normalize subtree per policy (the C93 class,
    // caught by the round-10 repeated-scan audit) — a per-row 2-element
    // explode emits both policy rows map-side instead
    val l = b.select(col("nh"), explode(array(
        struct(lit("by_content").as("policy"), col("sc").as("split")),
        struct(lit("by_doc_id").as("policy"), col("si").as("split"))))
        .as("ps"))
      .select(col("ps.policy").as("policy"), col("nh"),
        col("ps.split").as("split"))
    l.groupBy("policy", "nh", "split").agg(count(lit(1)).as("c"))
      .groupBy("policy", "nh")
      .agg(sum("c").as("n"), sum(expr("c * (c - 1) DIV 2")).as("same"))
      .filter(col("n") >= 2)
      .groupBy("policy").agg(
        count(lit(1)).as("n_dup_groups"),
        sum(expr("n * (n - 1) DIV 2")).as("n_dup_pairs"),
        (sum(expr("n * (n - 1) DIV 2")) - sum("same"))
          .as("cross_split_pairs"))
      .withColumn("leak_share",
        col("cross_split_pairs").cast("double")
          / col("n_dup_pairs").cast("double"))
      .orderBy("policy")
  }

  val splitLeakageSql: String = s"""
    WITH inc AS (${graft.sources.Feeds.incomingDocsSql}),
    u AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + $LeakIdOffset, text FROM inc),
    b AS (
      SELECT md5(norm) AS nh,
        CASE WHEN hc < $SplitTrainPct THEN 'train'
             WHEN hc < $SplitValPct THEN 'val' ELSE 'test' END AS sc,
        CASE WHEN hi < $SplitTrainPct THEN 'train'
             WHEN hi < $SplitValPct THEN 'val' ELSE 'test' END AS si
      FROM (
        SELECT norm,
          ${strHashSqlOn("norm")} % 100 AS hc,
          ${strHashSqlOn("CAST(doc_id AS VARCHAR)")} % 100 AS hi
        FROM (SELECT doc_id, lower(trim(text)) AS norm FROM u
              WHERE length(trim(text)) > 0))),
    l AS (
      SELECT 'by_content' AS policy, nh, sc AS split FROM b
      UNION ALL SELECT 'by_doc_id', nh, si FROM b),
    c AS (SELECT policy, nh, split, COUNT(*) AS c FROM l GROUP BY 1, 2, 3),
    g AS (
      SELECT policy, nh, CAST(SUM(c) AS BIGINT) AS n,
        CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS same
      FROM c GROUP BY 1, 2)
    SELECT policy, COUNT(*) AS n_dup_groups,
      CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS n_dup_pairs,
      CAST(SUM((n * (n - 1)) // 2) - SUM(same) AS BIGINT)
        AS cross_split_pairs,
      CAST(SUM((n * (n - 1)) // 2) - SUM(same) AS DOUBLE)
        / CAST(SUM((n * (n - 1)) // 2) AS DOUBLE) AS leak_share
    FROM g WHERE n >= 2
    GROUP BY 1 ORDER BY policy"""

  val corpusShardSql: String = s"""
    WITH d AS (
      SELECT
        ${strHashSqlOn("'shard|' || lower(trim(text))")} % $NumShards
          AS shard_id,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
          AS n_tok,
        ${strHashSqlOn("'cksum|' || lower(trim(text))")} AS ck
      FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        bit_xor(ck) AS content_checksum
      FROM d GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_total FROM sh)
    SELECT shard_id, n_docs, n_tokens,
      CAST(n_tokens AS DOUBLE) / CAST(t_total AS DOUBLE) AS token_share,
      CAST(n_tokens AS DOUBLE) / CAST(t_total AS DOUBLE)
        * CAST($NumShards AS DOUBLE) AS balance_ratio,
      content_checksum
    FROM sh, tot ORDER BY shard_id"""

  /** C69 length-bucket cut points (whitespace tokens): docs fall into
    * buckets [0,16) [16,64) [64,256) [256,1024) [1024,4096) [4096,∞) —
    * fixed CASE edges, exact on any engine (no float log binning).
    * Declared before the SQL val that interpolates it. */
  val DriftEdges: Seq[Int] = Seq(16, 64, 256, 1024, 4096)

  /** C69: `q_source_drift` — per-source distribution drift between the
    * standing corpus and the incoming re-crawl batch
    * ([[Feeds.incomingDocs]]): the go/no-go a curator reads before
    * admitting a crawl. For each source, the total-variation distance
    * between base and feed over (a) the token-length histogram
    * ([[DriftEdges]] buckets) and (b) the language mix, plus the
    * worst-drifting length bucket and its share gap — a source whose
    * `tv_len` jumps is a crawler suddenly pulling a different page class
    * (C68 catches the PII flavor of the same failure; this catches shape).
    *
    * Exactness: TV is computed in the EXACT integer domain — for bucket i
    * with base count a_i (base total A) and feed count b_i (feed total B),
    * TV = Σ|a_i·B − b_i·A| / (2·A·B); the numerator is a sum of exact
    * DECIMAL(38,0) products (order-independent), and only the final
    * division is floating-point. No per-bucket double shares are ever
    * summed, so bucket order cannot perturb a bit. A feed-empty source
    * reports NULL drift, not 0 — a source absent from today's crawl went
    * DARK, which is a different alarm than "no drift".
    *
    * Scale: ONE union pass over base + feed partial-aggregates onto the
    * (source, bucket, lang) grid — the only fact-scaled shuffle; both
    * marginals, the totals, and the report derive from that tiny grid.
    * DECIMAL(38,0) keeps the cross products exact past the BIGINT range
    * (overflow needs ~10¹⁹ docs·docs per source pair). */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    sourceDriftOf(Tables.documents(spark, dir),
      Feeds.incomingDocs(spark, dir))

  /** C69's report on ANY (base, feed) frame pair — shared by the
    * registered query and the C81 composition (which feeds a CACHED feed
    * relation so the four component gates share one feed computation). */
  private[graft] def sourceDriftOf(base: DataFrame,
      feed: DataFrame): DataFrame = {
    def lenb(c: org.apache.spark.sql.Column) =
      DriftEdges.zipWithIndex.foldRight(lit(DriftEdges.size)) {
        case ((edge, i), rest) => when(c < edge, i).otherwise(rest)
      }
    def prep(df: DataFrame, side: String) =
      df.filter(length(trim(col("text"))) > 0)
        .select(lit(side).as("side"), col("source"), col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val dec = "decimal(18,0)"
    val grid = Caches.keep(prep(base, "base")
      .unionByName(prep(feed, "feed"))
      .select(col("source"), lenb(col("n_tok")).as("lenb"), col("lang"),
        col("side"))
      .groupBy("source", "lenb", "lang")
      .agg(sum(when(col("side") === "base", 1L).otherwise(0L)).as("a"),
        sum(when(col("side") === "feed", 1L).otherwise(0L)).as("b")))
    val tot = grid.groupBy("source")
      .agg(sum("a").cast("long").as("base_docs"),
        sum("b").cast("long").as("feed_docs"))
    def marginal(key: String) = grid.groupBy(col("source"), col(key))
      .agg(sum("a").cast("long").as("a"), sum("b").cast("long").as("b"))
      .join(tot, "source")
      .withColumn("dev", abs(col("a").cast(dec) * col("feed_docs").cast(dec)
        - col("b").cast(dec) * col("base_docs").cast(dec)))
    def tv(num: org.apache.spark.sql.Column) =
      when(col("feed_docs") === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / (lit(2.0)
          * col("base_docs").cast("double") * col("feed_docs").cast("double")))
    val lenDev = marginal("lenb")
    val tvLen = lenDev.groupBy("source").agg(sum("dev").as("num_len"))
    val tvLang = marginal("lang").groupBy("source")
      .agg(sum("dev").as("num_lang"))
    val wTop = Window.partitionBy("source")
      .orderBy(col("dev").desc, col("lenb").asc)
    val top = lenDev.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("source"), col("lenb").as("top_len_bucket"),
        when(col("feed_docs") === 0, lit(null).cast("double"))
          .otherwise(col("dev").cast("double")
            / (col("base_docs").cast("double")
              * col("feed_docs").cast("double"))).as("top_len_gap"))
    tot.join(tvLen, "source").join(tvLang, "source").join(top, "source")
      .select(col("source"), col("base_docs"), col("feed_docs"),
        tv(col("num_len")).as("tv_len"), tv(col("num_lang")).as("tv_lang"),
        col("top_len_bucket"), col("top_len_gap"))
      .orderBy("source")
  }

  /** DuckDB twin of the C69 bucket CASE, on an expression `e`. */
  private def lenbSqlOn(e: String): String =
    DriftEdges.zipWithIndex.map { case (edge, i) =>
      s"WHEN $e < $edge THEN $i"
    }.mkString("CASE ", " ", s" ELSE ${DriftEdges.size} END")

  val sourceDriftSql: String = s"""
    WITH inc AS (${Feeds.incomingDocsSql}),
    u AS (
      SELECT 'base' AS side, source, lang,
        len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents WHERE length(trim(text)) > 0
      UNION ALL
      SELECT 'feed', source, lang,
        len(regexp_split_to_array(trim(text), '\\s+'))
      FROM inc WHERE length(trim(text)) > 0),
    g AS (
      SELECT source, ${lenbSqlOn("n_tok")} AS lenb, lang,
        CAST(SUM(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN side = 'feed' THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM u GROUP BY 1, 2, 3),
    tot AS (
      SELECT source, CAST(SUM(a) AS BIGINT) AS base_docs,
        CAST(SUM(b) AS BIGINT) AS feed_docs
      FROM g GROUP BY 1),
    lm AS (
      SELECT g.source, g.lenb,
        abs(CAST(SUM(g.a) AS HUGEINT) * t.feed_docs
          - CAST(SUM(g.b) AS HUGEINT) * t.base_docs) AS dev,
        t.base_docs, t.feed_docs
      FROM g JOIN tot t USING (source) GROUP BY g.source, g.lenb,
        t.base_docs, t.feed_docs),
    gm AS (
      SELECT g.source, g.lang,
        abs(CAST(SUM(g.a) AS HUGEINT) * t.feed_docs
          - CAST(SUM(g.b) AS HUGEINT) * t.base_docs) AS dev
      FROM g JOIN tot t USING (source) GROUP BY g.source, g.lang,
        t.base_docs, t.feed_docs),
    tvl AS (SELECT source, SUM(dev) AS num_len FROM lm GROUP BY 1),
    tvg AS (SELECT source, SUM(dev) AS num_lang FROM gm GROUP BY 1),
    top AS (
      SELECT source, lenb AS top_len_bucket,
        CASE WHEN feed_docs = 0 THEN NULL
          ELSE CAST(dev AS DOUBLE)
            / (CAST(base_docs AS DOUBLE) * CAST(feed_docs AS DOUBLE)) END
          AS top_len_gap,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY dev DESC, lenb ASC) AS rn
      FROM lm)
    SELECT t.source, t.base_docs, t.feed_docs,
      CASE WHEN t.feed_docs = 0 THEN NULL
        ELSE CAST(tvl.num_len AS DOUBLE) / (2.0
          * CAST(t.base_docs AS DOUBLE) * CAST(t.feed_docs AS DOUBLE)) END
        AS tv_len,
      CASE WHEN t.feed_docs = 0 THEN NULL
        ELSE CAST(tvg.num_lang AS DOUBLE) / (2.0
          * CAST(t.base_docs AS DOUBLE) * CAST(t.feed_docs AS DOUBLE)) END
        AS tv_lang,
      top.top_len_bucket, top.top_len_gap
    FROM tot t
    JOIN tvl USING (source) JOIN tvg USING (source)
    JOIN (SELECT * FROM top WHERE rn = 1) top USING (source)
    ORDER BY t.source"""

  /** C81 admission thresholds — deliberately permissive defaults (a real
    * deployment tunes them per source class); the REPORT is the product,
    * the flag is the one-glance summary. Declared before the SQL val. */
  val AdmitTvMax: Double = 0.5
  val AdmitPiiDocShareMax: Double = 0.9
  val AdmitNovelMin: Double = 0.01

  /** C81: `q_admission_report` — the DAILY GO/NO-GO: every per-source
    * admission gate this engine computes, joined into the one row an
    * ingest operator actually reads each morning. Per feed source — the
    * C58 triage tally (exact-drop / near-review / admit counts), C76's
    * novel-mass share, C69's shape drift (tv_len, tv_lang), the PII
    * incidence of the batch itself (C68's arithmetic over THIS feed, so
    * the compliance column describes the batch being admitted, not the
    * separate injected-PII QA feed), and the `admit_source` flag
    * ([[AdmitTvMax]] ∧ [[AdmitPiiDocShareMax]] ∧ [[AdmitNovelMin]]). This
    * is the capstone composition: the gates stay independently
    * oracle-checked, and this row proves they join on the source key into
    * the production artifact.
    *
    * Exactness: every column is an already-exact component output or an
    * integer count; the flag compares bit-identical doubles to constants.
    *
    * Scale: four component plans (each individually 100 TB-shaped — see
    * their own scaladocs) joined on ≤ sources-row grids; the join layer
    * adds no fact-scaled work. The incoming feed is computed ONCE and
    * cache()d — all four gates consume the cached relation instead of
    * each re-running the feed's documents self-join (round-7 advice: the
    * composition re-scanned the feed four times); at 100 TB the analog is
    * the staged crawl batch every gate reads. Components cache
    * internally. */
  def admissionReport(spark: SparkSession, dir: String): DataFrame = {
    val feed = Caches.keep(Feeds.incomingDocs(spark, dir))
    val standing = Tables.documents(spark, dir)
      .filter(col("doc_id") % Feeds.IncrMod =!= Feeds.IncrRem)
    val (indexHash, coldSigs) =
      DedupOps.buildIncrementalIndex(spark, standing)
    val triage = DedupOps.incrementalTriage(feed, indexHash, coldSigs)
      .join(feed.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("decision") === "drop_exact", 1L).otherwise(0L))
          .as("n_drop_exact"),
        sum(when(col("decision") === "review_near", 1L).otherwise(0L))
          .as("n_review_near"),
        sum(when(col("decision") === "admit", 1L).otherwise(0L))
          .as("n_admit"))
    val novelty = noveltyReport(feed, standingGramIndex(spark, dir))
      .select(col("source"), col("novel_occ_share"))
    val drift = sourceDriftOf(Tables.documents(spark, dir), feed)
      .select(col("source"), col("tv_len"), col("tv_lang"))
    val pii = graft.operators.TextOps.piiAuditAgg(feed)
      .select(col("source"), col("pii_doc_share"),
        col("redactions_per_10k_tok"))
    triage.join(novelty, Seq("source")).join(drift, Seq("source"))
      .join(pii, Seq("source"))
      .withColumn("admit_source",
        col("tv_len") <= AdmitTvMax &&
          col("pii_doc_share") <= AdmitPiiDocShareMax &&
          col("novel_occ_share") >= AdmitNovelMin)
      .orderBy("source")
  }

  val admissionReportSql: String = s"""
    WITH inc AS (${graft.sources.Feeds.incomingDocsSql}),
    tri AS (${graft.operators.DedupOps.dedupIncrementalSql}),
    tr AS (
      SELECT i.source, COUNT(*) AS n_batch,
        CAST(SUM(CASE WHEN t.decision = 'drop_exact' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_drop_exact,
        CAST(SUM(CASE WHEN t.decision = 'review_near' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_review_near,
        CAST(SUM(CASE WHEN t.decision = 'admit' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_admit
      FROM tri t JOIN inc i USING (doc_id) GROUP BY 1),
    nov AS (SELECT source, novel_occ_share FROM ($feedNoveltySql)),
    dr AS (SELECT source, tv_len, tv_lang FROM ($sourceDriftSql)),
    pd AS (
      SELECT source,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
          AS n_tok,
        CAST(len(regexp_extract_all(text, '${graft.operators.TextOps.EmailRe}'))
          AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(text, '${graft.operators.TextOps.PhoneRe}'))
          AS BIGINT) AS n_phone
      FROM inc WHERE length(trim(text)) > 0),
    pii AS (
      SELECT source,
        CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END)
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pii_doc_share,
        CAST(SUM(n_email + n_phone) * 10000 AS DOUBLE)
          / CAST(SUM(n_tok) AS DOUBLE) AS redactions_per_10k_tok
      FROM pd GROUP BY 1)
    SELECT tr.source, tr.n_batch, tr.n_drop_exact, tr.n_review_near,
      tr.n_admit, nov.novel_occ_share, dr.tv_len, dr.tv_lang,
      pii.pii_doc_share, pii.redactions_per_10k_tok,
      (dr.tv_len <= $AdmitTvMax AND pii.pii_doc_share <= $AdmitPiiDocShareMax
        AND nov.novel_occ_share >= $AdmitNovelMin) AS admit_source
    FROM tr JOIN nov USING (source) JOIN dr USING (source)
    JOIN pii USING (source)
    ORDER BY tr.source"""

  /** C83: `q_snapshot_diff` — per-source crawl-refresh diff: classify every
    * page of the OLD corpus vs the re-crawled snapshot
    * ([[Feeds.recrawlSnapshot]]) as added / removed / changed / unchanged by
    * content hash and report per-source counts plus the net byte drift.
    * This is the report a corpus owner reads before admitting a refreshed
    * crawl (how much churned? did a source silently lose half its pages?)
    * and the input a downstream incremental pipeline (C58's screen, A6's
    * sync) sizes its batch from. Mirrors the reference's full-vs-incremental
    * reload decision surface (endpoints.py:18 vs :50) lifted to corpus
    * scale.
    *
    * Exactness: statuses are md5-equality decisions; every output cell is
    * an integer count/sum.
    *
    * Scale: both snapshots reduce to (doc_id, source, md5, length) in one
    * narrow codegen'd pass each — the full outer join shuffles those
    * fixed-width rows ONCE on doc_id (never the text), and everything after
    * is a per-source rollup of ~sources rows. Uniform id keys, no skew; at
    * 100 TB the cost is the two scans plus one fixed-width-row exchange. */
  /** The (doc_id, source, content-hash, length) signature both snapshot
    * differs reduce a corpus to — C83's full-outer diff and D30's
    * per-micro-batch observed diff share it so the identity rule cannot
    * drift. At 100 TB the OLD side's signatures persist as an index (the
    * C58 contract); the reduction is one narrow codegen'd pass. */
  private[graft] def snapshotSig(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"),
      md5(col("text")).as("h"), length(col("text")).cast("long").as("len"))

  /** C83's classification restricted to the OBSERVED side — the per-batch
    * shape D30 streams: each arriving page is added / changed / unchanged
    * vs the frozen old-signature relation ("removed" is unobservable from
    * an arrival stream — absence of a page is only decidable once the
    * crawl FINISHES, which is batch C83's retrospective job). One
    * id-keyed left join of fixed-width signature rows; `d_len` counts
    * observed pages only, so the counters are ADDITIVE over any
    * micro-batch split of the crawl. */
  private[graft] def snapshotDiffObserved(pages: DataFrame,
      oldSigs: DataFrame): DataFrame =
    snapshotSig(pages)
      .join(oldSigs.select(col("doc_id").as("o_id"), col("h").as("o_h"),
        col("len").as("o_len")), col("doc_id") === col("o_id"), "left")
      .select(col("source"),
        when(col("o_id").isNull, lit("added"))
          .when(col("o_h") =!= col("h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        (col("len") - coalesce(col("o_len"), lit(0L))).as("d_len"))
      .groupBy("source").agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum("d_len").as("chars_delta_observed"))

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val sig = snapshotSig _
    val old = sig(Tables.documents(spark, dir)).as("o")
    val neu = sig(Feeds.recrawlSnapshot(spark, dir)).as("n")
    val j = old.join(neu, col("o.doc_id") === col("n.doc_id"), "full_outer")
      .select(
        coalesce(col("n.source"), col("o.source")).as("source"),
        when(col("o.doc_id").isNull, lit("added"))
          .when(col("n.doc_id").isNull, lit("removed"))
          .when(col("o.h") =!= col("n.h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        (coalesce(col("n.len"), lit(0L)) - coalesce(col("o.len"), lit(0L)))
          .as("d_len"))
    j.groupBy("source").agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(col("d_len")).as("chars_delta"))
      .orderBy("source")
  }

  val snapshotDiffSql: String = s"""
    WITH neu AS (${Feeds.recrawlSnapshotSql}),
    o AS (SELECT doc_id, source, md5(text) AS h, length(text) AS len
          FROM documents),
    n AS (SELECT doc_id, source, md5(text) AS h, length(text) AS len FROM neu),
    j AS (
      SELECT coalesce(n.source, o.source) AS source,
        CASE WHEN o.doc_id IS NULL THEN 'added'
             WHEN n.doc_id IS NULL THEN 'removed'
             WHEN o.h <> n.h THEN 'changed'
             ELSE 'unchanged' END AS status,
        coalesce(n.len, 0) - coalesce(o.len, 0) AS d_len
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
    SELECT source,
      CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
      CAST(sum(d_len) AS BIGINT) AS chars_delta
    FROM j GROUP BY 1 ORDER BY source"""

  /** Builds the Bloom word array over the DISTINCT benchmark grams — the
    * "train the screen" job of C84. Distributed end-to-end: each gram
    * explodes to its k bit positions ([[graft.functions.Kernels.bloomCells]],
    * codegen'd), positions OR into 64-bit words map-side (`bit_or` is
    * distributive, so partial aggregation collapses each partition to
    * ≤ [[graft.functions.Kernels.BloomWordCount]] rows before the one tiny
    * shuffle), and the driver materializes the finished filter. The collect
    * is bounded by the filter GEOMETRY — ≤ 4096 rows / 32 KiB whatever the
    * corpus or benchmark size — the same bounded-model-freeze class as the
    * drift streams' grids (Audit-vetted); it is the "ship the trained
    * filter" step, after which the filter rides the screen stage's codegen
    * references. */
  private[graft] def bloomBuild(benchGrams: DataFrame,
      mBits: Int = graft.functions.Kernels.BloomBits): Array[Long] = {
    // bloomHit derives m as 64 * words.length, so a non-multiple-of-64
    // geometry would silently diverge between build and probe (and bit
    // positions past 64*(mBits/64) would overflow the array): fail fast.
    require(mBits > 0 && mBits % 64 == 0,
      s"bloom geometry must be a positive multiple of 64 bits, got $mBits")
    val words = new Array[Long](mBits / 64)
    benchGrams
      .select(explode(expr(s"graft_bloom_cells(gram, $mBits)")).as("pos"))
      .select(expr("shiftright(pos, 6)").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("m"))
      .collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** C84: `q_bloom_decontaminate` — the decontamination SCREEN at its
    * production shape. C25 proves the semantics (every training doc sharing
    * an 8-token shingle with the benchmark slice is contaminated) but joins
    * EVERY training gram against the benchmark set — at 100 TB that is a
    * corpus-wide shuffle of all grams. This operator screens the way a
    * production pipeline does:
    *
    *   1. BUILD: benchmark grams → 32 KiB Bloom filter (one bounded job,
    *      [[bloomBuild]]);
    *   2. SCREEN: every training gram probes the filter INSIDE the scan —
    *      [[graft.functions.BloomHitExpr]] is a codegen'd static
    *      call, so the non-contaminated bulk (at 100 TB, ~everything) dies
    *      in the narrow pass with NO join and NO shuffle;
    *   3. CONFIRM: only Bloom survivors (true hits + a bounded
    *      false-positive residue) reach the exact gram join, so the one
    *      shuffle is O(survivors + benchmark), not O(corpus).
    *
    * The confirm join makes the Bloom invisible to the RESULT (no false
    * negatives by construction, false positives rejected exactly), so the
    * per-source report equals the exact C25 aggregation — which is exactly
    * what the DuckDB oracle computes, Bloom-free. Output cells are integer
    * counts only.
    *
    * Reference: the reference re-validates its full table on every reload
    * (etl_service.py:570-633); this is that gate re-thought for a corpus
    * where re-joining everything is no longer an option. */
  /** The SCREEN + CONFIRM stage shared by batch C84 and its streaming twin
    * (D27, [[graft.streaming.BloomGateStream]]): per-doc contamination
    * verdicts for any (doc_id, source, text) relation against a frozen
    * Bloom filter `words` and the exact benchmark gram set. Stateless per
    * input row group — in streaming every verdict completes inside its
    * micro-batch. */
  private[graft] def bloomScreen(docs: DataFrame, benchGrams: DataFrame,
      words: Array[Long]): DataFrame = {
    val base = decontamBaseOf(docs)
    val survivors = decontamGrams(base).filter(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.BloomHitExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            expr("graft_str_hash(gram)")), words)))
    val hits = survivors.join(benchGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    base.select("doc_id", "source")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  def bloomDecontaminate(spark: SparkSession, dir: String,
      mBits: Int = graft.functions.Kernels.BloomBits): DataFrame = {
    val base = decontamBase(spark, dir)
    val benchGrams = decontamGrams(base)
      .filter(col("doc_id") % BenchMod === BenchRem).select("gram").distinct()
    val words = bloomBuild(benchGrams, mBits)
    val train = Tables.documents(spark, dir)
      .filter(col("doc_id") % BenchMod =!= BenchRem)
    bloomScreen(train, benchGrams, words)
      .groupBy("source").agg(
        count(lit(1)).as("docs_screened"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("docs_contaminated"),
        sum(col("n_hits")).as("grams_hit_total"),
        max(col("n_hits")).as("max_hits"))
      .orderBy("source")
  }

  /** C86 budget: the fill target is this fraction of the corpus's total
    * token mass (div — exact integer). */
  val FillBudgetDiv: Int = 4

  /** Quality-bucket granularity for C86's histogram threshold: bucket =
    * floor(score · 10^6). */
  val FillBucketScale: Double = 1.0e6

  /** C86: `q_token_budget_fill` — fill a training-token budget with the
    * highest-quality documents: rank by (quality_score DESC, doc_id) and
    * admit the maximal prefix whose cumulative token count fits the budget
    * (total corpus tokens div [[FillBudgetDiv]]). This is the selection a
    * budgeted pretraining run makes ("we can afford N tokens — take the
    * best corpus that fits"), the budget-constrained sibling of C63's
    * threshold sweep.
    *
    * Scale: the naive plan is a GLOBAL SORT of the corpus by score plus a
    * single-partition running sum — both non-starters at 100 TB. This plan
    * finds the admission threshold from a BOUNDED histogram instead:
    *
    *   1. one narrow codegen'd pass scores each doc and buckets the score
    *      (floor(q·10^6) — exact, so equal scores share a bucket and the
    *      (score, doc_id) order never straddles buckets);
    *   2. per-bucket token subtotals (bounded grid, map-side combined),
    *      cumulated top-down over the grid (a bounded-window scan, the C49
    *      device) to locate the BOUNDARY bucket b*: buckets above it fit
    *      entirely, buckets below are entirely out;
    *   3. full buckets admit with a broadcast threshold compare (narrow);
    *      only the boundary bucket's docs — one bucket, not the corpus —
    *      run the exact (score DESC, doc_id) prefix window, offset by the
    *      mass above.
    *
    * A corpus where one bucket is still too large recurses the same
    * histogram split inside b* at a finer scale; the test-scale plan stops
    * at one level (documented, like C28→C49's chunk constant).
    *
    * Exactness: token counts and budget are exact longs (budget = div);
    * scores are the shared C9 double chain, identical in both engines, and
    * the admitted SET is determined by exact comparisons, so the oracle's
    * declarative global-window cumsum selects the identical rows.
    */
  def tokenBudgetFill(spark: SparkSession, dir: String,
      budgetDiv: Int = FillBudgetDiv): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one materialization feeds the budget total, the histogram and both
    // admit branches — four canonically-different subtrees otherwise
    // re-run the regex scoring scan four times (the C21 cache rule)
    val scored = Caches.keep(Tables.documents(spark, dir)
      .filter(length(col("text")) > 0 && length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        TextOps.qualityScoreCol(col("text")).as("quality_score"))
      .withColumn("bkt",
        floor(col("quality_score") * lit(FillBucketScale)).cast("long")))
    val budget = scored.agg(sum("n_tok").as("t"))
      .select(expr(s"t div $budgetDiv").as("budget"))
    val grid = scored.groupBy("bkt").agg(sum("n_tok").as("btok"))
    // bounded-grid cumulation (≤ distinct-score buckets, never the corpus)
    val wDesc = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = grid.withColumn("cum_incl", sum("btok").over(wDesc))
      .withColumn("cum_above", col("cum_incl") - col("btok"))
    val bstar = cums.crossJoin(broadcast(budget))
      .filter(col("cum_above") <= col("budget"))
      .agg(min(struct(col("bkt"), col("cum_above"), col("budget")))
        .as("s"))
      .select(col("s.bkt").as("bstar"), col("s.cum_above").as("offset"),
        col("s.budget").as("budget"))
    val full = scored.join(broadcast(bstar), col("bkt") > col("bstar"))
    val wBucket = Window.partitionBy("bkt")
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = scored.join(broadcast(bstar), col("bkt") === col("bstar"))
      .withColumn("cum_in", sum("n_tok").over(wBucket))
      .filter(col("offset") + col("cum_in") <= col("budget"))
    full.select("doc_id", "source", "n_tok", "quality_score")
      .unionByName(
        boundary.select("doc_id", "source", "n_tok", "quality_score"))
      .orderBy("doc_id")
  }

  def tokenBudgetFillSqlFor(budgetDiv: Int = FillBudgetDiv): String = s"""
    WITH q AS (
      SELECT doc_id, source, n_tok, ${TextOps.qualitySqlScore} AS quality_score
      FROM (
        SELECT doc_id, source, n_tok, ${TextOps.qualitySqlRatios}
        FROM (
          SELECT doc_id, source, ${TextOps.qualitySqlMeasures}
          FROM documents)
        WHERE n_chars_d > 0 AND n_tok > 0)),
    b AS (SELECT CAST(sum(n_tok) // $budgetDiv AS BIGINT) AS budget FROM q),
    w AS (
      SELECT doc_id, source, n_tok, quality_score,
        SUM(n_tok) OVER (ORDER BY quality_score DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM q)
    SELECT doc_id, source, n_tok, quality_score
    FROM w, b WHERE cum <= budget ORDER BY doc_id"""

  val tokenBudgetFillSql: String = tokenBudgetFillSqlFor()

  /** Oracle: the exact decontamination aggregation per source — the Bloom
    * is a plan optimization the confirm join erases from the result. */
  val bloomDecontaminateSql: String = {
    val cat = (1 to DecontamGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    s"""
    WITH d AS (
      SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(0, len(toks) - ${DecontamGram - 1}), i ->
          $cat))) AS gram
      FROM d WHERE len(toks) >= $DecontamGram),
    b AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchMod = $BenchRem),
    h AS (
      SELECT g.doc_id, COUNT(*) AS n_hits
      FROM g JOIN b ON g.gram = b.gram
      WHERE g.doc_id % $BenchMod <> $BenchRem GROUP BY 1)
    SELECT d.source, COUNT(*) AS docs_screened,
      CAST(sum(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END)
        AS BIGINT) AS docs_contaminated,
      CAST(sum(coalesce(h.n_hits, 0)) AS BIGINT) AS grams_hit_total,
      max(coalesce(h.n_hits, 0)) AS max_hits
    FROM d LEFT JOIN h ON d.doc_id = h.doc_id
    WHERE d.doc_id % $BenchMod <> $BenchRem
    GROUP BY 1 ORDER BY d.source"""
  }

  /** C87: `q_contamination_spans` — SURGICAL decontamination: instead of
    * dropping a contaminated document whole (C25/C84's verdict), locate the
    * exact token spans that overlap the benchmark so the pipeline can
    * excise the spans and keep the rest — the standard practice when a long
    * document quotes one benchmark item. Each positioned training-doc
    * 8-gram that matches a benchmark gram covers tokens [i, i+7]; matched
    * windows are merged into maximal spans per doc (classic
    * running-max-of-end islands), reported with their token extents and
    * the gram-hit count per span.
    *
    * Exactness: token positions and span extents are pure integers; island
    * assignment is the identical window arithmetic in both engines.
    *
    * Scale: the gram explode + benchmark join is the C25 shape (and at
    * 100 TB a deployment composes the C84 Bloom screen in front of the
    * join verbatim — same gram relation, same confirm join, survivors
    * only). Everything AFTER the join — the island windows — runs on HIT
    * rows only, partitioned by doc_id: per-partition work is bounded by a
    * document's own gram-hit count, the per-entity-sequential class the
    * audit vets, and a clean corpus costs ~nothing past the scan. */
  /** Positioned grams of a (doc_id, …, toks) relation: (doc_id, i, gram)
    * with i the 0-based start-token index — shared by batch C87 and its
    * streaming twin. */
  private[graft] def positionedGrams(base: DataFrame): DataFrame = {
    base.filter(size(col("toks")) >= DecontamGram)
      .select(col("doc_id"), posexplode(expr(
        s"graft_word_grams(toks, $DecontamGram)")))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("gram"))
  }

  /** The SPAN screen shared by batch C87 and its streaming twin (D28,
    * [[graft.streaming.SpanGateStream]]): maximal contaminated token
    * islands for any (doc_id, source, text) relation against the exact
    * benchmark gram set. The island windows partition by doc_id over HIT
    * rows only; in streaming every span completes inside its micro-batch
    * (a document never straddles batches). */
  private[graft] def spanScreen(docs: DataFrame,
      benchGrams: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = positionedGrams(decontamBaseOf(docs))
      .join(broadcast(benchGrams), "gram")
      .select(col("doc_id"), col("i"), (col("i") + DecontamGram - 1).as("end"))
    val wPrev = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("prev_end", max("end").over(wPrev))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("i") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("span_id", sum("new_span").over(wRun))
      .groupBy("doc_id", "span_id").agg(
        min("i").as("start_tok"),
        max("end").as("end_tok"),
        count(lit(1)).as("n_gram_hits"))
      .withColumn("tokens_excised", col("end_tok") - col("start_tok") + 1L)
  }

  def contaminationSpans(spark: SparkSession, dir: String): DataFrame = {
    val base = decontamBase(spark, dir)
    val benchGrams = positionedGrams(base)
      .filter(col("doc_id") % BenchMod === BenchRem).select("gram").distinct()
    val train = Tables.documents(spark, dir)
      .filter(col("doc_id") % BenchMod =!= BenchRem)
    spanScreen(train, benchGrams).orderBy("doc_id", "span_id")
  }

  val contaminationSpansSql: String = {
    val cat = (1 to DecontamGram)
      .map(j => s"toks[CAST(i + $j AS INT)]").mkString(" || ' ' || ")
    s"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT doc_id,
        unnest(range(0, len(toks) - ${DecontamGram - 1})) AS i,
        unnest(list_transform(range(0, len(toks) - ${DecontamGram - 1}),
          i -> $cat)) AS gram
      FROM d WHERE len(toks) >= $DecontamGram),
    b AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchMod = $BenchRem),
    h AS (
      SELECT g.doc_id, g.i, g.i + ${DecontamGram - 1} AS "end"
      FROM g JOIN b ON g.gram = b.gram
      WHERE g.doc_id % $BenchMod <> $BenchRem),
    marked AS (
      SELECT doc_id, i, "end",
        CASE WHEN max("end") OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR i > max("end") OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1 ELSE 0 END AS new_span
      FROM h),
    islands AS (
      SELECT doc_id, i, "end",
        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY i
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM marked)
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
      min(i) AS start_tok, max("end") AS end_tok,
      COUNT(*) AS n_gram_hits,
      max("end") - min(i) + 1 AS tokens_excised
    FROM islands GROUP BY 1, 2 ORDER BY doc_id, span_id"""
  }
}
