package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Feeds, Tables}

/** Text-analysis operators for an LLM training-data pipeline over the
  * `documents` corpus: token counting, quality scoring, language ID and
  * fingerprinting (SURVEY.md §2 C8-C11).
  *
  * All of these are narrow per-row transformations built from codegen'd
  * `functions._` expressions — no UDFs, no shuffle — so a 100 TB corpus
  * pass is a single embarrassingly-parallel scan.
  */
object TextOps {

  /** C10: token counting — whitespace tokens plus a BPE-ish regex token
    * estimate (letter runs / digit runs / single punctuation marks). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars_real"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens_ws"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("n_tokens_bpe"))
      .orderBy("doc_id")

  val tokenCountSql: String = """
    SELECT doc_id, lang, length(text) AS n_chars_real,
      CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens_ws,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe
    FROM documents ORDER BY doc_id"""

  /** Email pattern shared by the scrubber and its oracle — kept RE2-safe so
    * Java (Spark) and RE2 (DuckDB) agree on every match. */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Chilean mobile phone pattern (the reference is a Chilean retailer). */
  val PhoneRe: String = "\\+56 9 [0-9]{4} [0-9]{4}"

  /** PII-redacted text — column form, reusable by composed pipelines. */
  def scrubCol(t: Column): Column =
    regexp_replace(regexp_replace(t, lit(EmailRe), lit("<EMAIL>")),
      lit(PhoneRe), lit("<PHONE>"))

  /** Redaction count — column form. */
  def redactionsCol(t: Column): Column =
    (regexp_count(t, lit(EmailRe)) + regexp_count(t, lit(PhoneRe))).cast("long")

  /** Composite quality score of a NON-EMPTY text column (same formula as
    * [[qualityScore]]'s final column) — column form for composed pipelines;
    * callers must pre-filter `length(trim(t)) > 0`. */
  def qualityScoreCol(t: Column): Column = {
    val nCharsD = length(t).cast("double")
    val nTok = size(split(trim(t), "\\s+")).cast("long")
    val punctRatio = regexp_count(t, lit("[.,;:!?]")).cast("long")
      .cast("double") / nCharsD
    val stopRatio = regexp_count(lower(t),
      lit("\\b(the|a|and|of|to|in|is|for|on|with)\\b")).cast("long")
      .cast("double") / nTok.cast("double")
    val digitRatio = regexp_count(t, lit("[0-9]")).cast("long")
      .cast("double") / nCharsD
    stopRatio * lit(2.0) - punctRatio * lit(1.0) - digitRatio * lit(3.0) +
      when(nTok >= 20 && nTok <= 1000, lit(0.5)).otherwise(lit(0.0))
  }

  /** Marker-n-gram language prediction (same decision tree as [[langId]]) —
    * column form for composed pipelines. */
  def langPredCol(t: Column): Column = {
    def sc(pat: String) = regexp_count(lower(t), lit(pat)).cast("long")
    val sEn = sc("\\b(the|and|of|is|this|that|with)\\b")
    val sEs = sc("\\b(el|la|los|las|que|de|y|es)\\b")
    val sDe = sc("\\b(der|die|das|und|ist|nicht|mit)\\b")
    val sFr = sc("\\b(le|les|et|est|dans|pour|une)\\b")
    val sZh = regexp_count(t, lit("[\\x{4e00}-\\x{9fff}]")).cast("long")
    when(sZh > 0, "zh")
      .when(sEn >= sEs && sEn >= sDe && sEn >= sFr, "en")
      .when(sEs >= sDe && sEs >= sFr, "es")
      .when(sDe >= sFr, "de")
      .otherwise("fr")
  }

  /** C16: PII scrubbing — redact emails and phone numbers from the incoming
    * corpus feed ([[Feeds.documentsWithPii]]) before training, counting the
    * redactions per document. Narrow, codegen'd regexp passes — a 100 TB
    * scrub is one scan. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Feeds.documentsWithPii(spark, dir)
      .select(col("doc_id"), col("source"),
        scrubCol(col("text")).as("texto_limpio"),
        redactionsCol(col("text")).as("n_redacciones"))
      .orderBy("doc_id")

  val piiScrubSql: String = s"""
    WITH feed AS (${Feeds.documentsWithPiiSql})
    SELECT doc_id, source,
      regexp_replace(regexp_replace(text,
        '$EmailRe', '<EMAIL>', 'g'),
        '$PhoneRe', '<PHONE>', 'g') AS texto_limpio,
      len(regexp_extract_all(text, '${EmailRe}'))
        + len(regexp_extract_all(text, '${PhoneRe}')) AS n_redacciones
    FROM feed ORDER BY doc_id"""

  /** Tag pattern for C44 — RE2-safe (no backrefs/lookaround), shared
    * verbatim by operator and oracle. */
  val TagRe: String = "<[^>]*>"

  /** C44: `q_text_html_strip` — markup scrubbing over the scraped-page feed
    * ([[Feeds.documentsWithMarkup]]): strip tags, decode the common HTML
    * entities, collapse the whitespace the removals leave behind — the
    * boilerplate-cleaning step every web-crawl corpus runs before any
    * quality/dedup signal (tags would otherwise pollute shingles and token
    * counts). Narrow codegen'd regexp passes, one scan at any scale;
    * per-doc tag counts make the report auditable. */
  def htmlStrip(spark: SparkSession, dir: String): DataFrame = {
    // same expression structure as the oracle: strip tags → decode the
    // fixed entity set → collapse whitespace (all codegen'd built-ins)
    val cleaned = expr(s"""trim(regexp_replace(
        replace(replace(replace(replace(replace(
          regexp_replace(text, '$TagRe', ' '),
          '&nbsp;', ' '), '&amp;', '&'), '&aacute;', 'á'),
          '&lt;', '<'), '&gt;', '>'),
        '\\\\s+', ' '))""")
    Feeds.documentsWithMarkup(spark, dir)
      .select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit(TagRe)).cast("long").as("n_tags"),
        cleaned.as("texto_limpio"))
      .withColumn("tenia_markup", col("n_tags") > 0)
      .select("doc_id", "source", "tenia_markup", "n_tags", "texto_limpio")
      .orderBy("doc_id")
  }

  val htmlStripSql: String = s"""
    WITH feed AS (${Feeds.documentsWithMarkupSql})
    SELECT doc_id, source,
      len(regexp_extract_all(text, '$TagRe')) > 0 AS tenia_markup,
      CAST(len(regexp_extract_all(text, '$TagRe')) AS BIGINT) AS n_tags,
      trim(regexp_replace(
        replace(replace(replace(replace(replace(
          regexp_replace(text, '$TagRe', ' ', 'g'),
          '&nbsp;', ' '), '&amp;', '&'), '&aacute;', 'á'),
          '&lt;', '<'), '&gt;', '>'),
        '\\s+', ' ', 'g')) AS texto_limpio
    FROM feed ORDER BY doc_id"""

  /** C9: quality scoring — length/punctuation/stopword/digit ratios folded
    * into a composite score. Per-row double math is bit-identical across
    * engines as long as the expression tree matches the oracle's. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        length(col("text")).cast("double").as("n_chars_d"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tok"),
        regexp_count(col("text"), lit("[.,;:!?]")).cast("long").as("n_punct"),
        regexp_count(lower(col("text")),
          lit("\\b(the|a|and|of|to|in|is|for|on|with)\\b")).cast("long").as("n_stop"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digit"))
    d.filter(col("n_chars_d") > 0 && col("n_tok") > 0)
      .select(col("doc_id"), col("lang"),
        col("n_tok"),
        (col("n_punct").cast("double") / col("n_chars_d")).as("punct_ratio"),
        (col("n_stop").cast("double") / col("n_tok").cast("double")).as("stopword_ratio"),
        (col("n_digit").cast("double") / col("n_chars_d")).as("digit_ratio"),
        (col("n_chars_d") / col("n_tok").cast("double")).as("avg_token_len"))
      .withColumn("quality_score",
        col("stopword_ratio") * lit(2.0) - col("punct_ratio") * lit(1.0)
          - col("digit_ratio") * lit(3.0)
          + when(col("n_tok") >= 20 && col("n_tok") <= 1000, lit(0.5)).otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** Oracle fragments shared with the composite pipeline (C17) so the
    * formulas cannot drift between the standalone and composed oracles. */
  private[operators] val qualitySqlMeasures: String = """CAST(length(text) AS DOUBLE) AS n_chars_d,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
          len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
          len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|for|on|with)\b')) AS n_stop,
          len(regexp_extract_all(text, '[0-9]')) AS n_digit"""

  private[operators] val qualitySqlRatios: String = """CAST(n_punct AS DOUBLE) / n_chars_d AS punct_ratio,
        CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stopword_ratio,
        CAST(n_digit AS DOUBLE) / n_chars_d AS digit_ratio"""

  private[operators] val qualitySqlScore: String =
    """stopword_ratio * 2.0 - punct_ratio * 1.0 - digit_ratio * 3.0
        + CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 0.5 ELSE 0.0 END"""

  val qualityScoreSql: String = s"""
    SELECT doc_id, lang, n_tok, punct_ratio, stopword_ratio, digit_ratio, avg_token_len,
      $qualitySqlScore AS quality_score
    FROM (
      SELECT doc_id, lang, n_tok,
        $qualitySqlRatios,
        n_chars_d / CAST(n_tok AS DOUBLE) AS avg_token_len
      FROM (
        SELECT doc_id, lang,
          $qualitySqlMeasures
        FROM documents)
      WHERE n_chars_d > 0 AND n_tok > 0)
    ORDER BY doc_id"""

  /** C72: `q_quality_classifier` — a fastText-style LINEAR quality
    * classifier over the C9 feature family: logit z = b + w·f on the
    * shared ratio features plus a length-band indicator, keep = (z ≥ 0).
    * This is the deployed shape of a learned quality filter (weights come
    * frozen from offline training; here they are fixed constants tuned so
    * both classes populate the test corpus) — the engine's job is the
    * feature extraction and the per-row score, both embarrassingly
    * parallel. The sigmoid is deliberately NOT applied: exp() is
    * libm-dependent (breaks cross-engine bit-exactness) and monotone, so
    * thresholding the logit IS thresholding the probability; downstream
    * consumers that need calibrated probabilities apply it client-side.
    *
    * Exactness: per-row double chain with the SAME association order in
    * both engines (the C9 rule); features reuse C9's shared SQL fragments
    * so the two reports cannot drift. Scale: one narrow codegen'd scan,
    * no shuffle (the ORDER BY is presentation-only). */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    classifierFrame(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The C72 feature + logit chain on ANY (doc_id, lang, text) frame —
    * batch C72, D23's streaming gate, and C80's bias audit share this
    * verbatim (a pure per-row map, so it is streaming-safe with zero
    * state). `carry` names extra input columns to pass through untouched
    * (C80 carries `source`) without disturbing C72's output schema. */
  private[graft] def classifierFrame(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val carried = carry.map(col)
    val d = docs
      .select(Seq(col("doc_id"), col("lang"), col("text"),
        length(col("text")).cast("double").as("n_chars_d"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tok"),
        regexp_count(col("text"), lit("[.,;:!?]")).cast("long").as("n_punct"),
        regexp_count(lower(col("text")),
          lit("\\b(the|a|and|of|to|in|is|for|on|with)\\b")).cast("long").as("n_stop"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digit"))
        ++ carried: _*)
    d.filter(col("n_chars_d") > 0 && col("n_tok") > 0)
      .select(Seq(col("doc_id"), col("lang"), col("n_tok"),
        (col("n_punct").cast("double") / col("n_chars_d")).as("punct_ratio"),
        (col("n_stop").cast("double") / col("n_tok").cast("double")).as("stopword_ratio"),
        (col("n_digit").cast("double") / col("n_chars_d")).as("digit_ratio"),
        (col("n_chars_d") / col("n_tok").cast("double")).as("avg_token_len"))
        ++ carried: _*)
      .withColumn("logit",
        lit(-0.65) + col("stopword_ratio") * lit(3.0)
          - col("punct_ratio") * lit(2.0)
          - col("digit_ratio") * lit(4.0)
          - col("avg_token_len") * lit(0.05)
          + when(col("n_tok") >= 20 && col("n_tok") <= 1000, lit(0.75))
              .otherwise(lit(0.0)))
      .withColumn("keep", col("logit") >= 0.0)
  }

  val qualityClassifierSql: String = s"""
    SELECT doc_id, lang, n_tok, punct_ratio, stopword_ratio, digit_ratio,
      avg_token_len,
      -0.65 + stopword_ratio * 3.0 - punct_ratio * 2.0 - digit_ratio * 4.0
        - avg_token_len * 0.05
        + CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 0.75 ELSE 0.0 END
        AS logit,
      (-0.65 + stopword_ratio * 3.0 - punct_ratio * 2.0 - digit_ratio * 4.0
        - avg_token_len * 0.05
        + CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 0.75 ELSE 0.0 END)
        >= 0.0 AS keep
    FROM (
      SELECT doc_id, lang, n_tok,
        $qualitySqlRatios,
        n_chars_d / CAST(n_tok AS DOUBLE) AS avg_token_len
      FROM (
        SELECT doc_id, lang,
          $qualitySqlMeasures
        FROM documents)
      WHERE n_chars_d > 0 AND n_tok > 0)
    ORDER BY doc_id"""

  /** C80: `q_filter_bias` — the calibration/bias audit of C72's learned
    * filter, per (source, lang): docs seen, docs kept, keep share, and
    * mean logit. This is the fairness read a curator makes before
    * deploying a quality filter — a classifier that silently keeps 90% of
    * one source and 4% of another, or whose keep share collapses for one
    * LANGUAGE, is reshaping the corpus mix, and that shows up here before
    * it shows up in trained-model behavior.
    *
    * Exactness: counts and the keep share are exact integers + one
    * division; the mean logit uses C47's nano-quantization rule — a
    * distributed double SUM is shuffle-order nondeterministic, so the
    * per-row logit quantizes to integer nano-units, sums exactly, and
    * divides once.
    *
    * Scale: the C72 narrow chain (shared verbatim via the classifier
    * frame) plus ONE partial-aggregated shuffle onto the (source, lang)
    * grid. [[filterBiasAgg]] is the mergeable-counter aggregate D25
    * delegates to unchanged. */
  def filterBias(spark: SparkSession, dir: String): DataFrame =
    filterBiasAgg(Tables.documents(spark, dir)).orderBy("source", "lang")

  /** The C80 aggregate on ANY (doc_id, source, lang, text) frame — every
    * column is a plain mergeable integer counter, so the streaming twin
    * (D25) runs this plan UNCHANGED and the running report is exact. */
  private[graft] def filterBiasAgg(docs: DataFrame): DataFrame =
    classifierFrame(docs, carry = Seq("source"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum(round(col("logit") * lit(1.0e9)).cast("long")).as("slq"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_share"),
        (col("slq").cast("double") / col("n_docs").cast("double") /
          lit(1.0e9)).as("mean_logit"))

  /** C90: `q_classifier_calibration` — the calibration curve of C72's
    * learned filter against C9's heuristic score: documents bucketed by
    * logit (quarter-unit bins), and per bin — docs, kept docs, docs where
    * the classifier and the heuristic AGREE on keep/drop, and the mean
    * heuristic quality. This is the read a curator does before swapping
    * C9's rule filter for C72's learned one: a well-calibrated classifier
    * shows mean heuristic quality rising monotonically with the logit bin
    * and disagreement concentrated in the bins around zero (the decision
    * boundary, where retraining budget should go). C80 answers "is the
    * filter fair across sources"; this answers "does its confidence mean
    * anything".
    *
    * Exactness: the bin is floor(4·logit) on the bit-exact C72 logit
    * chain; counts are integers; the mean uses C47/C80's nano-quantization
    * rule (per-row score → integer nanos, exact sum, one division) — no
    * distributed double sum.
    *
    * Scale: one narrow codegen'd scan (the C72 feature chain plus the C9
    * score on the SAME shared ratios — no second pass over text), one
    * partial-aggregated shuffle onto the ≤ ~dozen-bin grid. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame =
    calibrationAgg(Tables.documents(spark, dir)).orderBy("logit_bin")

  /** The C90 aggregate on ANY (doc_id, lang, text) frame — every column
    * is a plain mergeable integer counter (the nano-quantized quality sum
    * included, C47's rule), so the streaming twin (D31) runs this plan
    * UNCHANGED and the running calibration curve is exact. */
  private[graft] def calibrationAgg(docs: DataFrame): DataFrame =
    classifierFrame(docs)
      .withColumn("qs",
        col("stopword_ratio") * lit(2.0) - col("punct_ratio") * lit(1.0)
          - col("digit_ratio") * lit(3.0)
          + when(col("n_tok") >= 20 && col("n_tok") <= 1000, lit(0.5))
            .otherwise(lit(0.0)))
      .select(floor(col("logit") * lit(4.0)).cast("long").as("logit_bin"),
        col("keep"),
        (col("qs") >= 0.0).as("heur_keep"),
        round(col("qs") * lit(1.0e9)).cast("long").as("qs_nano"))
      .groupBy("logit_bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("keep") === col("heur_keep"), 1L).otherwise(0L))
          .as("n_agree"),
        sum("qs_nano").as("sqs"))
      .select(col("logit_bin"), col("n_docs"), col("n_keep"), col("n_agree"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_share"),
        (col("n_agree").cast("double") / col("n_docs").cast("double"))
          .as("agree_share"),
        (col("sqs").cast("double") / col("n_docs").cast("double") /
          lit(1.0e9)).as("mean_quality"))

  val classifierCalibrationSql: String = s"""
    WITH c AS (
      SELECT n_tok, punct_ratio, stopword_ratio, digit_ratio, avg_token_len,
        -0.65 + stopword_ratio * 3.0 - punct_ratio * 2.0
          - digit_ratio * 4.0 - avg_token_len * 0.05
          + CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 0.75 ELSE 0.0 END
          AS logit,
        $qualitySqlScore AS qs
      FROM (
        SELECT n_tok,
          $qualitySqlRatios,
          n_chars_d / CAST(n_tok AS DOUBLE) AS avg_token_len
        FROM (
          SELECT
            $qualitySqlMeasures
          FROM documents)
        WHERE n_chars_d > 0 AND n_tok > 0)),
    b AS (
      SELECT CAST(floor(logit * 4.0) AS BIGINT) AS logit_bin,
        CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END AS keep,
        CASE WHEN (logit >= 0.0) = (qs >= 0.0) THEN 1 ELSE 0 END AS agree,
        CAST(round(qs * CAST(1000000000.0 AS DOUBLE)) AS BIGINT) AS qsn
      FROM c)
    SELECT logit_bin, COUNT(*) AS n_docs,
      CAST(SUM(keep) AS BIGINT) AS n_keep,
      CAST(SUM(agree) AS BIGINT) AS n_agree,
      CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_share,
      CAST(SUM(agree) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS agree_share,
      CAST(SUM(qsn) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0
        AS mean_quality
    FROM b GROUP BY 1 ORDER BY 1"""

  val filterBiasSql: String = s"""
    WITH c AS (
      SELECT source, lang,
        -0.65 + stopword_ratio * 3.0 - punct_ratio * 2.0
          - digit_ratio * 4.0 - avg_token_len * 0.05
          + CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 0.75 ELSE 0.0 END
          AS logit
      FROM (
        SELECT source, lang, n_tok,
          $qualitySqlRatios,
          n_chars_d / CAST(n_tok AS DOUBLE) AS avg_token_len
        FROM (
          SELECT source, lang,
            $qualitySqlMeasures
          FROM documents)
        WHERE n_chars_d > 0 AND n_tok > 0)),
    q AS (
      SELECT source, lang,
        CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END AS keep,
        CAST(round(logit * CAST(1000000000.0 AS DOUBLE)) AS BIGINT) AS lq
      FROM c)
    SELECT source, lang, COUNT(*) AS n_docs,
      CAST(SUM(keep) AS BIGINT) AS n_keep,
      CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_share,
      CAST(SUM(lq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0
        AS mean_logit
    FROM q GROUP BY 1, 2 ORDER BY 1, 2"""

  /** C8: n-gram-marker language ID. Scores each language by marker-word
    * hits and takes the argmax with a fixed tie-break order — a cheap,
    * fully-distributed heuristic (real models would ride a broadcast
    * n-gram table; the plumbing is identical). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    def score(pat: String) = regexp_count(lower(col("text")), lit(pat)).cast("long")
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("lang_declarado"),
        score("\\b(the|and|of|is|this|that|with)\\b").as("s_en"),
        score("\\b(el|la|los|las|que|de|y|es)\\b").as("s_es"),
        score("\\b(der|die|das|und|ist|nicht|mit)\\b").as("s_de"),
        score("\\b(le|les|et|est|dans|pour|une)\\b").as("s_fr"),
        regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long").as("s_zh"))
    scored.withColumn("lang_predicho",
        when(col("s_zh") > 0, "zh")
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .select("doc_id", "lang_declarado", "s_en", "s_es", "s_de", "s_fr", "s_zh", "lang_predicho")
      .orderBy("doc_id")
  }

  /** Oracle fragments shared with the composite pipeline (C17). */
  private[operators] val langSqlScores: String = """len(regexp_extract_all(lower(text), '\b(the|and|of|is|this|that|with)\b')) AS s_en,
        len(regexp_extract_all(lower(text), '\b(el|la|los|las|que|de|y|es)\b')) AS s_es,
        len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit)\b')) AS s_de,
        len(regexp_extract_all(lower(text), '\b(le|les|et|est|dans|pour|une)\b')) AS s_fr,
        len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh"""

  private[operators] val langSqlCase: String = """CASE WHEN s_zh > 0 THEN 'zh'
           WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
           WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
           WHEN s_de >= s_fr THEN 'de'
           ELSE 'fr' END"""

  val langIdSql: String = s"""
    SELECT doc_id, lang_declarado, s_en, s_es, s_de, s_fr, s_zh,
      $langSqlCase AS lang_predicho
    FROM (
      SELECT doc_id, lang AS lang_declarado,
        $langSqlScores
      FROM documents)
    ORDER BY doc_id"""

  /** C110: `q_doc_lang_mix` — CODE-SWITCHING detection: C8's language ID
    * re-run at CHUNK granularity (C22's chunker) and rolled up per doc —
    * chunk count, distinct chunk-language count, the modal language with
    * its share, and a mixed flag. A doc-level language ID (C8) averages
    * away a document that switches language halfway — the exact kind
    * (scraped forums, parallel-text pages, template wrappers around
    * foreign content) a monolingual training mix must catch: lang-ID
    * models misroute them and quality filters trained per-language
    * misjudge them. Chunk votes make the switch visible: `mixed` docs
    * route to segmentation or exclusion, `top_share` prices how much of
    * the doc the modal label actually covers.
    *
    * The modal tie-break is max-count-then-LEXICOGRAPHIC-min language
    * (row_number over the per-doc vote counts — a window above an
    * aggregate over ≤ 5 rows per doc, never over the fact scan). Plan:
    * the C22 chunk explode → marker scoring in-row (the C8 expressions
    * verbatim) → one (doc, lang) count shuffle → per-doc rollup.
    * Integer votes, one division. Scale: O(chunks) rows into a
    * doc-keyed grid; chunk text never shuffles (scores collapse it
    * in-row before the aggregate). */
  def docLangMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def score(pat: String) =
      regexp_count(lower(col("chunk_text")), lit(pat)).cast("long")
    val labeled = chunkedWith(spark, dir, Nil)
      .select(col("doc_id"),
        score("\\b(the|and|of|is|this|that|with)\\b").as("s_en"),
        score("\\b(el|la|los|las|que|de|y|es)\\b").as("s_es"),
        score("\\b(der|die|das|und|ist|nicht|mit)\\b").as("s_de"),
        score("\\b(le|les|et|est|dans|pour|une)\\b").as("s_fr"),
        regexp_count(col("chunk_text"), lit("[\\x{4e00}-\\x{9fff}]"))
          .cast("long").as("s_zh"))
      .withColumn("chunk_lang",
        when(col("s_zh") > 0, "zh")
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de")
            && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
    val counts = labeled.groupBy("doc_id", "chunk_lang")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("chunk_lang").asc)
    counts.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(when(col("rn") === 1, col("chunk_lang"))).as("top_lang"),
        max(when(col("rn") === 1, col("cnt"))).as("top_cnt"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("top_lang"),
        (col("top_cnt").cast("double") / col("n_chunks").cast("double"))
          .as("top_share"),
        (col("n_langs") >= 2L).as("mixed"))
      .orderBy("doc_id")
  }

  // lazy: interpolates docChunkSql, declared LATER in this object — an
  // eager val would splice the string "null" (the object-init rule)
  lazy val docLangMixSql: String = s"""
    WITH chunks AS ($docChunkSql),
    t AS (SELECT doc_id, chunk_text AS text FROM chunks),
    s AS (SELECT doc_id, $langSqlScores FROM t),
    l AS (SELECT doc_id, $langSqlCase AS chunk_lang FROM s),
    c AS (
      SELECT doc_id, chunk_lang, COUNT(*) AS cnt FROM l GROUP BY 1, 2),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY cnt DESC, chunk_lang) AS rn
      FROM c)
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chunks,
      COUNT(*) AS n_langs,
      MAX(CASE WHEN rn = 1 THEN chunk_lang END) AS top_lang,
      CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
        / CAST(SUM(cnt) AS DOUBLE) AS top_share,
      COUNT(*) >= 2 AS mixed
    FROM r GROUP BY doc_id ORDER BY doc_id"""

  /** Top TF-IDF terms kept per document (C21). */
  val TfidfTopK: Int = 3

  /** C21: `q_text_tfidf` — the [[TfidfTopK]] most characteristic terms per
    * document. Scored as tf · (N / df) — the raw idf ratio instead of
    * log-idf, deliberately: ln() is libm-dependent and would break
    * bit-exactness across engines, while tf·N and the single division are
    * exact doubles, and the per-document ranking is the same either way
    * (log is monotone). Plan: one token explode → (doc, token) tf counts,
    * df reuses the same exchange (token-keyed), corpus size N rides a
    * 1-row broadcast; the final top-k is a bounded per-doc window. Every
    * shuffle keys on tokens or doc ids — never corpus². */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    // cache(): tf feeds df, the corpus count and the scored join — pruning
    // makes the three subtrees canonically different so the tokenize + tf
    // shuffle would run three times without one materialization
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")).cache()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = tf.select(countDistinct("doc_id").as("n_docs"))
    val scored = tf.join(df, "token").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * col("n_docs").cast("double")
          / col("df").cast("double"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("token"))).cast("int"))
      .filter(col("rnk") <= TfidfTopK)
      .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
      .orderBy("doc_id", "rnk")
  }

  val tfidfSql: String = s"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks
      WHERE length(token) > 0 GROUP BY 1, 2),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS tfidf
      FROM tf JOIN df ON tf.token = df.token, n)
    SELECT doc_id, token, tf, df, tfidf, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        ORDER BY tfidf DESC, token) AS INT) AS rnk
      FROM scored) WHERE rnk <= $TfidfTopK
    ORDER BY doc_id, rnk"""

  /** C22 chunk window (tokens per chunk) and stride — overlap is
    * `ChunkTokens - ChunkStride` tokens. Sized to the test corpus (10-99
    * tokens/doc → 1-4 chunks); a real pretraining pipeline sets these to the
    * model context (e.g. 2048/1920) with the identical plan. */
  val ChunkTokens: Int = 32
  val ChunkStride: Int = 24

  /** C22: `q_doc_chunk` — fixed-token-window chunking with overlap, the
    * doc→training-sample step of a pretraining pipeline. One narrow pass:
    * tokenize, derive the chunk count with exact integer math
    * (`1 + ceil((n_tok − W) / S)` via integer division), explode a
    * `sequence` of chunk indices and slice the token array per chunk — all
    * codegen'd `functions._`, ZERO shuffle, so a 100 TB corpus chunks in a
    * single embarrassingly-parallel scan and the output can stream straight
    * into a partitioned writer. Short docs (≤ W tokens) yield exactly one
    * chunk; the final chunk is the only one allowed to run short. */
  def docChunk(spark: SparkSession, dir: String): DataFrame =
    chunkedWith(spark, dir, Nil).orderBy("doc_id", "chunk_idx")

  /** The C22 chunk pipeline with passthrough columns — C100 carries
    * `source` through the narrow scan instead of re-joining the fact
    * table on doc_id after chunking; [[docChunk]] is the empty-extra
    * instance, so the two cannot drift. */
  private def chunkedWith(spark: SparkSession, dir: String,
      extra: Seq[String]): DataFrame = {
    val ex = extra.map(col)
    Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select((col("doc_id") +: ex) :+ split(trim(col("text")), "\\s+").as("toks"): _*)
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_chunks", when(col("n_tok") <= ChunkTokens, 1L)
        .otherwise(expr(
          s"(n_tok - $ChunkTokens + $ChunkStride - 1) div $ChunkStride + 1")))
      .select((col("doc_id") +: ex) ++ Seq(col("n_tok"), col("toks"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_idx")): _*)
      .withColumn("start", col("chunk_idx") * ChunkStride)
      .select((col("doc_id") +: ex) ++ Seq(col("chunk_idx"),
        least(lit(ChunkTokens.toLong), col("n_tok") - col("start")).as("n_chunk_tokens"),
        array_join(slice(col("toks"), (col("start") + 1).cast("int"),
          lit(ChunkTokens)), " ").as("chunk_text")): _*)
  }

  /** The C22 chunk SQL with the same passthrough device (`extra` is a
    * leading-comma column list, e.g. ", source"). */
  private def docChunkSqlWith(extra: String): String = s"""
    WITH d AS (
      SELECT doc_id$extra, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    n AS (
      SELECT doc_id$extra, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM d),
    c AS (
      SELECT doc_id$extra, toks, n_tok,
        CASE WHEN n_tok <= $ChunkTokens THEN 1
             ELSE (n_tok - $ChunkTokens + $ChunkStride - 1) // $ChunkStride + 1
        END AS n_chunks
      FROM n),
    x AS (
      SELECT doc_id$extra, toks, n_tok, unnest(range(0, n_chunks)) AS chunk_idx
      FROM c)
    SELECT doc_id$extra, chunk_idx,
      least($ChunkTokens, n_tok - chunk_idx * $ChunkStride) AS n_chunk_tokens,
      array_to_string(toks[CAST(chunk_idx * $ChunkStride + 1 AS INT):
        CAST(chunk_idx * $ChunkStride + $ChunkTokens AS INT)], ' ') AS chunk_text
    FROM x ORDER BY doc_id, chunk_idx"""

  val docChunkSql: String = docChunkSqlWith("")

  /** C26: `q_chunk_dedup` — dedup at CHUNK granularity, composed from C22's
    * chunker and C1's hash-groupBy: training pipelines dedup chunks (the
    * unit that actually enters a batch), not just whole documents —
    * boilerplate headers/footers repeat across distinct docs and survive
    * doc-level dedup. The chunk's md5 keys one shuffle (16 bytes/chunk, the
    * text never moves); keep = lexicographic-min (doc_id, chunk_idx). Emits
    * one row per distinct chunk content with its copy count. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    docChunk(spark, dir)
      // lexicographic (doc_id, chunk_idx) min as ONE integer min: chunk_idx
      // is bounded far below the 1e6 encoder (a 2M-token doc chunks to
      // ~83k), so the encoded order is the pair order — portable exact
      // arithmetic instead of struct comparison. Encoder headroom: doc_id
      // must stay below 2^63/10⁶ ≈ 9.2·10¹² — fine for row-number ids;
      // hash-valued ids would switch the keeper to min(struct(...)) at the
      // cost of the oracle needing arg_min twice.
      .select(md5(col("chunk_text").cast("binary")).as("chunk_hash"),
        (col("doc_id") * 1000000L + col("chunk_idx")).as("pos_code"))
      .groupBy("chunk_hash")
      .agg(min("pos_code").as("keep_code"), count(lit(1)).as("n_copies"))
      .select(col("chunk_hash"),
        expr("keep_code div 1000000").as("keep_doc_id"),
        (col("keep_code") % 1000000L).as("keep_chunk_idx"), col("n_copies"))
      .orderBy("keep_doc_id", "keep_chunk_idx")

  val chunkDedupSql: String = s"""
    WITH chunks AS ($docChunkSql)
    SELECT md5(chunk_text) AS chunk_hash,
      min(doc_id * 1000000 + chunk_idx) // 1000000 AS keep_doc_id,
      min(doc_id * 1000000 + chunk_idx) % 1000000 AS keep_chunk_idx,
      count(*) AS n_copies
    FROM chunks
    GROUP BY md5(chunk_text)
    ORDER BY keep_doc_id, keep_chunk_idx"""

  /** C100: `q_dup_source_matrix` — the cross-source DUPLICATION-FLOW
    * matrix at chunk granularity: for every source pair (a ≤ b), the
    * distinct chunk contents both carry and the exact duplicate
    * chunk-instance pair count between them (the diagonal is
    * within-source boilerplate). Whole-document hashes miss this —
    * templated headers/footers cross sources while no full document
    * does (at sf0.01 the corpus has ZERO whole-doc dups but 30 chunk
    * contents shared across sources) — and the matrix is the read that
    * routes crawl budget and audits mirroring: a source whose row mass
    * sits in someone else's column is a mirror, not a source, and C59's
    * canonical keeper should prefer the other side.
    *
    * Scale: the C22 chunker carries `source` through the narrow scan
    * (no re-join against the fact table), the chunk md5 keys ONE
    * shuffle onto the (chunk_hash, source) count grid — text never
    * moves past the hash — and the pair expansion is a self-join of
    * that aggregated grid on chunk_hash with fanout ≤ #sources per
    * hash: O(distinct chunks × sources²) worst case, quadratic only in
    * the small operator-controlled source count, never in documents.
    * Pair counts are closed-form over the cell counts (n_a·n_b cross,
    * n·(n−1)/2 within), so no instance-level pair row ever exists — a
    * chunk repeated 10⁶ times costs one grid row per source, not 10¹²
    * pairs. Exactness: md5 hex keys, integer pair arithmetic (`div 2`
    * exact — n·(n−1) is even), one grid cache for the join's two sides. */
  def dupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cells = chunkedWith(spark, dir, Seq("source"))
      .select(md5(col("chunk_text").cast("binary")).as("chunk_hash"),
        col("source"))
      .groupBy("chunk_hash", "source").agg(count(lit(1)).as("n"))
      .cache()
    val a = cells.select(col("chunk_hash"), col("source").as("source_a"),
      col("n").as("n_a"))
    val b = cells.select(col("chunk_hash"), col("source").as("source_b"),
      col("n").as("n_b"))
    a.join(b, Seq("chunk_hash"))
      .filter(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("n_a") >= 2))
      .select(col("source_a"), col("source_b"),
        when(col("source_a") === col("source_b"),
          expr("n_a * (n_a - 1) div 2"))
          .otherwise(col("n_a") * col("n_b")).as("pair_c"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_chunks"), sum("pair_c").as("n_dup_pairs"))
      .orderBy("source_a", "source_b")
  }

  val dupSourceMatrixSql: String = s"""
    WITH chunks AS (${docChunkSqlWith(", source")}),
    cells AS (
      SELECT md5(chunk_text) AS chunk_hash, source, count(*) AS n
      FROM chunks GROUP BY 1, 2)
    SELECT a.source AS source_a, b.source AS source_b,
      count(*) AS n_shared_chunks,
      CAST(SUM(CASE WHEN a.source = b.source THEN (a.n * (a.n - 1)) // 2
               ELSE a.n * b.n END) AS BIGINT) AS n_dup_pairs
    FROM cells a JOIN cells b ON a.chunk_hash = b.chunk_hash
    WHERE a.source < b.source OR (a.source = b.source AND a.n >= 2)
    GROUP BY 1, 2 ORDER BY 1, 2"""

  /** C23: `q_text_repetition` — repetition-based quality signals in the
    * style of the Gopher/MassiveText filters: most-frequent-token fraction,
    * distinct-token fraction and duplicate-2-gram fraction, plus a
    * composite `repetitive` flag. Computed by explode + partial-agg count
    * (linear, token-keyed shuffles only) rather than per-row O(n²) array
    * lambdas — a 100k-token document costs 100k rows, never 10¹⁰
    * comparisons, and the (doc, token) / (doc, gram) counts partial-agg
    * map-side before one doc-keyed shuffle each. The flag compares the
    * same exact doubles on both engines, so it is oracle-stable whatever
    * the thresholds. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val tf = d.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val tokStats = tf.groupBy("doc_id").agg(
      sum("tf").as("n_tok"), max("tf").as("max_tf"),
      count(lit(1)).as("n_distinct_tok"))
    val gf = d.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "graft_word_grams(toks, 2)")).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
    val gramStats = gf.groupBy("doc_id").agg(
      sum("n").as("n_2grams"), count(lit(1)).as("n_distinct_2grams"))
    tokStats.join(gramStats, "doc_id")
      .select(col("doc_id"), col("n_tok"),
        (col("max_tf").cast("double") / col("n_tok").cast("double")).as("top_tok_frac"),
        (col("n_distinct_tok").cast("double") / col("n_tok").cast("double")).as("distinct_tok_frac"),
        (lit(1.0) - col("n_distinct_2grams").cast("double")
          / col("n_2grams").cast("double")).as("dup_2gram_frac"))
      .withColumn("repetitive",
        col("top_tok_frac") > 0.1 || col("dup_2gram_frac") > 0.2)
      .orderBy("doc_id")
  }

  val textRepetitionSql: String = """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS token FROM d) GROUP BY 1, 2),
    ts AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok, MAX(tf) AS max_tf,
             COUNT(*) AS n_distinct_tok
      FROM tf GROUP BY 1),
    gf AS (
      SELECT doc_id, gram, COUNT(*) AS n
      FROM (
        SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1), i ->
          toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)])) AS gram
        FROM d WHERE len(toks) >= 2)
      GROUP BY 1, 2),
    gs AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_2grams,
             COUNT(*) AS n_distinct_2grams
      FROM gf GROUP BY 1)
    SELECT ts.doc_id, n_tok,
      CAST(max_tf AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_tok_frac,
      CAST(n_distinct_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) AS distinct_tok_frac,
      1.0 - CAST(n_distinct_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE) AS dup_2gram_frac,
      (CAST(max_tf AS DOUBLE) / CAST(n_tok AS DOUBLE) > 0.1) OR
      (1.0 - CAST(n_distinct_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE) > 0.2)
        AS repetitive
    FROM ts JOIN gs ON ts.doc_id = gs.doc_id
    ORDER BY ts.doc_id"""

  /** C24: `q_doc_rarity` — unigram-rarity scoring, the engine-exact stand-in
    * for LM-perplexity corpus filters (CCNet-style): each token scores
    * N_total/tf (raw rational instead of −log p — log is libm-dependent and
    * would break bit-exactness; the ranking is the same since log is
    * monotone in the per-token factor), and a document's score is the MEAN
    * over its tokens. The double sum is a SEQUENTIAL FOLD in token-position
    * order on both engines (Spark `aggregate` over a position-sorted
    * collect_list, DuckDB `list_reduce` over `list(... ORDER BY pos)`) —
    * a distributed SUM of doubles is order-nondeterministic and would
    * hash-mismatch. Plan: one token-keyed shuffle for global tf (map-side
    * partials; AQE splits the Zipf-hot tokens), a 1-row N broadcast, one
    * doc-keyed shuffle for the fold; the per-doc list is bounded by doc
    * length. */
  def docRarity(spark: SparkSession, dir: String): DataFrame = {
    // cache(): the token stream feeds tf, the N count and the join probe —
    // per-branch pruning defeats ReuseExchange (measured 3 scans), so the
    // regex tokenize would run three times without one materialization
    val toks = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "token")))
      .cache()
    val tf = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    val n = toks.select(count(lit(1)).as("n_total"))
    toks.join(tf, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("pos"),
        (col("n_total").cast("double") / col("tf").cast("double")).as("rarity"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sort_array(collect_list(struct(col("pos"), col("rarity")))).as("arr"))
      .select(col("doc_id"), col("n_tok"),
        expr("aggregate(arr, 0D, (a, x) -> a + x.rarity)").as("rarity_sum"))
      .withColumn("rarity_mean", col("rarity_sum") / col("n_tok").cast("double"))
      .orderBy("doc_id")
  }

  val docRaritySql: String = """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    t AS (
      SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS token
      FROM d),
    tf AS (SELECT token, COUNT(*) AS tf FROM t GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_total FROM t),
    scored AS (
      SELECT t.doc_id, t.pos,
        CAST(n.n_total AS DOUBLE) / CAST(tf.tf AS DOUBLE) AS rarity
      FROM t JOIN tf ON t.token = tf.token, n)
    SELECT doc_id, COUNT(*) AS n_tok,
      list_reduce(list(rarity ORDER BY pos), (a, b) -> a + b) AS rarity_sum,
      list_reduce(list(rarity ORDER BY pos), (a, b) -> a + b)
        / CAST(COUNT(*) AS DOUBLE) AS rarity_mean
    FROM scored GROUP BY doc_id
    ORDER BY doc_id"""

  /** C11: document fingerprinting — whole-doc md5 plus a winnowing-style
    * fingerprint (lexicographic min of md5 over 5-char shingles; min over
    * fixed-width hex == numeric min, and min is order-independent so the
    * distributed agg is exact). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("norm", lower(trim(col("text"))))
      .select(col("doc_id"),
        md5(col("norm").cast("binary")).as("md5_full"),
        expr("graft_winnow_fp(norm)").as("winnow_fp"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String = """
    SELECT doc_id, md5(norm) AS md5_full,
      list_aggregate(list_transform(range(0, greatest(length(norm) - 5, 0) + 1),
        i -> md5(substr(norm, i + 1, 5))), 'min') AS winnow_fp
    FROM (SELECT doc_id, lower(trim(text)) AS norm FROM documents)
    ORDER BY doc_id"""

  /** C32: `q_text_lang_confusion` — the confusion matrix of the C8
    * language identifier against the declared language, with per-cell
    * recall share: the evaluation artifact any classifier in the curation
    * loop needs before its predictions gate data. Cells are exact integer
    * counts off ONE narrow scoring pass (the same codegen'd marker-n-gram
    * expressions as C8); the row total rides a declared-lang window over
    * the ≤ langs² matrix, and the share is one final division. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .select(col("lang").as("lang_declarado"),
        langPredCol(col("text")).as("lang_predicho"))
      .groupBy("lang_declarado", "lang_predicho")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_declarado",
        sum("n_docs").over(Window.partitionBy("lang_declarado")))
      .withColumn("fraccion",
        col("n_docs").cast("double") / col("n_declarado").cast("double"))
      .select("lang_declarado", "lang_predicho", "n_docs", "n_declarado",
        "fraccion")
      .orderBy("lang_declarado", "lang_predicho")
  }

  val langConfusionSql: String = s"""
    WITH scored AS (
      SELECT lang AS lang_declarado, $langSqlCase AS lang_predicho
      FROM (SELECT lang, $langSqlScores FROM documents)),
    cells AS (
      SELECT lang_declarado, lang_predicho, count(*) AS n_docs
      FROM scored GROUP BY 1, 2)
    SELECT lang_declarado, lang_predicho, n_docs,
      CAST(SUM(n_docs) OVER (PARTITION BY lang_declarado) AS BIGINT)
        AS n_declarado,
      CAST(n_docs AS DOUBLE) /
        CAST(SUM(n_docs) OVER (PARTITION BY lang_declarado) AS DOUBLE)
        AS fraccion
    FROM cells
    ORDER BY lang_declarado, lang_predicho"""

  /** C30 thresholds: a bigram must occur [[BigramMin]]+ times to be
    * reported (noise floor), and only the top [[BigramTopK]] continuations
    * per head word survive (bounds the model size by vocab × k). */
  val BigramMin: Int = 3
  val BigramTopK: Int = 3

  /** C30: `q_text_bigram_lm` — bigram conditional-probability estimation,
    * the count side of an n-gram language model (quality filtering via LM
    * perplexity starts exactly here): P(w2|w1) = c(w1 w2) / c(w1 ·) from
    * exact integer counts, one final double division. The head count c1 is
    * DERIVED as the sum of its bigram counts (single source of truth — a
    * separate unigram count would disagree at document boundaries).
    *
    * Plan: bigram explode is a narrow array transform over the scan; one
    * (w1, w2) partial-agg shuffle counts bigrams, then ONE w1 shuffle
    * carries both the head-total window and the top-k rank window. All
    * window partitions are vocabulary-fanout-bounded (continuations of one
    * word), never corpus-sized. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bigrams via the codegen'd gram kernel (W6), not the interpreted
    // struct-building transform lambda; tokens come from a \s+ split, so
    // they contain no spaces and "w1 w2" ↔ (w1, w2) is bijective — the
    // count classes are identical, the shuffle key is ONE string, and the
    // words split back out on the small post-agg relation only
    val bg = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr("graft_word_grams(toks, 2)")).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("c12"))
    bg.withColumn("c1", sum("c12").over(Window.partitionBy("w1")))
      .filter(col("c12") >= BigramMin)
      .withColumn("rnk", row_number().over(Window.partitionBy("w1")
        .orderBy(col("c12").desc, col("w2"))).cast("long"))
      .filter(col("rnk") <= BigramTopK)
      .withColumn("p_cond",
        col("c12").cast("double") / col("c1").cast("double"))
      .select("w1", "w2", "c12", "c1", "p_cond", "rnk")
      .orderBy("w1", "rnk")
  }

  val bigramLmSql: String = s"""
    WITH d AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    b AS (
      SELECT toks[CAST(i + 1 AS INT)] AS w1, toks[CAST(i + 2 AS INT)] AS w2
      FROM d, unnest(range(0, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2),
    c AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
    w AS (
      SELECT w1, w2, c12,
        CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1
      FROM c)
    SELECT w1, w2, c12, c1,
      CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_cond, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY w1
                                   ORDER BY c12 DESC, w2) AS rnk
      FROM w WHERE c12 >= $BigramMin)
    WHERE rnk <= $BigramTopK
    ORDER BY w1, rnk"""

  /** C51: `q_doc_lm_coverage` — per-document language-model coverage
    * scoring, the perplexity-filter front end over C30's pruned bigram
    * model: for every document, how many of its bigram transitions the
    * corpus LM knows (`n_known / n_bigrams`) and the probability of its
    * rarest known transition (`min_p_cond`). Low-coverage documents are
    * the out-of-distribution / noise candidates an LM-perplexity quality
    * filter would cut — this is that filter with CROSS-ENGINE-EXACT
    * arithmetic: integer counts, ONE final division, and a `min` over
    * already-exact conditional probabilities (each a single c12/c1
    * division). A sum of per-bigram log-probs would hit float-summation
    * order nondeterminism across partitions; min and integer counts are
    * order-free, so the oracle comparison stays bit-exact (SURVEY §3).
    *
    * Plan: the corpus explodes to (doc_id, w1, w2) bigrams — narrow — and
    * joins the LM keyed on (w1, w2). The LM is VOCABULARY-scaled (every
    * ≥[[BigramMin]]-frequency head × top-[[BigramTopK]]), not bounded, so
    * both corpus-scaled joins carry a `shuffle_hash` hint: at 100 TB the
    * planner must never pick a broadcast of the LM or of the per-doc
    * score relation (the C33 lesson), and a hash join avoids the sort.
    * Per-join-key fanout is ≤ 1 LM row, so no skew; the doc_id re-agg
    * partial-aggregates map-side. */
  def docLmCoverage(spark: SparkSession, dir: String): DataFrame =
    scoreAgainstLm(Tables.documents(spark, dir), bigramLm(spark, dir))
      .orderBy("doc_id")

  /** The scoring primitive under C51 (and its streaming face, D16
    * `CorpusStream.lmScore`): score a document relation against a FROZEN
    * LM relation — (w1, w2, p_cond) rows, normally [[bigramLm]]'s output.
    * Separated from [[docLmCoverage]] so the deployed filter shape (score
    * INCOMING docs against a model trained on yesterday's corpus) is the
    * same audited plan, batch or per micro-batch. */
  def scoreAgainstLm(docs: DataFrame, lm: DataFrame): DataFrame = {
    // same W6 gram-kernel shape as [[bigramLm]]: the corpus side explodes
    // "w1 w2" strings (codegen'd, no interpreted struct lambda) and the
    // join keys on that ONE string; the vocabulary-scaled LM side rebuilds
    // the key with concat_ws — exact, since tokens contain no spaces
    val bg = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr("graft_word_grams(toks, 2)")).as("bg"))
    val lmKeyed = lm.select(
      concat_ws(" ", col("w1"), col("w2")).as("bg"), col("p_cond"))
    val scored = bg.join(lmKeyed.hint("shuffle_hash"),
        Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("p_cond")).as("n_known"),
        min(col("p_cond")).as("min_p_cond"))
    docs.select("doc_id")
      .join(scored.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(col("n_known").cast("double") /
            col("n_bigrams").cast("double")).as("coverage"),
        col("min_p_cond"))
  }

  val docLmCoverageSql: String = s"""
    WITH lm AS ($bigramLmSql),
    d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    b AS (
      SELECT doc_id, toks[CAST(i + 1 AS INT)] AS w1,
             toks[CAST(i + 2 AS INT)] AS w2
      FROM d, unnest(range(0, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 2),
    s AS (
      SELECT b.doc_id, count(*) AS n_bigrams, count(lm.p_cond) AS n_known,
             min(lm.p_cond) AS min_p_cond
      FROM b LEFT JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
      GROUP BY 1)
    SELECT doc.doc_id,
      COALESCE(s.n_bigrams, 0) AS n_bigrams,
      COALESCE(s.n_known, 0) AS n_known,
      CASE WHEN COALESCE(s.n_bigrams, 0) = 0 THEN NULL
           ELSE CAST(s.n_known AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE)
      END AS coverage,
      s.min_p_cond
    FROM documents doc LEFT JOIN s ON doc.doc_id = s.doc_id
    ORDER BY doc.doc_id"""

  /** C43: `q_text_length_histogram` — token-length distribution per source
    * in power-of-2 buckets: the planning input for chunking (C22) and
    * packing (C28) — bucket counts tell you the straddler rate and pad
    * waste a sequence budget will produce BEFORE running either.
    *
    * Exactness: the log2 bucket is PURE INTEGER — `length(bin(n)) − 1`
    * (bit width of the token count), never a libm `log2` whose boundary
    * ULP could shift a power-of-two doc into the wrong bucket. Zero-token
    * docs land in bucket −1 ("vacio").
    *
    * Scale: one narrow codegen'd pass + a partial-agg shuffle onto the
    * (source × ~20 buckets) grid. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
          .as("n_tok"))
      .withColumn("bucket",
        when(col("n_tok") === 0, lit(-1L))
          .otherwise((length(conv(col("n_tok"), 10, 2)) - 1).cast("long")))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .select(col("source"), col("bucket"),
        when(col("bucket") < 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"))
          .as("bucket_lo"),
        col("n_docs"), col("n_tokens"))
      .orderBy("source", "bucket")

  val lengthHistogramSql: String = """
    WITH d AS (
      SELECT source,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        END AS n_tok
      FROM documents),
    b AS (
      SELECT source, n_tok,
        CASE WHEN n_tok = 0 THEN CAST(-1 AS BIGINT)
             ELSE CAST(length(bin(n_tok)) - 1 AS BIGINT) END AS bucket
      FROM d)
    SELECT source, bucket,
      CASE WHEN bucket < 0 THEN 0
           ELSE CAST(1 AS BIGINT) << CAST(bucket AS INT) END AS bucket_lo,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM b
    GROUP BY source, bucket
    ORDER BY source, bucket"""

  /** C61: `q_tokenizer_fertility` — tokenizer QA by (source, lang):
    * fertility (BPE-ish tokens per whitespace word) and token density per
    * 100 characters. Fertility is THE cross-lingual tokenizer health
    * metric — a language whose fertility runs high pays more sequence
    * budget per word of content, and a source whose density jumps signals
    * markup/code that C10's per-doc counts can't see in aggregate. Uses
    * C10's exact token definitions so the two reports reconcile.
    *
    * Exactness: integer sums; each ratio is one correctly-rounded
    * division of exact sub-2⁵³ integers.
    *
    * Scale: narrow codegen'd regexp pass + ONE (source, lang)-keyed
    * partial-agg shuffle over a source×lang-bounded grid. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("n_bpe"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws").as("n_words"),
        sum("n_bpe").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_chars"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        ((col("n_tokens") * 100L).cast("double") / col("n_chars").cast("double"))
          .as("tokens_per_100_chars"))
      .orderBy("source", "lang")

  val tokenizerFertilitySql: String = """
    WITH d AS (
      SELECT source, lang,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
          AS BIGINT) AS n_bpe
      FROM documents WHERE length(trim(text)) > 0)
    SELECT source, lang, COUNT(*) AS n_docs,
      CAST(SUM(n_ws) AS BIGINT) AS n_words,
      CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE) AS fertility,
      CAST(SUM(n_bpe) * 100 AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE)
        AS tokens_per_100_chars
    FROM d GROUP BY source, lang
    ORDER BY source, lang"""

  /** Head depth for the C95 Zipf profile — frequency marks are read at
    * ranks 1 / 10 / 100, so the per-source window keeps exactly this many
    * rows (WindowGroupLimit prunes the rest map-side). */
  val ZipfHeadRanks: Int = 100

  /** C95: `q_text_zipf` — per-source vocabulary-concentration profile,
    * the corpus-health read BEFORE tokenizer/mixture decisions: a source
    * whose term distribution is far off Zipf is boilerplate-flooded (head
    * ratios ≫ rank ratio) or spam/ID-noise (hapax fraction → 1), and both
    * should gate admission (C81) before any dedup spends money on it.
    *
    * Reported per source: total/vocab/hapax counts, the top term, head
    * concentration (top-1 / top-10 token share), and the Zipf frequency
    * ratios f(1)/f(10) and f(1)/f(100) — an ideal Zipf s exponent makes
    * f(1)/f(r) = r^s, so these ARE the two-point slope estimates with the
    * log left to the consumer: ln() is libm-dependent and would break
    * cross-engine bit-exactness (the C21 rule), while every number here
    * is an exact integer sum or ONE division of exact longs. Sources with
    * vocab < 10 (or < 100) yield NULL ratios, not a divide-by-zero.
    *
    * Scale: token explode → (source, term) counts partial-aggregate
    * map-side; everything downstream operates on the vocab-sized tf
    * relation, never the corpus. The rank window keeps [[ZipfHeadRanks]]
    * rows per source (rank-limit filter directly over row_number →
    * WindowGroupLimit prunes map-side before the sort-shuffle), and the
    * full-vocab stats are one more partial-agg pass over the SAME cached
    * tf relation — two consumers, one materialization. */
  def textZipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
      .cache()
    val stats = tf.groupBy("source").agg(
      sum("tf").as("total_tokens"),
      count(lit(1)).as("vocab_size"),
      sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("hapax_count"))
    val head = tf.withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("tf").desc, col("term"))))
      .filter(col("rank") <= ZipfHeadRanks)
    val marks = head.groupBy("source").agg(
      max(when(col("rank") === 1, col("term"))).as("top_term"),
      max(when(col("rank") === 1, col("tf"))).as("f1"),
      max(when(col("rank") === 10, col("tf"))).as("f10"),
      max(when(col("rank") === 100, col("tf"))).as("f100"),
      sum(when(col("rank") <= 10, col("tf")).otherwise(0L)).as("top10_tf"))
    stats.join(marks, "source")
      .select(col("source"), col("total_tokens"), col("vocab_size"),
        col("hapax_count"),
        (col("hapax_count").cast("double") / col("vocab_size").cast("double"))
          .as("hapax_frac"),
        col("top_term"),
        (col("f1").cast("double") / col("total_tokens").cast("double"))
          .as("top1_share"),
        (col("top10_tf").cast("double") / col("total_tokens").cast("double"))
          .as("top10_share"),
        (col("f1").cast("double") / col("f10").cast("double"))
          .as("zipf_ratio_10"),
        (col("f1").cast("double") / col("f100").cast("double"))
          .as("zipf_ratio_100"))
      .orderBy("source")
  }

  val textZipfSql: String = s"""
    WITH toks AS (
      SELECT source, t.term
      FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
        AS t(term)
      WHERE length(trim(text)) > 0 AND length(t.term) > 0),
    tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    stats AS (
      SELECT source, CAST(SUM(tf) AS BIGINT) AS total_tokens,
        count(*) AS vocab_size,
        CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count
      FROM tf GROUP BY 1),
    head AS (
      SELECT source, term, tf,
        row_number() OVER (PARTITION BY source ORDER BY tf DESC, term) AS rank
      FROM tf QUALIFY rank <= $ZipfHeadRanks),
    marks AS (
      SELECT source,
        max(CASE WHEN rank = 1 THEN term END) AS top_term,
        max(CASE WHEN rank = 1 THEN tf END) AS f1,
        max(CASE WHEN rank = 10 THEN tf END) AS f10,
        max(CASE WHEN rank = 100 THEN tf END) AS f100,
        CAST(SUM(CASE WHEN rank <= 10 THEN tf ELSE 0 END) AS BIGINT) AS top10_tf
      FROM head GROUP BY 1)
    SELECT s.source, s.total_tokens, s.vocab_size, s.hapax_count,
      CAST(s.hapax_count AS DOUBLE) / CAST(s.vocab_size AS DOUBLE)
        AS hapax_frac,
      m.top_term,
      CAST(m.f1 AS DOUBLE) / CAST(s.total_tokens AS DOUBLE) AS top1_share,
      CAST(m.top10_tf AS DOUBLE) / CAST(s.total_tokens AS DOUBLE)
        AS top10_share,
      CAST(m.f1 AS DOUBLE) / CAST(m.f10 AS DOUBLE) AS zipf_ratio_10,
      CAST(m.f1 AS DOUBLE) / CAST(m.f100 AS DOUBLE) AS zipf_ratio_100
    FROM stats s JOIN marks m ON m.source = s.source
    ORDER BY s.source"""

  /** C121: `q_source_vocab_overlap` — the pairwise VOCABULARY overlap
    * matrix between sources: per (source_a < source_b), both vocab sizes,
    * the shared-type count, vocabulary Jaccard, and containment in the
    * smaller vocabulary. C52 compares sources by whole-document content
    * hashes (who copies whom) and C100 by chunk hashes (how much); this
    * compares their WORD DISTRIBUTIONS' supports — the signal a mix
    * designer (C27/C54) reads to know whether two sources are
    * interchangeable lexical coverage or genuinely complementary (low
    * Jaccard = adding the second source buys new vocabulary; high
    * containment with asymmetric sizes = the small source is a lexical
    * subset and its mix weight buys diversity nothing).
    *
    * Exactness: set sizes and intersections are exact integers off
    * distinct (source, term) rows; Jaccard (∩ / (|a|+|b|−∩)) and
    * containment (∩ / min) are single divisions of exact longs.
    *
    * Scale: the vocab relation is one narrow token pass collapsed to
    * DISTINCT (source, term) — O(vocab · sources) rows, far below token
    * mass; the pair intersection is a term-keyed self-join whose fanout
    * per term is ≤ sources² with sources a bounded catalog (the C100
    * device — tens, not corpus-scaled), partial-aggregated map-side onto
    * the ≤ sources² pair grid. Pairs sharing zero types don't appear
    * (inner-join semantics, same both engines). */
  def sourceVocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .select("source", "term").distinct()
      .cache()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n_vocab"))
    vocab.as("a")
      .join(vocab.as("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("source_a"),
        col("n_vocab").as("n_vocab_a")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"),
        col("n_vocab").as("n_vocab_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_vocab_a"), col("n_vocab_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_vocab_a") + col("n_vocab_b") - col("n_common"))
            .cast("double")).as("vocab_jaccard"),
        (col("n_common").cast("double") /
          least(col("n_vocab_a"), col("n_vocab_b")).cast("double"))
          .as("containment"))
      .orderBy("source_a", "source_b")
  }

  val sourceVocabOverlapSql: String = """
    WITH vocab AS (
      SELECT DISTINCT source, t.term
      FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        AS t(term)
      WHERE length(trim(text)) > 0 AND length(t.term) > 0),
    sizes AS (SELECT source, count(*) AS n_vocab FROM vocab GROUP BY 1),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
        count(*) AS n_common
      FROM vocab a JOIN vocab b
        ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2)
    SELECT p.source_a, p.source_b,
      sa.n_vocab AS n_vocab_a, sb.n_vocab AS n_vocab_b, p.n_common,
      CAST(p.n_common AS DOUBLE)
        / CAST(sa.n_vocab + sb.n_vocab - p.n_common AS DOUBLE)
        AS vocab_jaccard,
      CAST(p.n_common AS DOUBLE)
        / CAST(least(sa.n_vocab, sb.n_vocab) AS DOUBLE) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.source = p.source_a
    JOIN sizes sb ON sb.source = p.source_b
    ORDER BY p.source_a, p.source_b"""

  /** C97 crawl-order checkpoint count (deciles, the C71 bucket device). */
  val VocabBuckets: Int = 10

  /** C97: `q_vocab_growth` — the HEAPS-LAW read next to C95's Zipf one:
    * walk the corpus in ingestion order (the C71 id-range decile device —
    * a narrow integer map off a broadcast 1-row max, never a global
    * rank), and report per checkpoint the cumulative document / token /
    * TYPE (distinct unigram) counts plus the type- and token-growth
    * ratios against the previous checkpoint. Heaps' law says V(n) ∝ n^β,
    * so β between checkpoints is log(type_ratio)/log(token_ratio) — the
    * ratios ship in linear space (one division of exact longs each; the
    * C21 no-libm rule) and the log stays with the consumer. A curve whose
    * type growth tracks token growth (β → 1) is ID-noise that will never
    * saturate a tokenizer; β collapsing toward 0 says more crawl buys no
    * new vocabulary — the unigram sibling of C71's 8-gram novelty curve
    * (C71 prices OCCURRENCE novelty; this prices the VOCABULARY a
    * tokenizer/embedding table must carry).
    *
    * Plan: token explode → (term, bucket) occurrence grid, cached for its
    * two consumers (first-bucket-per-term and the per-bucket rollup); the
    * cumulative pass is a running window over the ≤ [[VocabBuckets]]-row
    * grid (provably bounded — Audit-vetted global window). */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = VocabBuckets
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val mx = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .agg(max("doc_id").as("max_id"))
    val bucketed = d.crossJoin(broadcast(mx))
      .withColumn("bucket",
        expr(s"least(doc_id * $B div (max_id + 1), ${B - 1})"))
    val grid = bucketed
      .select(col("bucket"), explode(col("toks")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "bucket").agg(count(lit(1)).as("occ"))
      .cache()
    val firsts = grid.groupBy("term").agg(min("bucket").as("first_bucket"))
    val perBucket = grid.join(firsts, "term")
      .groupBy("bucket").agg(
        sum("occ").as("n_tokens"),
        sum(when(col("first_bucket") === col("bucket"), 1L).otherwise(0L))
          .as("n_new_types"))
    val nDocs = bucketed.groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    val base = nDocs.join(perBucket, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = Window.orderBy("bucket")
    base
      .withColumn("n_docs_cum", sum("n_docs").over(cum))
      .withColumn("n_tokens_cum", sum("n_tokens").over(cum))
      .withColumn("n_types_cum", sum("n_new_types").over(cum))
      .withColumn("type_ratio",
        col("n_types_cum").cast("double") /
          lag("n_types_cum", 1).over(prev).cast("double"))
      .withColumn("token_ratio",
        col("n_tokens_cum").cast("double") /
          lag("n_tokens_cum", 1).over(prev).cast("double"))
      .orderBy("bucket")
  }

  val vocabGrowthSql: String = s"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    mx AS (SELECT max(doc_id) AS max_id FROM d),
    b AS (
      SELECT doc_id,
        least(doc_id * $VocabBuckets // (max_id + 1),
              ${VocabBuckets - 1}) AS bucket,
        toks
      FROM d, mx),
    t AS (
      SELECT bucket, u.term
      FROM b, unnest(toks) AS u(term) WHERE length(u.term) > 0),
    grid AS (SELECT term, bucket, count(*) AS occ FROM t GROUP BY 1, 2),
    firsts AS (SELECT term, min(bucket) AS first_bucket FROM grid GROUP BY 1),
    pb AS (
      SELECT g.bucket, CAST(SUM(g.occ) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN f.first_bucket = g.bucket THEN 1 ELSE 0 END)
          AS BIGINT) AS n_new_types
      FROM grid g JOIN firsts f ON f.term = g.term GROUP BY 1),
    nd AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY 1),
    base AS (
      SELECT nd.bucket, nd.n_docs,
        COALESCE(pb.n_tokens, 0) AS n_tokens,
        COALESCE(pb.n_new_types, 0) AS n_new_types
      FROM nd LEFT JOIN pb ON pb.bucket = nd.bucket),
    cum AS (
      SELECT bucket, n_docs, n_tokens, n_new_types,
        CAST(SUM(n_docs) OVER w AS BIGINT) AS n_docs_cum,
        CAST(SUM(n_tokens) OVER w AS BIGINT) AS n_tokens_cum,
        CAST(SUM(n_new_types) OVER w AS BIGINT) AS n_types_cum
      FROM base
      WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING))
    SELECT bucket, n_docs, n_tokens, n_new_types,
      n_docs_cum, n_tokens_cum, n_types_cum,
      CAST(n_types_cum AS DOUBLE) /
        CAST(lag(n_types_cum) OVER (ORDER BY bucket) AS DOUBLE) AS type_ratio,
      CAST(n_tokens_cum AS DOUBLE) /
        CAST(lag(n_tokens_cum) OVER (ORDER BY bucket) AS DOUBLE) AS token_ratio
    FROM cum ORDER BY bucket"""

  /** C68: `q_pii_audit` — per-source PII incidence over the raw feed
    * ([[graft.sources.Feeds.documentsWithPii]]): how many docs carry PII,
    * how many emails vs phones, and the redaction density per 10k
    * whitespace tokens. C16 scrubs; this REPORTS — the compliance view a
    * curator checks before and after admitting a source (a source whose
    * density jumps is a crawler pulling contact pages), on the SAME
    * regexes as the scrubber so the two reconcile by construction.
    *
    * Exactness: counts are exact integers off one aggregation; the two
    * densities are single divisions of exact longs (the per-10k rate
    * multiplies BEFORE dividing).
    *
    * Scale: one narrow codegen'd regexp pass, partial-aggregated
    * map-side onto the source grid — no fact-side shuffle at any corpus
    * size. */
  def piiAudit(spark: SparkSession, dir: String): DataFrame =
    piiAuditAgg(graft.sources.Feeds.documentsWithPii(spark, dir))
      .orderBy("source")

  /** The C68 aggregation on any (source, text) relation — batch OR
    * streaming (every column is a plain mergeable integer counter, so
    * [[graft.streaming.DatasheetStream.runningPiiAudit]] delegates here
    * unchanged and the stream is EXACT, densities included). */
  def piiAuditAgg(docs: DataFrame): DataFrame = {
    val d = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"))
    d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_phone") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum("n_email").as("n_emails"),
        sum("n_phone").as("n_phones"),
        sum(col("n_email") + col("n_phone")).as("n_redactions"),
        sum("n_tok").as("n_tokens"))
      .select(col("source"), col("n_docs"), col("docs_with_pii"),
        col("n_emails"), col("n_phones"), col("n_redactions"),
        (col("docs_with_pii").cast("double") / col("n_docs").cast("double"))
          .as("pii_doc_share"),
        ((col("n_redactions") * 10000L).cast("double")
          / col("n_tokens").cast("double")).as("redactions_per_10k_tok"))
  }

  val piiAuditSql: String = s"""
    WITH feed AS (${graft.sources.Feeds.documentsWithPiiSql}),
    d AS (
      SELECT source,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
          AS n_tok,
        CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phone
      FROM feed WHERE length(trim(text)) > 0)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_with_pii,
      CAST(SUM(n_email) AS BIGINT) AS n_emails,
      CAST(SUM(n_phone) AS BIGINT) AS n_phones,
      CAST(SUM(n_email + n_phone) AS BIGINT) AS n_redactions,
      CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS pii_doc_share,
      CAST(SUM(n_email + n_phone) * 10000 AS DOUBLE)
        / CAST(SUM(n_tok) AS DOUBLE) AS redactions_per_10k_tok
    FROM d GROUP BY 1 ORDER BY source"""

  /** C66 flag cut: top-bigram occurrence share above which a doc is
    * repetitive (the trigram arm fires on ANY within-doc repeat).
    * Declared before the SQL val that interpolates it. */
  val RepTopBigram: Double = 0.05

  /** Max-run-length of equal adjacent elements in the SORTED array — i.e.
    * the occurrence count of the array's most frequent element, computed
    * as a per-row fold with NO explode and NO shuffle. The accumulator
    * carries (previous element, current run, best run). */
  private def maxRunExpr(arr: String): String = s"""
    aggregate(array_sort($arr),
      named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
                   'best', CAST(0 AS BIGINT)),
      (acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev,
        named_struct('prev', x, 'run', acc.run + CAST(1 AS BIGINT),
          'best', greatest(acc.best, acc.run + CAST(1 AS BIGINT))),
        named_struct('prev', x, 'run', CAST(1 AS BIGINT),
          'best', greatest(acc.best, CAST(1 AS BIGINT)))),
      acc -> acc.best)"""

  /** C66: `q_doc_repetition` — within-document repetition metrics, the
    * Gopher-style quality filter C9 doesn't cover (C9 scores composition;
    * this catches the boilerplate/SEO/generator pathology of one phrase
    * looping): per doc — most-frequent-word occurrence share,
    * most-frequent-bigram share of bigram slots, and the share of trigram
    * slots occupied by repeated trigrams; `repetitive` flags docs past
    * [[RepTopBigram]] on the bigram arm or ANY trigram repeat. C64 prices
    * repetition ACROSS the corpus; this prices it INSIDE each doc —
    * both feed the same drop list.
    *
    * Exactness: every count is an exact integer (run lengths over a
    * sorted array, distinct counts), shares are single divisions of
    * exact longs, and both engines compare the same doubles to the same
    * literals.
    *
    * Scale: ZERO shuffle — the mode of a doc's words/bigrams needs no
    * per-(doc, gram) aggregation: each doc's grams live in one array, so
    * `array_sort` + a run-length fold computes the top occurrence count
    * row-locally (the oracle mirrors with its unnest+GROUP BY because
    * clarity is all that matters there). One embarrassingly-parallel
    * corpus pass at any scale; docs shorter than 3 tokens carry no
    * defined trigram share and are excluded by contract. */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tok"),
        expr("graft_word_grams(toks, 2)").as("bi"),
        expr("graft_word_grams(toks, 3)").as("tri"))
      .select(col("doc_id"), col("n_tok"),
        expr(maxRunExpr("toks")).as("topw"),
        expr(maxRunExpr("bi")).as("topb"),
        size(array_distinct(col("tri"))).cast("long").as("d3"))
    d.select(col("doc_id"), col("n_tok"),
      (col("topw").cast("double") / col("n_tok").cast("double"))
        .as("top_word_share"),
      (col("topb").cast("double") / (col("n_tok") - 1).cast("double"))
        .as("top_bigram_share"),
      (lit(1.0) - col("d3").cast("double") / (col("n_tok") - 2).cast("double"))
        .as("trigram_dup_share"))
      .withColumn("repetitive",
        col("top_bigram_share") > RepTopBigram ||
          col("trigram_dup_share") > 0.0)
      .orderBy("doc_id")
  }

  val docRepetitionSql: String = s"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    base AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok
      FROM d WHERE len(toks) >= 3),
    wc AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS topw FROM (
        SELECT doc_id, w, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(toks) AS w FROM base) GROUP BY 1, 2)
      GROUP BY 1),
    bc AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS topb FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1), i ->
            toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)]))
            AS g FROM base) GROUP BY 1, 2)
      GROUP BY 1),
    tc AS (
      SELECT doc_id, CAST(len(list_distinct(
        list_transform(range(0, len(toks) - 2), i ->
          toks[CAST(i + 1 AS INT)] || ' ' || toks[CAST(i + 2 AS INT)]
            || ' ' || toks[CAST(i + 3 AS INT)]))) AS BIGINT) AS d3
      FROM base)
    SELECT base.doc_id, n_tok,
      CAST(topw AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_word_share,
      CAST(topb AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE) AS top_bigram_share,
      CAST(1.0 AS DOUBLE) - CAST(d3 AS DOUBLE) / CAST(n_tok - 2 AS DOUBLE)
        AS trigram_dup_share,
      (CAST(topb AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE) > $RepTopBigram) OR
      (CAST(1.0 AS DOUBLE) - CAST(d3 AS DOUBLE) / CAST(n_tok - 2 AS DOUBLE)
        > 0.0) AS repetitive
    FROM base JOIN wc USING (doc_id) JOIN bc USING (doc_id)
      JOIN tc USING (doc_id)
    ORDER BY doc_id"""
}
