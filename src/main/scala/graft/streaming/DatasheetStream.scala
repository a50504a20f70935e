package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** D8: streaming twin of Pipeline.corpusDatasheet (C31) — a continuously
  * maintained per-(source, language) corpus composition report over a
  * document stream (the "how much of what am I ingesting" dashboard an
  * ingestion pipeline watches, the streaming face of the reference's
  * scheduled sync monitoring).
  *
  * The batch datasheet's volumes (docs/tokens/chars) are plain mergeable
  * integer aggregates, so they stream exactly. Its exact-duplicate count
  * (`countDistinct(norm_hash)`) does NOT: exact streaming distinct needs
  * state linear in distinct content — unbounded on a corpus stream. The
  * streaming twin swaps in the repo's HyperLogLog sketch aggregate
  * (`graft_hll_sketch`, a 64-register max-merged state — O(1) per group,
  * idempotent merge, same algebra as the batch B20 query), trading the
  * exact count for a bounded-state estimate. State is keyed on
  * (source, lang) — a closed, tiny key space — so the running aggregate
  * holds O(sources × langs) rows of O(1) state at any stream length.
  */
object DatasheetStream {

  /** Running composition aggregate. Works on a streaming OR batch
    * DataFrame with columns (source, lang, text) — specs drive both from
    * the same rows and compare results row-for-row (the sketch algebra is
    * deterministic, so even `hll_distintos` matches bit-for-bit). */
  def runningDatasheet(docs: DataFrame): DataFrame = {
    val am2 = graft.functions.Kernels.HllAlphaM2
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("lang"),
        // 60-bit md5 prefix as the sketch's long input — the same content
        // identity the batch datasheet distinct-counts
        expr("""CAST(conv(substr(md5(CAST(lower(trim(text)) AS BINARY)),
                 1, 15), 16, 10) AS BIGINT)""").as("content_key"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chr"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("n_chr").as("n_chars"),
        expr("graft_hll_sketch(content_key)").as("regs"))
      .withColumn("hll_distintos", expr(
        s"""CAST($am2 AS DOUBLE) / aggregate(regs, CAST(0 AS DOUBLE),
             (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))"""))
      .select("source", "lang", "n_docs", "n_tokens", "n_chars",
        "hll_distintos")
  }

  /** D21: streaming twin of TextOps.piiAudit (C68) — the per-source PII
    * compliance view maintained continuously over the ingest stream, so a
    * crawler that starts pulling contact pages shows up mid-crawl, not at
    * the end-of-day batch audit. Unlike D8/D14 (whose distinct counts
    * forced the HLL sketch swap), EVERY batch column here is a plain
    * mergeable integer counter — doc/email/phone/redaction/token counts —
    * so the streaming aggregate delegates to the batch plan UNCHANGED
    * ([[graft.operators.TextOps.piiAuditAgg]]) and the running report is
    * EXACT, the two read-time densities included. State: one row of six
    * BIGINTs per source — a closed, tiny key space at any stream length. */
  def runningPiiAudit(docs: DataFrame): DataFrame =
    graft.operators.TextOps.piiAuditAgg(docs)

  /** D25: streaming twin of TextOps.filterBias (C80) — the quality
    * filter's calibration/bias audit maintained continuously, so a weight
    * roll that craters one source's or language's keep share alarms while
    * the roll is still in canary, not after the corpus mix shifted. Every
    * batch column is a plain mergeable integer counter (doc/keep counts +
    * the nano-quantized logit sum — C47's quantization rule), so the
    * streaming aggregate delegates to the batch plan UNCHANGED
    * ([[graft.operators.TextOps.filterBiasAgg]]) and the running report is
    * EXACT, mean logit included. State: three BIGINTs per (source, lang) —
    * a closed tiny key space at any stream length. */
  def runningFilterBias(docs: DataFrame): DataFrame =
    graft.operators.TextOps.filterBiasAgg(docs)

  /** D31: streaming twin of TextOps.classifierCalibration (C90) — the
    * learned filter's calibration curve maintained continuously, D25's
    * bin-wise sibling: a weight roll whose confidence stops tracking the
    * heuristic (boundary bins' agreement collapsing, an inverted quality
    * gradient) alarms in canary, not after the corpus shifted. Every
    * batch column is a plain mergeable integer counter (doc/keep/agree
    * counts + the nano-quantized quality sum — C47's rule), so the
    * streaming aggregate delegates to the batch plan UNCHANGED
    * ([[graft.operators.TextOps.calibrationAgg]]) and the running curve
    * is EXACT. State: four BIGINTs per logit bin — a closed ~dozen-row
    * key space at any stream length. */
  def runningCalibration(docs: DataFrame): DataFrame =
    graft.operators.TextOps.calibrationAgg(docs)

  /** D14: streaming twin of Pipeline.sourceHealth (C47) — the per-source
    * curation gate maintained continuously: mean quality (EXACT — the
    * nano-quantized integer sum streams losslessly, one division at read
    * time), language-agreement share (exact integer counters) and a
    * duplicate-share ESTIMATE (exact streaming dup-share needs
    * O(distinct-content) state; the HLL sketch holds O(1) registers per
    * source, same swap D8 makes for the datasheet's distinct count).
    * State is keyed on `source` — a tiny closed key space. Two-micro-batch
    * ≡ one-batch equality is spec-pinned bit-for-bit, estimate included. */
  def runningSourceHealth(docs: DataFrame): DataFrame = {
    val am2 = graft.functions.Kernels.HllAlphaM2
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        expr("""CAST(conv(substr(md5(CAST(lower(trim(text)) AS BINARY)),
                 1, 15), 16, 10) AS BIGINT)""").as("content_key"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        round(graft.operators.TextOps.qualityScoreCol(col("text")) *
          lit(1.0e9)).cast("long").as("qu"),
        (graft.operators.TextOps.langPredCol(col("text")) === col("lang"))
          .cast("long").as("lang_ok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("qu").as("squ"), sum("lang_ok").as("n_lang_ok"),
        expr("graft_hll_sketch(content_key)").as("regs"))
      .withColumn("hll_distintos", expr(
        s"""CAST($am2 AS DOUBLE) / aggregate(regs, CAST(0 AS DOUBLE),
             (acc, r) -> acc + pow(CAST(2 AS DOUBLE), -r))"""))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("squ").cast("double") / col("n_docs").cast("double") /
          lit(1.0e9)).as("quality_media"),
        (col("n_lang_ok").cast("double") / col("n_docs").cast("double"))
          .as("lang_match_share"),
        col("hll_distintos"))
  }
}
