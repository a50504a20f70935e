package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.TextOps

/** D12: streaming twin of Pipeline.corpusPipeline (C17) — the whole
  * training-corpus curation chain run CONTINUOUSLY over an incoming
  * document stream: quality gate → language gate → exact content dedup →
  * PII scrub, the online face of the reference's scheduled ingest
  * (/root/reference/app/api/scheduler_endpoints.py runs the batch version
  * on a timer; this never stops).
  *
  * The gates and the scrub are the SAME narrow column primitives the batch
  * pipeline composes ([[TextOps.qualityScoreCol]]/[[TextOps.langPredCol]]/
  * [[TextOps.scrubCol]]) — stateless, codegen'd, zero per-row state. The
  * only stateful stage is the dedup, delegated to [[DedupStream.dedup]]:
  * 16-byte-hash state, watermark-evicted, O(horizon distinct hashes)
  * regardless of document size.
  *
  * Keeper semantics: the batch twin keeps min doc_id per content hash; the
  * stream keeps the FIRST ARRIVAL. When arrival order follows doc_id (an
  * append-only feed), the two agree row-for-row — spec-pinned with
  * duplicates straddling micro-batches.
  */
object CorpusStream {

  /** Continuous curation. Input needs (doc_id, source, lang, text, `tsCol`:
    * timestamp); emits the batch twin's schema. Works on a streaming or
    * batch DataFrame (batch degrades the dedup to dropDuplicates). */
  def curate(docs: DataFrame, minQuality: Double = 0.0,
             tsCol: String = "ts",
             watermark: String = "10 minutes"): DataFrame = {
    val gated = docs
      .filter(length(trim(col("text"))) > 0)
      .withColumn("quality_score", TextOps.qualityScoreCol(col("text")))
      .withColumn("lang_predicho", TextOps.langPredCol(col("text")))
      .filter(col("quality_score") >= minQuality &&
        col("lang_predicho") === col("lang"))
    DedupStream.dedup(gated, "text", tsCol, watermark)
      .select(col("doc_id"), col("source"), col("lang_predicho"),
        col("quality_score"),
        TextOps.scrubCol(col("text")).as("texto_limpio"),
        TextOps.redactionsCol(col("text")).as("n_redacciones"))
  }

  /** D23: streaming quality-classifier gate — C72's learned filter in its
    * DEPLOYED shape: the frozen-weight logit scored per arriving document.
    * The classifier is a pure per-row column chain
    * ([[TextOps.classifierFrame]], shared with batch C72 VERBATIM), so the
    * gate is STATELESS — no state store row ever exists, any micro-batch
    * split gives the same rows, and the stream ≡ batch equivalence is
    * structural rather than merge-algebra (spec-pinned anyway, as the
    * cheapest regression tripwire for a weight edit that forgets one
    * side). Retraining stays batch-side; deploying new weights is a code
    * roll, not a state migration. */
  def qualityGate(docs: DataFrame): DataFrame =
    TextOps.classifierFrame(docs)

  /** D24: streaming feed-novelty scoring — C76's crawl-budget gate in its
    * DEPLOYED shape: each arriving micro-batch scored against the FROZEN
    * standing gram index ([[graft.operators.Pipeline.standingGramIndex]],
    * passed as a static relation — corpus-scaled, so it stays a DataFrame
    * join exactly like D16's LM and D18's signature index, never a task
    * closure). STATELESS: novelty is defined against the STANDING corpus
    * only, so each batch's report is complete in itself (state O(0); a
    * cumulative all-batches report would need O(distinct grams seen)
    * state — that retrospective read is batch C71/C76's job). Because
    * "novel" never depends on earlier batches, the integer occurrence
    * columns are ADDITIVE across any micro-batch split (spec-pinned
    * against batch C76, along with single-batch ≡ batch equality).
    * Vehicle: [[BatchSink.epochParquet]] running the SAME `noveltyReport`
    * plan as batch C76, with the batch epoch recorded per row; the
    * epoch write keeps a replayed micro-batch from doubling the
    * additive-exact report. */
  def noveltyGate(docs: DataFrame, standing: DataFrame, targetDir: String,
                  checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(docs, targetDir, checkpointDir, trigger)(
      graft.operators.Pipeline.noveltyReport(_, standing))

  /** D16: streaming LM-coverage scoring — C51's quality filter in its
    * DEPLOYED shape: incoming documents scored per micro-batch against a
    * FROZEN language model (trained batch-side by [[TextOps.bigramLm]],
    * passed in as a static relation). This is how LM-based filtering runs
    * in production ingest — the model does NOT update with the stream, so
    * scoring is STATELESS: every doc's bigrams arrive in its own row, the
    * per-doc aggregate completes inside the micro-batch, and no state
    * store entry outlives the batch (state O(0), vs the unbounded
    * O(docs-seen) a naive streaming groupBy(doc_id) would accrete).
    * Vehicle: [[BatchSink.epochParquet]] running
    * [[TextOps.scoreAgainstLm]] — the SAME audited plan as batch C51 —
    * written to a parquet sink. Batch-union ≡ C51 equivalence is
    * spec-pinned across a two-batch feed. */
  def lmScore(docs: DataFrame, lm: DataFrame, targetDir: String,
              checkpointDir: String,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchSink.epochParquet(docs, targetDir, checkpointDir, trigger)(
      TextOps.scoreAgainstLm(_, lm))
}
