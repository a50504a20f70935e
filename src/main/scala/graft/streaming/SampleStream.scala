package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One pre-hashed document observation: `h` is the batch twin's salted
  * content hash (`graft_str_hash('strat|' + normalized text)`), computed
  * upstream by [[SampleStream.docHashes]] exactly like C57. */
case class DocHash(source: String, lang: String, doc_id: Long, h: Long)

/** Per-stratum running state: the current bottom-k (h, doc_id) pairs in
  * ascending order plus a revision counter — O(k) forever. */
case class BottomKState(hs: Seq[Long], ids: Seq[Long], rev: Long)

/** One emitted sample row; consumers keep the max-rev generation. */
case class SampleRow(source: String, lang: String, doc_id: Long, h: Long,
                     rnk: Long, rev: Long)

/** D17: streaming twin of Pipeline.corpusSampleStratified (C57) — a
  * continuously maintained exact-size stratified sample over a document
  * stream (the always-current eval set an ingest pipeline exposes).
  *
  * This is C34/C57's bottom-k MERGE PROPERTY run live: the bottom-k of a
  * union is the bottom-k of the parts' bottom-ks, so per-stratum state is
  * just the current k (hash, doc_id) pairs — O(strata · k) total at any
  * stream length, no watermark, no eviction. Each micro-batch merges its
  * arrivals into the kept set and re-emits the stratum's full sample with
  * a bumped `rev` (D11's revision pattern).
  *
  * Exactness: hashes, ids and ranks are all integers ordered by the same
  * (h, doc_id) key as the batch window — after the final micro-batch the
  * max-rev rows equal batch C57 row-for-row (spec-pinned). Assumes an
  * append-only feed of unique doc_ids (the D2/D12 contract); re-deliveries
  * are collapsed by the (h, doc_id) distinct before the take.
  */
object SampleStream {

  private def updateFunc(k: Int)(key: (String, String),
      docs: Iterator[DocHash],
      state: GroupState[BottomKState]): Iterator[SampleRow] = {
    val prev = state.getOption.getOrElse(BottomKState(Seq.empty, Seq.empty, 0L))
    val merged = ((prev.hs zip prev.ids) ++ docs.map(d => (d.h, d.doc_id)))
      .distinct.sorted.take(k)
    val rev = prev.rev + 1
    state.update(BottomKState(merged.map(_._1), merged.map(_._2), rev))
    merged.iterator.zipWithIndex.map { case ((h, id), i) =>
      SampleRow(key._1, key._2, id, h, i + 1L, rev)
    }
  }

  /** Shared column prep: the batch twin's salted hash over the normalized
    * text, so stream and batch sample IDENTICAL keys. */
  def docHashes(docs: DataFrame): Dataset[DocHash] = {
    implicit val enc = Encoders.product[DocHash]
    docs.filter(length(lower(trim(col("text")))) > 0)
      .select(col("source"), col("lang"), col("doc_id"),
        expr("graft_str_hash(concat('strat|', lower(trim(text))))").as("h"))
      .as[DocHash]
  }

  /** Running stratified sample over a (streaming or batch) DocHash set.
    * Update-mode emissions; in batch execution this degenerates to one
    * generation (rev = 1) equal to the batch twin. */
  def rows(docs: Dataset[DocHash],
           k: Int = graft.operators.Pipeline.StratumK): Dataset[SampleRow] = {
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val outEnc = Encoders.product[SampleRow]
    implicit val stEnc = Encoders.product[BottomKState]
    docs.groupByKey(d => (d.source, d.lang))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(updateFunc(k))
  }
}
