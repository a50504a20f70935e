package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One routed document entering the shard manifest: produced by
  * [[ShardStream.route]] with the SAME narrow projection as batch C65. */
case class ShardIn(shard_id: Long, n_tok: Long, ck: Long)

/** Running per-shard manifest state: two counters, the XOR fingerprint,
  * and an emit revision — O(NumShards) forever. */
case class ShardState(n_docs: Long, n_tokens: Long, ck: Long, rev: Long)

/** One revision of a shard's manifest row — C65's exact integer columns
  * plus the revision. The share/balance columns are derived
  * NumShards-row arithmetic the reader applies to the max-rev generation
  * (a per-shard state cannot see the cross-shard token total). */
case class ShardOut(shard_id: Long, rev: Long, n_docs: Long,
                    n_tokens: Long, content_checksum: Long)

/** D20: streaming twin of `Pipeline.corpusShard` (C65) — the output-shard
  * manifest maintained continuously while an export stream is being
  * written. Every state transition is a counter increment or an XOR, and
  * all three commute and associate, so unlike D10's packer (whose prefix
  * sum imposes a per-source arrival-order contract) this state is fully
  * ORDER-INDEPENDENT: any partition of the corpus into micro-batches, in
  * any arrival order, converges to the same manifest — which is exactly
  * the property that lets a writer fleet append shard files concurrently
  * and still reconcile against one fingerprint. State is O(NumShards)
  * forever; no watermark, no eviction. Each micro-batch that touches a
  * shard emits a REVISION of its row (D11's pattern — an append stream
  * can't retract); readers take the max-rev row per shard, and the
  * max-rev generation equals batch C65's integer columns bit-for-bit
  * (spec-pinned, the derived share divisions included — same exact longs
  * on both sides). */
object ShardStream {

  /** The batch C65 routing projection — narrow, codegen'd, stateless —
    * applicable to a static OR streaming documents frame. */
  def route(docs: DataFrame): Dataset[ShardIn] = {
    docs.filter(length(trim(col("text"))) > 0)
      .select(
        (expr("graft_str_hash(concat('shard|', lower(trim(text))))")
          % graft.operators.Pipeline.NumShards).as("shard_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        expr("graft_str_hash(concat('cksum|', lower(trim(text))))").as("ck"))
      .as[ShardIn](Encoders.product[ShardIn])
  }

  private def manifestFunc(
      shardId: Long, docs: Iterator[ShardIn],
      state: GroupState[ShardState]): Iterator[ShardOut] = {
    val s0 = state.getOption.getOrElse(ShardState(0L, 0L, 0L, 0L))
    var n = s0.n_docs; var t = s0.n_tokens; var x = s0.ck
    docs.foreach { d => n += 1; t += d.n_tok; x ^= d.ck }
    val rev = s0.rev + 1
    state.update(ShardState(n, t, x, rev))
    Iterator.single(ShardOut(shardId, rev, n, t, x))
  }

  /** Continuously maintained shard manifest. Append-mode; no watermark. */
  def runningManifest(docs: Dataset[ShardIn]): Dataset[ShardOut] = {
    implicit val outEnc = Encoders.product[ShardOut]
    implicit val stEnc = Encoders.product[ShardState]
    docs.groupByKey(_.shard_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(manifestFunc)
  }
}
