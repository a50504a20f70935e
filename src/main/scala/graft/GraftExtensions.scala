package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions._

/** Optimizer rule: a self dot product IS a squared norm — `graft_dot(v, v)`
  * reads the array twice per element where `graft_norm2(v)` reads it once,
  * and the arithmetic (sequential fold of x·x) is bit-identical. Users
  * composing cosine from the primitives write the dot form naturally; the
  * rule rewrites it, the way Catalyst canonicalizes `x + 0` — an example of
  * domain-specific optimization injected via `injectOptimizerRule`. */
object DotSelfToNorm extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case DotF(a, b) if a.semanticEquals(b) => Norm2F(a)
    }
}

/** Session extension that registers graft's native expression kernels, so a
  * user gets them in every session (SQL and `expr(...)`) via
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or programmatically with [[GraftSession.builder]]. The same registrations
  * are applied idempotently by [[graft.functions.Kernels.register]] for
  * sessions created without the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, usage: String,
                 builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name, usage), builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_minhash_sigs",
      "4-band x 3-row MinHash band signatures of a normalized string",
      args => ShingleMinHashSigs(args.head)))
    ext.injectFunction(fn("graft_minhash_rows",
      "the 12 raw MinHash row minima behind graft_minhash_sigs",
      args => MinHashRows(args.head)))
    ext.injectFunction(fn("graft_simhash32",
      "32-bit SimHash of a token array (md5 nibble majority votes)",
      args => SimHash32(args.head)))
    ext.injectFunction(fn("graft_winnow_fp",
      "winnowing fingerprint: min md5 hex over 5-char shingles",
      args => WinnowFp(args.head)))
    ext.injectFunction(fn("graft_dot",
      "sequential-fold double dot product of two float vectors",
      args => DotF(args(0), args(1))))
    ext.injectFunction(fn("graft_norm2",
      "sequential-fold squared norm of a float vector",
      args => Norm2F(args.head)))
    ext.injectFunction(fn("graft_lsh_bucket",
      "8-plane sign-LSH bucket id of a 64-dim float vector",
      args => LshBucket(args.head)))
    ext.injectFunction(fn("graft_lsh_buckets",
      "per-table sign-LSH bucket ids (multi-table LSH) of a 64-dim float vector",
      args => LshBuckets(args.head)))
    ext.injectFunction(fn("graft_str_hash",
      "deterministic polynomial string hash mod 2^31-1 (codepoint fold)",
      args => StrHash(args.head)))
    ext.injectFunction(fn("graft_bloom_cells",
      "bloom-filter bit positions of a gram string (k rows over m bits)",
      args => BloomCells(args.head, if (args.length > 1) args(1)
        else org.apache.spark.sql.catalyst.expressions.Literal(
          Kernels.BloomBits))))
    // geometry arguments must be foldable integer literals — guard so a
    // column argument fails with a clear analysis error, not an eval() NPE
    def litInt(e: Expression): Int = {
      require(e.foldable,
        s"geometry argument must be an integer literal, got: $e")
      e.eval().asInstanceOf[Number].intValue
    }
    ext.injectFunction(fn("graft_cms_cells",
      "flat count-min-sketch cell indices of a string key",
      args => CmsCells(args.head)))
    ext.injectFunction(fn("graft_cms_cells_g",
      "count-min cell indices at an explicit depth x width geometry",
      args => CmsCellsG(args(0), litInt(args(1)), litInt(args(2)))))
    ext.injectFunction(fn("graft_cms_sketch",
      "count-min sketch aggregate of a string column (flat depth x width matrix)",
      args => CountMinSketchAgg(args.head)))
    ext.injectFunction(fn("graft_cms_sketch_g",
      "count-min sketch aggregate at an explicit depth x width geometry",
      args => CountMinSketchAgg(args(0), litInt(args(1)), litInt(args(2)))))
    ext.injectFunction(fn("graft_hll_sketch",
      "HyperLogLog register-vector aggregate of a long column (m=64)",
      args => HllSketchAgg(args.head)))
    ext.injectFunction(fn("graft_hll_sketch_m",
      "HyperLogLog register-vector aggregate at an explicit register count",
      args => HllSketchAgg(args(0), litInt(args(1)))))
    ext.injectFunction(fn("graft_gram_agg",
      "quantized Gram/covariance matrix aggregate of an embedding column",
      args => GramMatrixAgg(args.head)))
    ext.injectFunction(fn("graft_qsketch",
      "log2-linear quantile-sketch bucket counts of a long column (s=6)",
      args => QuantileSketchAgg(args.head)))
    ext.injectFunction(fn("graft_qsketch_s",
      "quantile-sketch bucket counts at an explicit subdivision s",
      args => QuantileSketchAgg(args(0), litInt(args(1)))))
    ext.injectFunction(fn("graft_common_count",
      "exact |set(a) ∩ set(b)| of two long arrays (allocation-free)",
      args => CommonCount(args(0), args(1))))
    ext.injectFunction(fn("graft_lev_capped",
      "edit distance when <= max(chars)/5 else -1 (prefix/suffix-stripped bit-parallel DP)",
      args => LevCapped(args(0), args(1))))
    ext.injectFunction(fn("graft_word_grams",
      "' '-joined word n-grams of a token array (codegen'd concat_ws loop)",
      args => WordGrams(args(0), litInt(args(1)), distinct = false)))
    ext.injectFunction(fn("graft_word_grams_distinct",
      "first-occurrence-distinct word n-grams of a token array",
      args => WordGrams(args(0), litInt(args(1)), distinct = true)))
    ext.injectFunction(fn("graft_km_argmin",
      "nearest-centroid (cluster, dist) over a cluster-sorted codebook",
      args => KmArgmin(args(0), args(1))))
    ext.injectFunction(fn("graft_ivf_argmax",
      "IVF nearest-cell id: argmax cosine over a cent_id-sorted codebook",
      args => IvfArgmax(args(0), args(1), args(2))))
    ext.injectFunction(fn("graft_pq_codes",
      "per-subspace (cent_id, dist) argmins over a cent_id-sorted codebook",
      args => PqCodes(args(0), args(1), litInt(args(2)), litInt(args(3)))))
    ext.injectOptimizerRule(_ => DotSelfToNorm)
  }
}

/** Opinionated session factory with the engine's scale defaults: AQE with
  * coalescing and skew-join handling on, shuffle partitions sized for the
  * deployment (32 for the local[32] test rig; a 1000-executor cluster would
  * set cores*executors*2-3), and the graft extensions installed. */
object GraftSession {
  def builder(master: String = "local[32]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the engine's event-time convention: NTZ wall clocks are UTC, so
      // integer epoch math matches DuckDB's epoch_us/epoch_ns bit-for-bit
      .config("spark.sql.session.timeZone", "UTC")
      // part of the same session contract: events.ts has shipped as parquet
      // TIMESTAMP(NANOS), readable only as a raw long under this legacy
      // flag — pinned HERE so the Tables loaders never have to mutate
      // session state as a read side effect (round-6 advice)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // runtime bloom-filter join pruning (selective join side injects a
      // bloom filter into the other side's scan) — Spark 4's default, pinned
      // here because it is part of this engine's 100 TB story
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
}
