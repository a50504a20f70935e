package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
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
      case KernelCall("graft_dot", Seq(a, b)) if a.semanticEquals(b) =>
        KernelCall("graft_norm2", Seq(a))
    }
}

/** Session extension that installs graft's kernels, the whole
  * [[graft.functions.Kernels.catalog]], so a user gets them in every session
  * (SQL and `expr(...)`) via
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or programmatically with [[GraftSession.builder]]. This is the install
  * every engine session gets; a session cloned from it (as streaming
  * queries do) copies its function registry, so operators never register
  * kernels themselves. [[graft.functions.Kernels.register]] installs the
  * same catalog into a session built without the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Kernels.catalog.foreach(k => ext.injectFunction((k.id, k.info, k.builder)))
    ext.injectOptimizerRule(_ => DotSelfToNorm)
  }
}

/** Opinionated session factory with the engine's scale defaults: AQE with
  * coalescing and skew-join handling on, shuffle partitions sized for the
  * deployment (32 for the local[32] test rig; a 1000-executor cluster would
  * set cores*executors*2-3), and the graft extensions installed. The
  * session contract: every main, spec and harness builds its session here,
  * so every kernel is installed once, when the session is built, and every
  * session cloned from it inherits them. */
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
