package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one owner of cache lifetimes in the engine.
  *
  * An operator that materializes an intermediate once for several
  * consumers calls [[keep]]; it never caches, unpersists or clears the
  * session's cache itself. Whoever runs a unit of work (a driver's query, a
  * store writer, a nightly step) runs it through [[scoped]] or
  * [[releasing]], and when that unit ends exactly the caches made inside
  * it are released: no cache another unit holds is touched, so a store
  * write no longer evicts a concurrent reader's caches, and a query's job
  * count no longer depends on what an earlier query left behind.
  *
  * A cache belongs to the innermost scope open on the thread that kept
  * it. Scopes are inherited by threads started inside them
  * ([[DedupArtifacts.concurrently]]'s pool threads), the way those
  * threads inherit the job group. With no scope open, [[keep]] is a plain
  * `cache()` and the entry is the caller's. A plan equal to one already
  * cached is not cached again (and so is not the new scope's to release).
  *
  * Cached plans match by plan, and a file scan names its files by path:
  * an entry over a directory that has since changed still matches a new
  * read of that directory. Store reads are therefore pinned to the exact
  * files they verified ([[DedupArtifacts.readVerifiedCanonical]]). */
private[graft] object Caches {

  /** The caches one unit of work made, in the order they were kept. */
  private final class Scope {
    private val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var open = true
    def add(df: DataFrame): Boolean = synchronized {
      if (open) kept += df
      open
    }
    def all: Seq[DataFrame] = synchronized(kept.toList)
    /** Closes the scope and hands back what it still holds. */
    def close(): Seq[DataFrame] = synchronized {
      open = false
      val out = kept.toList
      kept.clear()
      out
    }
  }

  /** The scopes open on this thread, innermost first. */
  private val stack = new InheritableThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Cache `df` unless an equal plan is already cached. A new cache is
    * registered with the innermost open scope on this thread and released
    * when that scope ends; with no scope open it is the caller's. */
  def keep(df: DataFrame): DataFrame = {
    Caches.synchronized {
      if (cached(df.sparkSession, df).isEmpty) {
        df.cache()
        stack.get.exists(_.add(df)): Unit
      }
    }
    df
  }

  /** One unit of work over one frame. `build` runs inside a new scope (an
    * iterative operator runs its loop while it constructs the frame, and
    * the caches it keeps there are the scope's too). Each cache the scope
    * kept that the built plan reads more than once and that is not yet
    * filled is then filled by one `count()`, in the order it was kept, so
    * no two stages of `action` race to compute the same unfilled cache
    * and the job count does not depend on their timing; a cache read once
    * is not filled and costs no job. Then `action` runs, and the scope's
    * caches are released whether or not it succeeded. */
  def scoped[A](spark: SparkSession)(build: => DataFrame)(
      action: DataFrame => A): A =
    releasing {
      val df = build
      val kept = stack.get.head.all
      lazy val refs = reads(df.queryExecution.withCachedData)
      kept.foreach { k =>
        cached(spark, k).foreach { r =>
          if (refs.count(_ eq r.cacheBuilder) > 1 &&
              !r.cacheBuilder.isCachedColumnBuffersLoaded)
            k.count(): Unit
        }
      }
      action(df)
    }

  /** One unit of work that is not one frame and one action (a store
    * step, a nightly chain, a timed harness sample): runs `work` inside a
    * new scope and releases the caches kept in it when `work` returns or
    * throws. */
  def releasing[A](work: => A): A = {
    val scope = new Scope
    val outer = stack.get
    stack.set(scope :: outer)
    try work
    finally {
      stack.set(outer)
      scope.close().foreach(_.unpersist(blocking = false): Unit)
    }
  }

  private def cached(spark: SparkSession, df: DataFrame): Option[InMemoryRelation] =
    spark.sharedState.cacheManager.lookupCachedData(castToImpl(df))
      .map(_.cachedRepresentation)

  /** The caches a plan reads, once per read: its own cached relations
    * and, once for each distinct cache, the ones that cache's plan reads
    * (a cache is computed once however often it is read). */
  private def reads(plan: LogicalPlan): Seq[AnyRef] = {
    def direct(p: LogicalPlan) =
      p.collectWithSubqueries { case r: InMemoryRelation => r }
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(rs: Seq[InMemoryRelation]): Seq[AnyRef] =
      rs.map(_.cacheBuilder) ++ rs.flatMap(r =>
        if (seen.add(r.cacheBuilder)) walk(direct(r.cacheBuilder.logicalPlan))
        else Nil)
    walk(direct(plan))
  }
}
