package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** [[operators.Caches]], the one owner of cache lifetimes: a unit of work
  * releases exactly the caches it kept, fills the ones its action would
  * race on, and so runs the same number of jobs every time. */
class CachesSpec extends SparkSpec {
  import operators.{Caches, DedupArtifacts}

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  private def loaded(df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
        org.apache.spark.sql.classic.ClassicConversions.castToImpl(df))
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  test("a scope releases exactly the caches it kept, pool threads included") {
    spark.catalog.clearCache()
    def frame(n: Long) = spark.range(0, n).selectExpr("id % 7 AS k")
    val held = frame(100).cache()
    held.count(): Unit
    val (twice, once, pooled) = (frame(200), frame(300), frame(400))
    val seen = Caches.scoped(spark) {
      // an equal plan is already cached: not kept again, not this scope's
      Caches.keep(frame(100))
      Caches.keep(twice)
      Caches.keep(once)
      DedupArtifacts.concurrently(Seq(() => Caches.keep(pooled))): Unit
      twice.union(twice).union(once)
    } { df =>
      // the cache the plan reads twice was filled before the action, the
      // one it reads once was not
      val before = (loaded(twice), loaded(once))
      df.count(): Unit
      before
    }
    assert(seen == ((true, false)))
    assert(!cached(twice) && !cached(once) && !cached(pooled),
      "the scope left a cache it kept")
    assert(cached(held), "the scope released a cache it did not keep")
    // with no scope open, a kept cache is the caller's
    val callers = Caches.keep(frame(600))
    assert(cached(callers))
    spark.catalog.clearCache()
  }

  test("each iterative query runs one job count per session, cleared or not, " +
      "inside its Audit bound") {
    spark.catalog.clearCache()
    for ((name, bound) <- Audit.iterativeJobBounds.toSeq.sortBy(_._1)) {
      def run() = Audit.jobsOf(spark, SparkEntry.queries(name)(spark, sf))
      val kept = Seq.fill(3)(run())
      val cleared = Seq.fill(3) { spark.catalog.clearCache(); run() }
      assert((kept ++ cleared).distinct.size == 1 && kept.head <= bound,
        s"$name: $kept without a clear, $cleared with one (bound $bound)")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache")
    }
  }
}
