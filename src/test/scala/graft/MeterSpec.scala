package graft

import graft.obs.Meter

/** The measurement core counts exactly what a call scheduled: every job of
  * a multi-job body, no job of earlier work, and the same counts on a
  * second run of the same body. */
class MeterSpec extends SparkSpec {

  private def components(): Unit =
    operators.DedupOps.dedupComponents(spark, sf)
      .write.format("noop").mode("overwrite").save()

  test("Meter.measure counts every job of a multi-job body, and only those") {
    val sc = spark.sparkContext
    val group = "meter-spec"
    sc.setJobGroup(group, "dedup components")
    val r = try Meter.measure(spark)(components()) finally sc.clearJobGroup()
    assert(r.jobs > 1, r)
    assert(r.jobs == sc.statusTracker.getJobIdsForGroup(group).length, r)
    assert(r.tasks >= r.jobs && r.wallSec > 0 && r.taskSec > 0, r)
    spark.catalog.clearCache()
  }

  test("two readings of the same body agree on jobs and tasks") {
    val a = Meter.measure(spark)(components())
    spark.catalog.clearCache()
    val b = Meter.measure(spark)(components())
    spark.catalog.clearCache()
    assert((a.jobs, a.tasks) == (b.jobs, b.tasks), s"$a vs $b")
  }
}
