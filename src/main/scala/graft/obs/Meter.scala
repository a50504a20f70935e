package graft.obs

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What one [[Meter.measure]] call saw: the body's wall seconds and the
  * Spark work it scheduled — jobs, tasks, summed and maximum executor run
  * time of one task, and shuffle bytes written. */
final case class Reading(wallSec: Double, jobs: Int, tasks: Int,
    taskSec: Double, maxTaskSec: Double, shuffleWriteMb: Double)

/** The measurement core of `src/main`: Spark's own job and task counts
  * for one block of code. The package has two parts,
  * [[org.apache.spark.GraftBus]] (the listener-bus drain Spark keeps
  * package-private) and this meter, and every count the engine reports
  * about itself comes from here: [[graft.Audit.jobsOf]] (the driver-job
  * gate and the specs' job pins) and the probe mains' wall, work,
  * straggler and shuffle curves.
  *
  * A reading is exact because its listener lives for one call only and
  * the bus is drained at both ends: no event of earlier work reaches it,
  * and every event of the call has reached it before it is read. There is
  * no global listener, no reset and no settle loop, so one call's events
  * are never split across two readings. */
object Meter {

  private final class Counter extends SparkListener {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val maxTaskMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        maxTaskMs.accumulateAndGet(m.executorRunTime, math.max)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Runs `body` and reads what it scheduled. The listener bus is drained
    * before a listener is added, so no earlier event reaches it, and again
    * before it is read and removed, so every event of `body` has. `body`
    * is by-name: an iterative operator runs actions while constructing
    * its frame, and those jobs count too. Jobs that other threads run at
    * the same time count as well. */
  def measure(spark: SparkSession)(body: => Any): Reading = {
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    val c = new Counter
    sc.addSparkListener(c)
    try {
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(sc)
      Reading(wall, c.jobs.get, c.tasks.get, c.taskMs.get / 1e3,
        c.maxTaskMs.get / 1e3, c.shuffleBytes.get / 1e6)
    } finally sc.removeSparkListener(c)
  }
}
