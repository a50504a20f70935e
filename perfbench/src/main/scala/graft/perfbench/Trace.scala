package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One completed stage of a traced call: the call-site stack Spark recorded
  * (`StageInfo.details`, innermost frame first), its interval, and the
  * bytes its tasks wrote. */
final case class StageRec(frames: Seq[String], startMs: Long, endMs: Long,
    bytesWritten: Long)

/** Engine counters of one traced call, keyed by the job group the call ran
  * under. Written only by the listener thread; read after a bus drain. */
final class CallStats {
  var jobs, stages, tasks, failedTasks = 0
  var taskMs, waitMs, gcMs, scanTaskMs = 0L
  var shuffleWrite, shuffleRead, spill, bytesRead, peakMem = 0L
  val taskIntervals = ArrayBuffer[(Long, Long)]()
  val stageRecs = ArrayBuffer[StageRec]()
  private[perfbench] val stageWritten = scala.collection.mutable.Map[Int, Long]()
}

/** A timed span. `trace` is shared by every span of one top-level call;
  * `stats` is null when the run is not traced. Times are epoch ms. */
final case class Span(trace: Long, id: Long, parent: Long, layer: String,
    name: String, startMs: Double, endMs: Double, stats: CallStats) {
  def ms: Double = endMs - startMs
}

/** Collects per-job-group engine counters. A stage's call site is taken
  * from the SQL execution that ran it when there is one: adaptive query
  * execution submits stages from a pool thread whose own stack no longer
  * shows the program code that asked for them, while the execution's call
  * site is captured on the calling thread. */
final class EngineListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, CallStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageExec = new ConcurrentHashMap[Int, Long]()
  private val execSite = new ConcurrentHashMap[Long, String]()

  def take(group: String): CallStats =
    Option(groups.remove(group)).getOrElse(new CallStats)

  private def statsOf(stageId: Int): Option[CallStats] =
    Option(stageGroup.get(stageId)).map(g =>
      groups.computeIfAbsent(g, _ => new CallStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      groups.computeIfAbsent(g, _ => new CallStats).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, g))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => e.stageIds.foreach(stageExec.put(_, x.toLong)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      // a nested execution reports its root's call site
      execSite.put(x.executionId, x.rootExecutionId.map(execSite.get)
        .filter(_ != null).getOrElse(x.details))
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    statsOf(si.stageId).foreach { s =>
      s.stages += 1
      val site = Option(stageExec.get(si.stageId)).map(execSite.get)
        .filter(_ != null).getOrElse(si.details)
      s.stageRecs += StageRec(site.split("\n").toSeq,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        s.stageWritten.getOrElse(si.stageId, 0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    statsOf(e.stageId).foreach { s =>
      val info = e.taskInfo
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      s.taskIntervals += ((info.launchTime, info.finishTime))
      s.waitMs += math.max(0L, info.launchTime -
        stageSubmit.getOrDefault(e.stageId, info.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.bytesRead += m.inputMetrics.bytesRead
        if (m.inputMetrics.bytesRead > 0) s.scanTaskMs += m.executorRunTime
        s.stageWritten(e.stageId) = s.stageWritten.getOrElse(e.stageId, 0L) +
          m.outputMetrics.bytesWritten
      }
    }
}

/** Span recorder. Every call into a program module goes through [[call]]:
  * untraced it only takes the wall time; traced it also scopes the call's
  * Spark jobs by a job group of its own, drains the listener bus when the
  * call returns, and keeps the call's engine counters on its span. Spans
  * stay in memory and are written once, when the run ends. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val listener =
    if (traced) { val l = new EngineListener; sc.addSparkListener(l); Some(l) }
    else None
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var nextId = 0L
  private var open = List.empty[(Long, Long)] // (trace, id) of enclosing spans
  val spans = ArrayBuffer[Span]()
  /** A traced run can time some calls untraced (the overhead baseline). */
  var active: Boolean = traced

  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** A grouping span (a pass, a night) around leaf calls. */
  def span[A](layer: String, name: String)(body: => A): A =
    record(layer, name, group = false)(body)

  /** A leaf call into one program module. */
  def call[A](layer: String, name: String)(body: => A): A =
    record(layer, name, group = traced && active)(body)

  private def record[A](layer: String, name: String, group: Boolean)
      (body: => A): A = {
    nextId += 1
    val id = nextId
    val trace = open.headOption.map(_._1).getOrElse(id)
    val parent = open.headOption.map(_._2).getOrElse(0L)
    val jobGroup = s"pb-$id"
    if (group) sc.setJobGroup(jobGroup, s"$layer.$name")
    open = (trace, id) :: open
    val start = nowMs()
    try body
    finally {
      val end = nowMs()
      open = open.tail
      val stats =
        if (group) {
          sc.clearJobGroup()
          PerfbenchBus.drain(sc)
          listener.get.take(jobGroup)
        } else null
      spans += Span(trace, id, parent, layer, name, start, end, stats)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      f"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},""" +
        f""""layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Which step of a composed run a stage belongs to, read from the
    * call-site stack Spark records on the stage (innermost frame first).
    * A stage under a manifest re-stamp is `Artifacts.restamp`; otherwise
    * it belongs to the step function `entry` called directly — the frame
    * just inside the outermost `entry` frame — named `Object.method`.
    * Stages issued by `entry` itself belong to `entry`'s own object, and
    * stages outside any `entry` frame to their innermost program frame
    * (harness frames are not program frames). */
  def stageStep(frames: Seq[String], entry: String): String = {
    // "graft.operators.StreamArtifacts$.appendDay(StreamArtifacts.scala:194)"
    // → (program frame?, "StreamArtifacts", "appendDay")
    def parse(f: String): (Boolean, String, String) = {
      val qual = f.takeWhile(_ != '(').trim
      val dot = math.max(qual.lastIndexOf('.'), 0)
      val cls = qual.substring(0, dot)
      (cls.startsWith("graft.") && !cls.startsWith("graft.perfbench"),
        cls.substring(cls.lastIndexOf('.') + 1).stripSuffix("$"),
        qual.substring(dot + 1))
    }
    val (entryObj, entryMethod) = entry.splitAt(entry.indexOf('.'))
    if (frames.exists(_.contains("refreshManifest"))) "Artifacts.restamp"
    else {
      val parsed = frames.map(parse)
      val outer = parsed.lastIndexWhere { case (g, o, m) =>
        g && o == entryObj && m == entryMethod.drop(1) }
      // the step is the nearest program frame inside `entry` that belongs
      // to another object; lambdas and library frames are skipped. Outside
      // `entry` it is the innermost program frame.
      val inside = if (outer < 0) parsed.reverse else parsed.take(outer)
      inside.reverse.collectFirst {
        case (true, o, m) if o != entryObj && !m.contains("$anonfun") =>
          s"$o.$m"
      }.getOrElse(entryObj)
    }
  }
}
