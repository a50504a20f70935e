package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — built via
  * GraftSession so the tests run under the exact session contract the
  * engine documents (UTC, nanosAsLong, AQE, extensions). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Every [[SparkSpec.tmpDir]] directory, deleted by one shutdown hook
    * when the test JVM exits (a spec's lazy plans may still read them
    * until then). */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.forEach { d =>
        try operators.DedupArtifacts.deleteRoot(d)
        catch { case _: Throwable => () } // best-effort; exit anyway
      }))
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.add(d)
    d
  }
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
  /** A fresh directory in the JVM temp dir, deleted when the JVM exits. */
  def tmpDir(prefix: String): String = TestSpark.tmpDir(prefix)

  /** Crash simulation for the at-least-once replay pins: delete the newest
    * checkpoint commit marker (= the process died after the sink write but
    * before the commit), plus its local ChecksumFs .crc sidecar which would
    * otherwise block the re-commit. The next restart replays that epoch
    * through foreachBatch with the SAME batch id. */
  def dropNewestCommit(ckpt: String): Unit = {
    val commitDir = new java.io.File(ckpt + "/commits")
    val newest = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    val crc = new java.io.File(commitDir, s".${newest.getName}.crc")
    assert(newest.delete())
    if (crc.exists()) assert(crc.delete())
  }
}
