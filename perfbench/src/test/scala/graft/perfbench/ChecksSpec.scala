package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output checks accept correct results and catch altered
  * ones. */
class ChecksSpec extends AnyFunSuite {

  test("fingerprint ignores row order and sees any changed row") {
    val rows = Seq(Row(1L, "a", Array[Byte](1, 2)), Row(2L, "b", Array[Byte](3)))
    assert(Checks.fingerprint(rows) == Checks.fingerprint(rows.reverse))
    // byte arrays are compared by content, not identity
    assert(Checks.fingerprint(rows) ==
      Checks.fingerprint(Seq(Row(1L, "a", Array[Byte](1, 2)), Row(2L, "b", Array[Byte](3)))))
    assert(Checks.fingerprint(rows) !=
      Checks.fingerprint(Seq(Row(1L, "a", Array[Byte](1, 2)), Row(2L, "b", Array[Byte](4)))))
    assert(Checks.fingerprint(rows) != Checks.fingerprint(rows :+ rows.head))
  }

  test("a call whose result changes between passes is reported") {
    val fps = new Fingerprints
    assert(fps.check("q", Seq("x", "y")).isEmpty)
    assert(fps.check("q", Seq("y", "x")).isEmpty)
    assert(fps.check("q", Seq("x", "z")).nonEmpty)
  }

  test("merged slice: duplicate keys and a wrong row count are caught") {
    val base = Set(1L, 2L, 3L)
    val window = Set(3L, 4L)
    assert(Checks.mergedSlice(Seq(1L, 2L, 3L, 4L), base, window).isEmpty)
    assert(Checks.mergedSlice(Seq(1L, 2L, 3L, 3L, 4L), base, window).nonEmpty)
    assert(Checks.mergedSlice(Seq(1L, 2L, 3L), base, window).nonEmpty)
  }

  test("sync report: loaded + rejected must equal the input and the validator") {
    val inputs = Map("clientes" -> 10L, "detalles" -> 20L)
    val valid = Map("clientes" -> 9L, "detalles" -> 20L)
    val good = Seq(("clientes", 10L, 9L, 1L), ("detalles", 20L, 20L, 0L))
    assert(Checks.syncReport(good, inputs, valid).isEmpty)
    assert(Checks.syncReport(Seq(("clientes", 10L, 9L, 2L), good(1)), inputs, valid).nonEmpty)
    assert(Checks.syncReport(Seq(("clientes", 11L, 9L, 2L), good(1)), inputs, valid).nonEmpty)
    assert(Checks.syncReport(good, inputs, valid.updated("clientes", 8L)).nonEmpty)
    assert(Checks.syncReport(good.take(1), inputs, valid).nonEmpty)
  }

  test("daily report: the total row must be the sum of the steps") {
    val steps = Seq((1L, Seq(5L, 4L, 1L, 0L), true), (2L, Seq(3L, 3L, 0L, 1L), true))
    val total = (5L, Seq(8L, 7L, 1L, 1L), true)
    assert(Checks.dailyTotal(steps :+ total).isEmpty)
    assert(Checks.dailyTotal(steps :+ total.copy(_2 = Seq(8L, 6L, 1L, 1L))).nonEmpty)
    assert(Checks.dailyTotal(steps :+ total.copy(_3 = false)).nonEmpty)
    assert(Checks.dailyTotal(steps).nonEmpty)
  }

  test("night report: the total row must read ok") {
    assert(Checks.nightOk(Seq((1L, true), (8L, true))).isEmpty)
    assert(Checks.nightOk(Seq((1L, false), (8L, false))).nonEmpty)
    assert(Checks.nightOk(Seq((1L, true))).nonEmpty)
  }

  test("capped edit distance reference") {
    assert(Checks.levCapped("kitten sitting", "kitten sitting") == 0)
    assert(Checks.levCapped("abcdefghij", "abcdefghiX") == 1)
    // 3 edits over max length 10 exceeds the cap of 10 / 5 = 2
    assert(Checks.levCapped("abcdefghij", "abcdefgXYZ") == -1)
    assert(Checks.levCapped("naïve café", "naive café") == 1)
  }

  test("clusters: a split, merged, relabelled or missing cluster is caught") {
    val domain = Set(1L, 2L, 3L, 4L, 5L)
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L))
    val good = Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 2L), (5L, 4L, 2L))
    assert(Checks.clusters(domain, pairs, good).isEmpty)
    // doc 3 split off into its own cluster
    assert(Checks.clusters(domain, pairs, good.updated(2, (3L, 3L, 1L))).nonEmpty)
    // both clusters merged into one
    assert(Checks.clusters(domain, pairs, good.map { case (d, _, _) => (d, 1L, 5L) }).nonEmpty)
    // labelled by a member other than the smallest
    assert(Checks.clusters(domain, pairs, good.map {
      case (d, 4L, n) => (d, 5L, n); case r => r }).nonEmpty)
    assert(Checks.clusters(domain, pairs, good.take(4)).nonEmpty)
    assert(Checks.clusters(domain, pairs, good :+ good.head).nonEmpty)
    assert(Checks.clusters(domain, pairs, good :+ ((6L, 6L, 1L))).nonEmpty)
  }

  test("edit distances: a verdict that differs from the plain DP is caught") {
    val norm = Map(1L -> "abcdefghij", 2L -> "abcdefghix", 3L -> "abcdefgxyz")
    val good = Seq((1L, 2L, 1L), (1L, 3L, -1L))
    assert(Checks.editDistances(good, norm).isEmpty)
    assert(Checks.editDistances(good.updated(0, (1L, 2L, 2L)), norm).nonEmpty)
    assert(Checks.editDistances(good.updated(1, (1L, 3L, 3L)), norm).nonEmpty)
    assert(Checks.normalize("  Hello World ") == "hello world")
  }

  test("stage call sites are attributed to the step the composed run called") {
    val frames = Seq(
      "org.apache.spark.sql.classic.DataFrameWriter.parquet(DataFrameWriter.scala:1)",
      "graft.operators.Etl$.replaceSlice(Etl.scala:718)",
      "graft.operators.StreamArtifacts$.$anonfun$appendDay$1(StreamArtifacts.scala:194)",
      "scala.collection.immutable.List.foreach(List.scala:334)",
      "graft.operators.StreamArtifacts$.appendDay(StreamArtifacts.scala:180)",
      "graft.operators.Nightly$.runDay(Nightly.scala:103)",
      "graft.perfbench.StoreNightly$.run(StoreNightly.scala:70)")
    assert(Trace.stageStep(frames, "Nightly.runDay") == "StreamArtifacts.appendDay")
    val restamp = frames.patch(1, Seq(
      "graft.operators.DedupArtifacts$.refreshManifestCanonical(DedupArtifacts.scala:170)"), 1)
    assert(Trace.stageStep(restamp, "Nightly.runDay") == "Artifacts.restamp")
    val own = Seq("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)",
      "graft.operators.Nightly$.sliceRows$1(Nightly.scala:75)",
      "graft.operators.Nightly$.runDay(Nightly.scala:100)")
    assert(Trace.stageStep(own, "Nightly.runDay") == "Nightly")
    val outside = Seq("org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)",
      "graft.sources.Tables$.load(Tables.scala:23)",
      "graft.perfbench.StoreNightly$.run(StoreNightly.scala:70)")
    assert(Trace.stageStep(outside, "Nightly.runDay") == "Tables.load")
  }

  test("interval union") {
    assert(Trace.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0.0, 10.0) == 4.0)
    assert(Trace.covered(Seq((0.0, 2.0), (1.0, 3.0)), 1.5, 2.5) == 1.0)
    assert(Trace.covered(Nil, 0.0, 1.0) == 0.0)
  }
}
