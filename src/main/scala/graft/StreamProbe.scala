package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming._

/** Dev main: MEASURE the streaming side's cost curves (round-8 advice:
  * ScaleProbe covers batch only — the 35 D components had state-plateau
  * and batch-equivalence pins but no measured per-micro-batch wall vs
  * batch-VOLUME curve).
  *
  * For the heaviest stateful families (D6 SCD2, D10 pack, D17 stratified
  * bottom-k sample, D22 shape drift, D26 semantic drift), feed
  * [[BaseRows]]·k-row micro-batches at k = 1/2/4/8 through the same
  * `flatMapGroupsWithState` queries the specs pin, over a FIXED key
  * universe (users/sources/strata) — per-key batch volume DEEPENS with k,
  * the hard direction for per-group work, while state stays at its
  * documented plateau. Wall per micro-batch (min of 2 at each k, rows
  * generated off the clock) must grow near-linearly:
  * t(8×) ≤ 1.5·8·max(t(1×), [[FloorSec]]) — the ScaleProbe gate applied
  * per micro-batch; the floor absorbs the fixed per-batch state-store
  * commit cost that dominates small batches.
  *
  * Usage: `sbt "runMain graft.StreamProbe"`; set SPARK_GRAFT_STREAM_OUT
  * to also write the table (SCALING_r09.md carries it).
  */
object StreamProbe {

  val BaseRows: Int = 50000
  val Scales: Seq[Int] = Seq(1, 2, 4, 8)
  val MaxRatio: Double = 1.5 * Scales.last / Scales.head
  val FloorSec: Double = 0.3

  private case class Curve(name: String, secs: Seq[Double]) {
    def ratio: Double = secs.last / math.max(secs.head, FloorSec)
    def ok: Boolean = ratio <= MaxRatio
  }

  /** Drive one component: warmup batch, then min-of-2 timed batches per
    * scale. Batch rows are generated BEFORE the clock starts; batch
    * indices keep every row fresh so state revisions advance normally. */
  private def drive[T](name: String, in: MemoryStream[T], q: StreamingQuery,
      mk: (Int, Int) => Seq[T]): Curve = {
    var batch = 0
    def runOne(k: Int): Double = {
      batch += 1
      val rows = mk(k, batch)
      val t0 = System.nanoTime()
      in.addData(rows: _*)
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    try {
      runOne(1) // warmup: codegen + state-store open
      Curve(name, Scales.map(k => math.min(runOne(k), runOne(k))))
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val sp: SparkSession = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    sp.sparkContext.setLogLevel("WARN")
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    def ckpt() = java.nio.file.Files
      .createTempDirectory("graft-streamprobe-").toString
    def start[T](ds: org.apache.spark.sql.Dataset[T],
        mode: String): StreamingQuery =
      ds.writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt()).start()

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

    // D6: 1000 fixed users, per-user event volume deepens with k; event
    // time advances across batches (in-order per user within a batch)
    val in6 = MemoryStream[ChangeEvent]
    val c6 = drive("D6 scd2", in6,
      start(Scd2Stream.scd2(Scd2Stream.withWatermark(in6.toDS())), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        ChangeEvent(i % 1000L, new Timestamp(t0 + b * 100000000L + i * 10L),
          b * 10000000L + i, (i % 97).toDouble)
      })

    // D10: 10 fixed sources, packing offsets carry across batches
    val in10 = MemoryStream[PackDoc]
    val c10 = drive("D10 pack", in10,
      start(PackStream.pack(in10.toDS(), budget = 512L), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        PackDoc("s" + i % 10, b * 10000000L + i, 1L + i % 50)
      })

    // D17: 60 fixed strata (20 sources x 3 langs), bottom-k per stratum
    val langs = Seq("en", "es", "de")
    val in17 = MemoryStream[DocHash]
    val c17 = drive("D17 sample", in17,
      start(SampleStream.rows(in17.toDS(), k = 100), "update"),
      (k, b) => (0 until BaseRows * k).map { i =>
        DocHash("s" + i % 20, langs(i % 3), b * 10000000L + i,
          (b * 10000000L + i) * 2654435761L % 1000003L)
      })

    // D22: 10 fixed sources vs a frozen shape baseline
    val base22 = (0 until 10).map(s => "s" + s -> BaseHist(1000L,
      Map(0 -> 400L, 1 -> 400L, 2 -> 200L),
      Map("en" -> 500L, "es" -> 300L, "de" -> 200L))).toMap
    val in22 = MemoryStream[DriftDoc]
    val c22 = drive("D22 drift", in22,
      start(DriftStream.monitor(in22.toDS(), base22), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        DriftDoc("s" + i % 10, langs(i % 3), (i.toLong * 7 + b) % 400)
      })

    // D26: 10 fixed sources vs a frozen cluster-mix baseline
    val base26 = (0 until 10).map(s => "s" + s -> SemBase(1000L,
      (0L until 8L).map(c => c -> 125L).toMap)).toMap
    val in26 = MemoryStream[SemDoc]
    val c26 = drive("D26 semantic drift", in26,
      start(SemanticDriftStream.monitor(in26.toDS(), base26), "append"),
      (k, b) => (0 until BaseRows * k).map { i =>
        SemDoc("s" + i % 10, (i + b) % 8L)
      })

    val curves = Seq(c6, c10, c17, c22, c26)
    val header = f"| ${"component"}%-18s |" +
      Scales.map(k => f" ${s"${k}x (${BaseRows * k / 1000}k)"}%10s |").mkString +
      " 8x/1x | gate |"
    val sep = "|" + "-" * 20 + "|" + ("-" * 12 + "|") * Scales.size +
      "-------|------|"
    val rows = curves.map { c =>
      f"| ${c.name}%-18s |" + c.secs.map(v => f" $v%9.2fs |").mkString +
        f" ${c.ratio}%4.1fx | ${if (c.ok) "PASS" else "FAIL"} |"
    }
    (Seq(header, sep) ++ rows).foreach(println)

    // ---- SECOND AXIS (round-10): per-batch wall vs STANDING-INDEX size at
    // a FIXED feed — the frozen-model gates' deployment claim is that a
    // bigger standing corpus does not grow the per-day cost
    val idxCurves = indexAxis(sp)
    val ih = f"| ${"gate (fixed feed)"}%-18s |" +
      IndexScales.map(k => f" ${s"${k}x index"}%10s |").mkString +
      " 16x/1x | gate |"
    val isep = "|" + "-" * 20 + "|" + ("-" * 12 + "|") * IndexScales.size +
      "--------|------|"
    val irows = idxCurves.map { c =>
      f"| ${c.name}%-18s |" + c.secs.map(v => f" $v%9.2fs |").mkString +
        f" ${c.secs.last / math.max(c.secs.head, FloorSec)}%5.1fx" +
        f" | ${if (flatOk(c)) "PASS" else "FAIL"} |"
    }
    (Seq(ih, isep) ++ irows).foreach(println)

    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "")
    if (out.nonEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        (Seq(header, sep) ++ rows ++ Seq("", ih, isep) ++ irows)
          .mkString("", "\n", "\n"))
    sp.stop()
    val failed = curves.filterNot(_.ok).map(_.name) ++
      idxCurves.filterNot(flatOk).map(_.name)
    if (failed.nonEmpty) {
      System.err.println(
        s"[streamprobe] superlinear micro-batch growth: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Standing-index growth factors for the second axis. */
  val IndexScales: Seq[Int] = Seq(1, 4, 16)

  /** Flat gate: a 16× standing index may at most double the per-batch
    * wall (floor-absorbed) — per-day cost must be driven by the FEED, not
    * the corpus the index summarizes. */
  val FlatRatio: Double = 2.0

  private def flatOk(c: Curve): Boolean =
    c.secs.last <= FlatRatio * math.max(c.secs.head, FloorSec)

  /** Synthetic standing corpus with the PREFIX property (scale k's docs
    * are a superset of scale 1's, so the fixed feed hits every scale
    * identically): blocks of 4 identical docs (dup spans + near-dup
    * structure exist at every scale), ~40 tokens from a 500-token
    * vocabulary. */
  private def synthDocs(sp: SparkSession, n: Long) =
    sp.range(n).select(
      org.apache.spark.sql.functions.col("id").as("doc_id"),
      org.apache.spark.sql.functions.expr("concat('s', id % 5)").as("source"),
      org.apache.spark.sql.functions.expr(
        """concat_ws(' ', transform(sequence(1, 40),
             j -> concat('tok', pmod((id - id % 4) * 131 + j * j, 500))))""")
        .as("text"))

  /** Drive the three frozen-model gates (D18 signature index, D24 gram
    * index, D34 span index) at 1×/4×/16× standing-corpus size with the
    * SAME 500-doc feed: per scale, build + persist the index off the
    * clock (the nightly job, measured by ScaleProbe), then time
    * warmup + min-of-2 gate micro-batches. */
  private def indexAxis(sp: SparkSession): Seq[Curve] = {
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.functions._
    graft.functions.Kernels.register(sp)
    val BaseDocs = 4000L
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft-idxprobe-").toString
    // fixed feed: 400 standing dups (from the 1x prefix) + 100 novel docs
    val feed = synthDocs(sp, 400L)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("source"),
        col("text"))
      .unionByName(sp.range(100).select(
        (col("id") + 2000000000L).as("doc_id"),
        expr("concat('s', id % 5)").as("source"),
        expr("""concat_ws(' ', transform(sequence(1, 40),
              j -> concat('nov', id * 977 + j)))""").as("text")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    def persisted(df: org.apache.spark.sql.DataFrame, path: String) = {
      df.write.mode("overwrite").parquet(path)
      graft.sources.Tables.readParquet(sp, path)
    }
    def timeGate(run: () => Unit): Double = {
      run() // warmup: codegen + sink open
      def one(): Double = {
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }
      math.min(one(), one())
    }
    def curve(name: String, mk: Int => (() => Unit)): Curve =
      Curve(name, IndexScales.map { k => timeGate(mk(k)) })

    val d18 = curve("D18 sig index", { k =>
      val standing = synthDocs(sp, BaseDocs * k)
      val (ih, cold) = graft.operators.DedupOps
        .buildIncrementalIndex(sp, standing)
      val (ihF, coldF) = (persisted(ih, tmp()), persisted(cold, tmp()))
      val in = MemoryStream[(Long, String, String)]
      val (target, ck) = (tmp() + "/v", tmp())
      () => {
        in.addData(feed: _*)
        DedupStream.incremental(
          in.toDF().toDF("doc_id", "source", "text").drop("source"),
          ihF, coldF, target, ck).awaitTermination()
      }
    })
    val d24 = curve("D24 gram index", { k =>
      val idx = persisted(graft.operators.Pipeline
        .standingGramIndexOf(synthDocs(sp, BaseDocs * k)), tmp())
      val in = MemoryStream[(Long, String, String)]
      val (target, ck) = (tmp() + "/n", tmp())
      () => {
        in.addData(feed: _*)
        CorpusStream.noveltyGate(
          in.toDF().toDF("doc_id", "source", "text").select("source", "text"),
          idx, target, ck).awaitTermination()
      }
    })
    val d34 = curve("D34 span index", { k =>
      val idx = persisted(graft.operators.DedupOps
        .anchoredSpans(synthDocs(sp, BaseDocs * k))
        .select("span_hash").distinct(), tmp())
      val in = MemoryStream[(Long, String, String)]
      val (target, ck) = (tmp() + "/m", tmp())
      () => {
        in.addData(feed: _*)
        MaskStream.plan(
          in.toDF().toDF("doc_id", "source", "text").select("doc_id", "text"),
          idx, target, ck).awaitTermination()
      }
    })
    Seq(d18, d24, d34)
  }
}
