package graft

import org.apache.spark.sql.{DataFrame, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.sql.Timestamp
import graft.streaming._

/** Structured Streaming specs (SURVEY.md §2 D1-D3) driven by MemoryStream
  * micro-batches with memory/parquet sinks. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("D1 EventStream.hourlyAgg windows by hour and event_type") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.hourlyAgg(
      in.toDF().toDF("ts", "event_type", "value"), watermark = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("d1_out")
      .outputMode("complete").start()
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.25),
        (ts("2024-01-01 10:55:00"), "click", 2.25),
        (ts("2024-01-01 10:30:00"), "view", 10.0),
        (ts("2024-01-01 11:05:00"), "click", 4.00))
      q.processAllAvailable()
      val rows = sp.table("d1_out")
        .orderBy("hora", "event_type")
        .as[(Timestamp, String, Long, Double)].collect().toSeq
      assert(rows == Seq(
        (ts("2024-01-01 10:00:00"), "click", 2L, 3.5),
        (ts("2024-01-01 10:00:00"), "view", 1L, 10.0),
        (ts("2024-01-01 11:00:00"), "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("D1 readEvents dispatches on both ts encodings like the batch loader") {
    // round-6 advice: the stream hard-pinned the new NTZ schema while
    // Tables.events dispatched on both encodings — write the SAME instants
    // under both and pin that the streamed rows come out identical
    val sp = spark
    import sp.implicits._
    val micros = Seq(
      (1L, 1705276800000000L, 10L, "click", 1.5, "{}"),
      (2L, 1705276800999999L, 11L, "view", 2.0, "{}"))
    def streamed(dir: String): Seq[Seq[Any]] = {
      val name = "ev_" + dir.replaceAll("[^a-zA-Z0-9]", "")
      val q = EventStream.readEvents(sp, dir)
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      sp.table(name).collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    val dirNtz = tmpDir("sev_ntz"); val dirLong = tmpDir("sev_long")
    micros.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("us"))
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(dirNtz)
    micros.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), (col("us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(dirLong)
    val a = streamed(dirNtz); val b = streamed(dirLong)
    assert(a.nonEmpty && a == b,
      s"streamed encodings diverge:\n ntz=$a\n long=$b")
  }

  test("D1 readEvents builds its frame with zero Spark jobs") {
    // the encoding peek reads one footer on the driver, not an inference job
    assert(graft.obs.Meter.measure(spark)(
      EventStream.readEvents(spark, s"$sf/events.parquet")).jobs == 0)
  }

  test("D1 end-to-end legacy-encoded events stream equals batch B8") {
    // round-7 advice: the dispatch test pins row parity, but the legacy
    // encoding had never been driven THROUGH a windowed aggregate. Stream
    // the REAL sf events re-encoded as legacy nanos-as-long all the way
    // through readEvents → hourlyAgg and pin the result against batch
    // q_events_window_agg (hour indices and integer-cent sums identical).
    val sp = spark
    val dir = tmpDir("sev_legacy_e2e")
    // Tables.events already surfaces ts as nanos long — writing it back
    // yields exactly the legacy int64 surface readEvents dispatches on
    graft.sources.Tables.events(sp, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val q = EventStream.hourlyAgg(EventStream.readEvents(sp, dir))
      .writeStream.format("memory").queryName("d1_legacy_e2e")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamed = sp.table("d1_legacy_e2e")
      .select(expr("unix_micros(hora) div 3600000000").as("hora_epoch"),
        col("event_type"), col("n_eventos"), col("valor_total"))
    val batch = graft.operators.Analytics.eventsWindowAgg(sp, sf)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("D1 late data: past-watermark stragglers drop, in-horizon rows absorb") {
    // the watermark contract, pinned row-for-row in APPEND mode: a
    // straggler whose window already closed (window end <= watermark) is
    // DROPPED; a straggler still inside the horizon is ABSORBED into its
    // open window. Watermarks advance with a one-batch lag (batch N uses
    // the max event time of batches < N), which this sequence exploits.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.hourlyAgg(
      in.toDF().toDF("ts", "event_type", "value"), watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("d1_late")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:30:00"), "view", 2.0))
      q.processAllAvailable()
      // advances the watermark to 12:00 -> [10:00, 11:00) closes
      in.addData((ts("2024-01-01 13:00:00"), "click", 4.0))
      q.processAllAvailable()
      // DROPPED: window [10:00, 11:00) ended before the 12:00 watermark
      in.addData((ts("2024-01-01 10:40:00"), "click", 100.0))
      q.processAllAvailable()
      // ABSORBED: [12:00, 13:00) is still open at watermark 12:00
      in.addData((ts("2024-01-01 12:30:00"), "click", 8.0))
      q.processAllAvailable()
      // closes everything up to 14:30
      in.addData((ts("2024-01-01 15:30:00"), "view", 0.5))
      q.processAllAvailable()
      val rows = sp.table("d1_late")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set(
        (ts("2024-01-01 10:00:00"), "click", 1L, 1.0), // straggler NOT added
        (ts("2024-01-01 10:00:00"), "view", 1L, 2.0),
        (ts("2024-01-01 12:00:00"), "click", 1L, 8.0), // absorbed straggler
        (ts("2024-01-01 13:00:00"), "click", 1L, 4.0)))
    } finally q.stop()
  }

  test("D4 late duplicates: deduped within the horizon, fresh after eviction") {
    // dropDuplicatesWithinWatermark's contract pinned from both sides: a
    // duplicate arriving while its hash is still in state is SUPPRESSED;
    // once the watermark passes firstSeen + delay the hash is evicted and
    // the same content is emitted as NEW (the documented horizon bound —
    // state never answers for history older than the watermark)
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = DedupStream.dedup(
      in.toDF().toDF("doc_id", "ts", "text"), watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("d4_late")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), "same content"))
      q.processAllAvailable()
      // horizon still covers the hash (watermark 09:50): duplicate drops
      in.addData((2L, ts("2024-01-01 10:02:00"), "same content"))
      q.processAllAvailable()
      // advance watermark to 10:50 -> the 10:00 hash state evicts
      in.addData((3L, ts("2024-01-01 11:00:00"), "other"))
      q.processAllAvailable()
      // same content again, after eviction: emitted as new
      in.addData((4L, ts("2024-01-01 10:55:00"), "same content"))
      q.processAllAvailable()
      val ids = sp.table("d4_late").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L, 4L),
        s"expected dup 2 suppressed and 4 re-admitted post-eviction, got $ids")
    } finally q.stop()
  }

  test("D7 late data: stragglers drop from every closed sliding window") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.slidingAgg(
      in.toDF().toDF("ts", "event_type", "value"), watermark = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("d7_late")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:20:00"), "click", 1.0))
      q.processAllAvailable()
      // watermark -> 11:30: every window containing 10:20 has closed
      in.addData((ts("2024-01-01 12:00:00"), "view", 2.0))
      q.processAllAvailable()
      // DROPPED: all four sliding windows over 10:25 ended before 11:30
      in.addData((ts("2024-01-01 10:25:00"), "click", 100.0))
      q.processAllAvailable()
      // close the windows around 12:00
      in.addData((ts("2024-01-01 14:00:00"), "view", 0.25))
      q.processAllAvailable()
      val clicks = sp.table("d7_late").filter(col("event_type") === "click")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      // the 10:20 event appears in its four 15-min-slid windows, the
      // straggler in none of them
      assert(clicks == Set(
        (ts("2024-01-01 09:30:00"), "click", 1L, 1.0),
        (ts("2024-01-01 09:45:00"), "click", 1L, 1.0),
        (ts("2024-01-01 10:00:00"), "click", 1L, 1.0),
        (ts("2024-01-01 10:15:00"), "click", 1L, 1.0)))
    } finally q.stop()
  }

  test("D17/D22/D26 state plateaus at the documented bound over 50 batches") {
    // the three no-watermark stateful families hold state keyed on a
    // CLOSED universe (strata / sources) — drive 50 micro-batches of
    // fresh rows over a fixed key universe and pin, via the state-store
    // metrics, that total state rows equal the key-universe size at batch
    // 10 and are STILL equal at batch 50: state scales with the universe,
    // never with the stream
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    def drive[T](q: org.apache.spark.sql.streaming.StreamingQuery,
        in: MemoryStream[T], batchOf: Int => Seq[T], bound: Long,
        name: String): Unit =
      try {
        var at10 = -1L
        for (b <- 1 to 50) {
          in.addData(batchOf(b): _*); q.processAllAvailable()
          if (b == 10) at10 = stateRows(q)
        }
        assert(at10 == bound, s"$name state at batch 10: $at10 != $bound")
        assert(stateRows(q) == bound,
          s"$name state grew past its bound: ${stateRows(q)} != $bound")
      } finally q.stop()
    // D17: 2 sources x 2 langs = 4 strata -> 4 state rows forever
    val in17 = MemoryStream[DocHash]
    drive(SampleStream.rows(in17.toDS(), k = 5).writeStream
        .format("memory").queryName("d17_plateau").outputMode("update")
        .start(),
      in17,
      b => for (s <- Seq("s0", "s1"); l <- Seq("en", "es"))
        yield DocHash(s, l, b.toLong * 1000 + s.length * 10 + l.length,
          b.toLong * 7919 + s.hashCode + l.hashCode),
      bound = 4, name = "D17")
    // D22: 2 sources -> 2 state rows, however many docs stream through
    val base22 = Map(
      "s0" -> BaseHist(10L, Map(0 -> 10L), Map("en" -> 10L)),
      "s1" -> BaseHist(20L, Map(1 -> 20L), Map("es" -> 20L)))
    val in22 = MemoryStream[DriftDoc]
    drive(DriftStream.monitor(in22.toDS(), base22).writeStream
        .format("memory").queryName("d22_plateau").outputMode("append")
        .start(),
      in22,
      b => Seq(DriftDoc("s0", "en", b.toLong % 100),
        DriftDoc("s1", "es", (b.toLong * 3) % 400)),
      bound = 2, name = "D22")
    // D26: 2 sources -> 2 state rows; clusters cycle inside a closed set
    val base26 = Map(
      "s0" -> SemBase(10L, Map(0L -> 10L)),
      "s1" -> SemBase(20L, Map(1L -> 20L)))
    val in26 = MemoryStream[SemDoc]
    drive(SemanticDriftStream.monitor(in26.toDS(), base26).writeStream
        .format("memory").queryName("d26_plateau").outputMode("append")
        .start(),
      in26,
      b => Seq(SemDoc("s0", b.toLong % 4), SemDoc("s1", (b.toLong + 1) % 4)),
      bound = 2, name = "D26")
  }

  test("D2 Sessionizer splits on gap in streaming micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[SessEvent]
    val out = Sessionizer.sessionize(Sessionizer.withWatermark(in.toDS()))
    val q = out.writeStream.format("memory").queryName("d2_out")
      .outputMode("append").start()
    try {
      val m = 60L * 1000000L // one minute in micros
      def at(min: Int) = ts(f"2024-01-01 10:$min%02d:00")
      in.addData(SessEvent(7, at(0), 100), SessEvent(7, at(10), 200))
      q.processAllAvailable()
      // 40 min later: previous session closes on arrival and is emitted
      in.addData(SessEvent(7, at(50), 300))
      q.processAllAvailable()
      val closed = sp.table("d2_out").as[SessionOut].collect().toSeq
      val t0 = at(0).getTime * 1000L
      assert(closed == Seq(SessionOut(7, t0, t0 + 10 * m, 2, 3.0)))
    } finally q.stop()
  }

  test("D2 Sessionizer batch mode matches the batch twin's session counts") {
    val sp = spark
    import sp.implicits._
    val events = graft.sources.Tables.events(sp, sf)
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        round(col("value") * 100).cast("long").as("val_c"))
      .as[SessEvent]
    val streamed = Sessionizer.sessionize(events, finishAll = true)
    val batch = graft.operators.Analytics.sessionize(sp, sf)
    assert(streamed.count() == batch.count())
    // and identical per-user session counts
    val a = streamed.groupBy("user_id").count().orderBy("user_id").collect().toSeq
    val b = batch.groupBy("user_id").count().orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  test("D7 slidingAgg assigns each event to window/slide overlapping windows") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.slidingAgg(
      in.toDF().toDF("ts", "event_type", "value"), watermark = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("d7_out")
      .outputMode("complete").start()
    try {
      in.addData((ts("2024-01-01 10:31:00"), "click", 1.0))
      q.processAllAvailable()
      val rows = sp.table("d7_out").orderBy("inicio")
        .as[(Timestamp, String, Long, Double)].collect().toSeq
      // one event → exactly 4 windows (1 h / 15 min), each starting ≤ its ts
      assert(rows.map(_._1) == Seq(
        ts("2024-01-01 09:45:00"), ts("2024-01-01 10:00:00"),
        ts("2024-01-01 10:15:00"), ts("2024-01-01 10:30:00")))
      assert(rows.forall(r => r._3 == 1L && r._4 == 1.0))
    } finally q.stop()
  }

  test("D6 Scd2Stream emits closed versions across micro-batches, keeps current in state") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[ChangeEvent]
    val out = Scd2Stream.scd2(Scd2Stream.withWatermark(in.toDS()))
    val q = out.writeStream.format("memory").queryName("d6_out")
      .outputMode("append").start()
    try {
      in.addData(
        ChangeEvent(1L, ts("2024-01-01 10:00:00"), 10L, 1.0),
        ChangeEvent(1L, ts("2024-01-01 11:00:00"), 11L, 2.0))
      q.processAllAvailable()
      // v1 closed by v2's arrival; v2 is open → state only, not emitted
      val r1 = sp.table("d6_out").as[VersionOut].collect().toSeq
      assert(r1 == Seq(VersionOut(1L, 1L, 10L, 1.0,
        usOf(ts("2024-01-01 10:00:00")), Some(usOf(ts("2024-01-01 11:00:00"))), false)))
      // a third change in a LATER micro-batch closes v2 from carried state
      in.addData(ChangeEvent(1L, ts("2024-01-01 12:00:00"), 12L, 3.0))
      q.processAllAvailable()
      val r2 = sp.table("d6_out").as[VersionOut].collect().toSeq.sortBy(_.version)
      assert(r2.map(_.version) == Seq(1L, 2L))
      assert(r2(1) == VersionOut(1L, 2L, 11L, 2.0,
        usOf(ts("2024-01-01 11:00:00")), Some(usOf(ts("2024-01-01 12:00:00"))), false))
    } finally q.stop()
  }

  test("D6 Scd2Stream batch mode matches the batch twin exactly") {
    val sp = spark
    import sp.implicits._
    val events = graft.sources.Tables.events(sp, sf)
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_id"), col("value").as("valor"))
      .as[ChangeEvent]
    val streamed = Scd2Stream.scd2(events, finishAll = true)
      .select(col("user_id"), col("version"), col("event_id"), col("valor"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
    val batch = graft.operators.Etl.scd2History(sp, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  private def usOf(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000

  test("D6 checkpoint recovery: state survives stop + restart mid-feed") {
    // the fault-tolerance contract Structured Streaming exists for: a
    // stateful query with a checkpoint dir is stopped after its first
    // batches, MORE data lands while it is down, and a NEW query instance
    // over the same checkpoint must (a) not reprocess the consumed files,
    // (b) restore the per-user open-version state from the state store —
    // proven by a version whose interval OPENS before the stop and CLOSES
    // after the restart — and (c) end up row-for-row equal to the batch
    // twin over the full feed
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Encoders
    val srcDir = tmpDir("scd2_src")
    val ckDir = tmpDir("scd2_ck")
    val outDir = tmpDir("scd2_out")
    def at(min: Int) = ts(f"2024-01-01 10:$min%02d:00")
    val part1 = Seq(
      ChangeEvent(1L, at(0), 100L, 1.0), ChangeEvent(1L, at(10), 101L, 2.0),
      ChangeEvent(2L, at(5), 200L, 5.0))
    val part2 = Seq(
      ChangeEvent(1L, at(20), 102L, 3.0), // closes u1 v2 opened pre-restart
      ChangeEvent(2L, at(15), 201L, 6.0),
      ChangeEvent(3L, at(7), 300L, 9.0))
    def runOnce(): Unit = {
      val in = sp.readStream.schema(Encoders.product[ChangeEvent].schema)
        .parquet(srcDir).as[ChangeEvent]
      val q = Scd2Stream.scd2(in).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    part1.toDS().write.mode("append").parquet(srcDir)
    runOnce()
    part2.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val streamed = sp.read.parquet(outDir).as[VersionOut]
      .collect().toSeq.sortBy(v => (v.user_id, v.version))
    val batch = Scd2Stream.scd2((part1 ++ part2).toDS(), finishAll = true)
      .collect().filter(!_.is_current).toSeq.sortBy(v => (v.user_id, v.version))
    assert(streamed == batch)
    // the cross-restart closure really happened (recovery non-vacuous):
    // u1's v2 = [10:10, 10:20) — opened in run 1, closed in run 2
    assert(streamed.contains(VersionOut(1L, 2L, 101L, 2.0,
      usOf(at(10)), Some(usOf(at(20))), false)))
    // u3 first appeared after the restart and opened v1 (state only, no
    // closed row yet) — no spurious closed row for it
    assert(!streamed.exists(_.user_id == 3L))
  }

  test("D4 DedupStream keeps first occurrence per content hash across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = DedupStream.dedup(
      in.toDF().toDF("doc_id", "ts", "text"), watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("d4_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), "Hello World"),
        (2L, ts("2024-01-01 10:01:00"), "  hello world  "), // dup modulo norm
        (3L, ts("2024-01-01 10:02:00"), "distinct doc"))
      q.processAllAvailable()
      // a duplicate arriving in a LATER micro-batch must also be dropped
      in.addData((4L, ts("2024-01-01 10:03:00"), "HELLO WORLD"))
      q.processAllAvailable()
      val ids = sp.table("d4_out").select("doc_id")
        .as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 3L))
    } finally q.stop()
  }

  test("D9 MarkovStream emits transitions across micro-batches, twin-equal") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[TransEvent]
    val out = MarkovStream.steps(
      MarkovStream.withWatermark(in.toDS(), delay = "10 minutes"))
    val q = out.writeStream.format("memory").queryName("d9_out")
      .outputMode("append").start()
    try {
      in.addData(
        TransEvent(1L, ts("2024-01-01 10:00:00"), "view"),
        TransEvent(1L, ts("2024-01-01 10:01:00"), "click"),
        TransEvent(2L, ts("2024-01-01 10:02:00"), "view"))
      q.processAllAvailable()
      // a later micro-batch continues user 1's chain from state
      in.addData(
        TransEvent(1L, ts("2024-01-01 10:03:00"), "purchase"),
        TransEvent(2L, ts("2024-01-01 10:04:00"), "click"))
      q.processAllAvailable()
      val got = sp.table("d9_out").as[TransStep].collect().toSet
      assert(got == Set(
        TransStep(1L, "view", "click"), TransStep(1L, "click", "purchase"),
        TransStep(2L, "view", "click")))
      // batch mode over the union emits the identical step set
      val batchSteps = MarkovStream.steps(Seq(
        TransEvent(1L, ts("2024-01-01 10:00:00"), "view"),
        TransEvent(1L, ts("2024-01-01 10:01:00"), "click"),
        TransEvent(2L, ts("2024-01-01 10:02:00"), "view"),
        TransEvent(1L, ts("2024-01-01 10:03:00"), "purchase"),
        TransEvent(2L, ts("2024-01-01 10:04:00"), "click")).toDS(),
        withTimeout = false)
        .collect().toSet
      assert(batchSteps == got)
    } finally q.stop()
  }

  test("D9 MarkovStream batch mode reproduces the batch twin's matrix") {
    // counts over the step stream == Analytics.eventsMarkov on real data
    val sp = spark
    import sp.implicits._
    val ev = sources.Tables.events(sp, sf)
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"))
      .as[TransEvent]
    val fromStream = MarkovStream.steps(ev, withTimeout = false)
      .groupBy(col("cur"), col("next")).agg(count(lit(1)).as("c_trans"))
    val fromBatch = graft.operators.Analytics.eventsMarkov(sp, sf)
      .select("cur", "next", "c_trans")
    assert(fromStream.except(fromBatch).count() == 0)
    assert(fromBatch.except(fromStream).count() == 0)
  }

  test("D10 PackStream places docs across micro-batches, equals batch C28") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[PackDoc]
    val q = PackStream.pack(in.toDS(), budget = 10L)
      .writeStream.format("memory").queryName("d10_out")
      .outputMode("append").start()
    try {
      in.addData(PackDoc("w", 1L, 4L), PackDoc("w", 2L, 4L), PackDoc("b", 1L, 3L))
      q.processAllAvailable()
      // the running offset continues from state into the next micro-batch
      in.addData(PackDoc("w", 3L, 4L), PackDoc("b", 2L, 12L))
      q.processAllAvailable()
      val got = sp.table("d10_out").as[PackOut].collect()
        .map(o => (o.source, o.doc_id) -> o).toMap
      assert(got(("w", 3L)).tok_offset == 8L)     // 4 + 4 from batch 1
      assert(got(("w", 3L)).pack_id == 0L && got(("w", 3L)).cruza_limite)
      assert(got(("b", 2L)).tok_offset == 3L && got(("b", 2L)).cruza_limite)
      assert(got.values.forall(o => o.pack_pos == o.tok_offset % 10))
    } finally q.stop()
  }

  test("D15 runningEfficiency: max-rev generation equals batch C50 bit-for-bit") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // the real corpus through TWO micro-batches (split on doc_id keeps the
    // per-source arrival-order contract), state carrying totals across
    val docs = sources.Tables.documents(sp, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .as[PackDoc].collect().sortBy(_.doc_id)
    val (p1, p2) = docs.splitAt(docs.length / 2)
    val in = MemoryStream[PackDoc]
    val q = PackStream.runningEfficiency(in.toDS())
      .writeStream.format("memory").queryName("d15_out")
      .outputMode("append").start()
    try {
      in.addData(p1.toSeq); q.processAllAvailable()
      in.addData(p2.toSeq); q.processAllAvailable()
      val revs = sp.table("d15_out").as[EffOut].collect().toSeq
      // revisions are real: at least one source was touched by both batches
      assert(revs.exists(_.rev == 2L))
      val streamed = revs.groupBy(_.source).map(_._2.maxBy(_.rev))
        .map(e => (e.source, e.n_docs, e.n_tokens, e.n_cruzan,
          e.n_packs, e.relleno_final, e.eficiencia)).toSet
      val batch = operators.Pipeline.packEfficiency(sp, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("D10 PackStream batch mode equals Pipeline.corpusPack row-for-row") {
    val sp = spark
    import sp.implicits._
    val docs = sources.Tables.documents(sp, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .as[PackDoc]
    val streamed = PackStream.pack(docs).toDF()
    val batch = graft.operators.Pipeline.corpusPack(sp, sf)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("D8 DatasheetStream running composition matches the batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val b1 = Seq(("web", "en", "hello world"), ("web", "en", "  Hello World "),
      ("web", "es", "hola que tal"), ("books", "en", "a longer document here"))
    val b2 = Seq(("web", "en", "hello world"), ("books", "en", "fresh text"),
      ("web", "en", ""))  // empty doc must be ignored
    val in = MemoryStream[(String, String, String)]
    val agg = DatasheetStream.runningDatasheet(
      in.toDF().toDF("source", "lang", "text"))
    val q = agg.writeStream.format("memory").queryName("d8_out")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val stream = sp.table("d8_out")
        .orderBy("source", "lang").collect().toSeq
      // the running state over two micro-batches must equal one batch pass
      // over the union — bit-for-bit, including the sketch estimate
      val batch = DatasheetStream.runningDatasheet(
        (b1 ++ b2).toDF("source", "lang", "text"))
        .orderBy("source", "lang").collect().toSeq
      assert(stream == batch)
      // volumes are exact: "web/en" saw 3 non-empty docs, 6 tokens
      val webEn = stream.find(r => r.getString(0) == "web" &&
        r.getString(1) == "en").get
      assert(webEn.getLong(2) == 3 && webEn.getLong(3) == 6)
      // the RAW (uncorrected) HLL estimate reads ~α·m for tiny
      // cardinalities (≈45 with m=64) — same algebra as the batch B20
      // query; assert it is positive, finite, and below the small-range
      // plateau's ceiling rather than near the true count of 2
      assert(webEn.getDouble(5) > 0.0 &&
        webEn.getDouble(5) < graft.functions.Kernels.HllAlphaM2 / 32.0)
    } finally q.stop()
  }

  test("count-min sketch aggregates across streaming micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    val in = MemoryStream[String]
    val agg = in.toDF().toDF("event_type")
      .groupBy().agg(expr("graft_cms_sketch(event_type)").as("m"))
    val q = agg.writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    try {
      in.addData("click", "view", "click")
      q.processAllAvailable()
      in.addData("click") // second micro-batch merges into existing state
      q.processAllAvailable()
      val m = sp.table("cms_out").head.getSeq[Long](0)
      assert(m.sum == 4L * graft.functions.Kernels.CmsDepth)
      // batch sketch over the same values is identical (merge = cellwise add)
      val b = Seq("click", "view", "click", "click").toDF("event_type")
        .agg(expr("graft_cms_sketch(event_type)")).head.getSeq[Long](0)
      assert(m == b)
    } finally q.stop()
  }

  test("D5 IntervalJoin pairs events within the window across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val inA = MemoryStream[(Long, Timestamp, Long)]
    val inB = MemoryStream[(Long, Timestamp, Long)]
    val out = IntervalJoin.pairs(
      inA.toDF().toDF("user_id", "ts", "event_id"),
      inB.toDF().toDF("user_id", "ts", "event_id"), windowSec = 60)
    val q = out.writeStream.format("memory").queryName("d5_out")
      .outputMode("append").start()
    try {
      inA.addData((7L, ts("2024-01-01 10:00:00"), 1L))
      inB.addData(
        (7L, ts("2024-01-01 10:00:30"), 2L),  // +30s: in window
        (7L, ts("2024-01-01 10:02:00"), 3L),  // +120s: out of window
        (8L, ts("2024-01-01 10:00:10"), 4L))  // other user
      q.processAllAvailable()
      // a late-batch right event still joins while inside the watermark
      inB.addData((7L, ts("2024-01-01 10:00:50"), 5L))
      q.processAllAvailable()
      val rows = sp.table("d5_out")
        .select("user_id", "event_a", "event_b", "delta_us")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(rows == Seq((7L, 1L, 2L, 30000000L), (7L, 1L, 5L, 50000000L)))
    } finally q.stop()
  }

  test("D5 IntervalJoin batch mode matches the batch range-join twin") {
    val sp = spark
    val ev = graft.sources.Tables.events(sp, sf)
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_id"))
    val streamed = IntervalJoin.pairs(ev, ev, windowSec = 60)
      .select("user_id", "event_a", "event_b", "delta_us")
    val batch = graft.operators.RangeJoin.eventsWindowPairs(sp, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("D3 UpsertSink merges micro-batches latest-wins into parquet") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val target = tmpDir("upsert_target") + "/t"
    val ckpt = tmpDir("upsert_ckpt")
    val in = MemoryStream[(Long, String, Long)]
    def run(): Unit = {
      val q = UpsertSink.start(in.toDF().toDF("k", "v", "ver"),
        "k", "ver", target, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    in.addData((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L))
    run()
    in.addData((2L, "B", 3L), (3L, "c", 1L))
    run()
    val rows = sp.read.parquet(target).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "a", 1L), (2L, "B", 3L), (3L, "c", 1L)))
  }

  test("D3 UpsertSink replay after a crash mid-publish keeps every key") {
    val sp = spark
    import sp.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    implicit val sqlCtx = sp.sqlContext
    val target = new Path(tmpDir("upsert_replay") + "/t")
    val fs = target.getFileSystem(sp.sparkContext.hadoopConfiguration)
    val ckpt = tmpDir("upsert_replay_ckpt")
    val in = MemoryStream[(Long, String, Long)]
    def run(): Unit = UpsertSink.start(in.toDF().toDF("k", "v", "ver"),
      "k", "ver", target.toString, ckpt, Trigger.AvailableNow())
      .awaitTermination()
    in.addData((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
    run()
    val keys1to3 = new Path(tmpDir("upsert_replay_prev"), "t")
    assert(FileUtil.copy(fs, target, fs, keys1to3, false,
      sp.sparkContext.hadoopConfiguration))
    in.addData((3L, "C", 2L), (4L, "d", 1L))
    run()
    // the crash: the process died between the publish's two renames, so
    // the batch is uncommitted, the target is absent and the keys-1-3
    // table is parked under _t.old
    dropNewestCommit(ckpt)
    val stagedOut = new Path(target.getParent, "_t.old")
    assert(fs.delete(target, true) && fs.rename(keys1to3, stagedOut))
    run() // replays the uncommitted batch
    val rows = sp.read.parquet(target.toString).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "C", 2L),
      (4L, "d", 1L)))
    assert(!fs.exists(stagedOut))
  }

  test("D14 runningSourceHealth: stream equals batch, exact columns match C47") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = sources.Tables.documents(sp, sf)
      .select("source", "lang", "text")
      .as[(String, String, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(String, String, String)]
    val q = DatasheetStream.runningSourceHealth(
        in.toDF().toDF("source", "lang", "text"))
      .writeStream.format("memory").queryName("d14_out")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = sp.table("d14_out")
      val batch = DatasheetStream.runningSourceHealth(
        rows.toDF("source", "lang", "text"))
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
      // the EXACT columns agree with the batch C47 gate report
      val c47 = graft.operators.Pipeline.sourceHealth(sp, sf)
        .select(col("source").as("s2"), col("quality_media").as("qm"),
          col("lang_match_share").as("lm"), col("n_docs").as("nd"))
      val j = streamed.join(c47, col("source") === col("s2"))
      assert(j.count() > 0)
      assert(j.filter(col("quality_media") =!= col("qm") ||
        col("lang_match_share") =!= col("lm") ||
        col("n_docs") =!= col("nd")).count() == 0)
    } finally q.stop()
  }

  test("D21 runningPiiAudit: stream is exactly the batch C68 report") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = sources.Feeds.documentsWithPii(sp, sf)
      .select("source", "text").as[(String, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(String, String)]
    val q = DatasheetStream.runningPiiAudit(
        in.toDF().toDF("source", "text"))
      .writeStream.format("memory").queryName("d21_out")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = sp.table("d21_out")
      // bit-exact vs the oracle-checked batch audit, densities included
      val batch = graft.operators.TextOps.piiAudit(sp, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
      // and mid-stream state was a genuine partial (not one big batch)
      assert(b1.nonEmpty && b2.nonEmpty)
    } finally q.stop()
  }

  test("D13 dailyActive: two micro-batches equal one batch, sketch included") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = sources.Tables.events(sp, sf)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("user_id"))
      .as[(Timestamp, Long)].collect().toSeq.sortBy(_._1.getTime)
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(Timestamp, Long)]
    val q = EventStream.dailyActive(in.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("d13_out")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = sp.table("d13_out")
      val batch = EventStream.dailyActive(
        rows.toDF("ts", "user_id"))
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
      // the estimate is positive and events conserve
      assert(streamed.agg(sum("n_eventos")).head.getLong(0) == rows.size)
      assert(streamed.filter(col("hll_dau") <= 0).count() == 0)
    } finally q.stop()
  }

  test("D36 hourlyValueQuantiles: two micro-batches equal one batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = sources.Tables.events(sp, sf)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("value"))
      .as[(Timestamp, Double)].collect().toSeq.sortBy(_._1.getTime)
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(Timestamp, Double)]
    val q = EventStream.hourlyValueQuantiles(in.toDF().toDF("ts", "value"))
      .writeStream.format("memory").queryName("d36_out")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = sp.table("d36_out")
      // the sketch registers are deterministic and merge-order-free, so
      // the readout matches the one-batch run bit-for-bit
      val batch = EventStream.hourlyValueQuantiles(rows.toDF("ts", "value"))
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
      // per window: p50 <= p90 and both positive (values are cents > 0)
      assert(streamed.filter(col("p50_lo") > col("p90_lo")).count() == 0)
      assert(streamed.filter(col("p50_lo") <= 0).count() == 0)
    } finally q.stop()
  }

  test("D12 CorpusStream curation equals batch C17 with dups across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // the same feed the batch pipeline curates, arriving in doc_id order
    // (append-only feed) with a synthetic event time
    val rows = graft.sources.Feeds.documentsWithPii(sp, sf)
      .orderBy("doc_id")
      .select("doc_id", "source", "lang", "text")
      .as[(Long, String, String, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(Long, String, String, String)]
    val out = CorpusStream.curate(
      in.toDF().toDF("doc_id", "source", "lang", "text")
        .withColumn("ts", expr("timestamp_millis(1700000000000 + doc_id)")))
      .drop("ts")
    val q = out.writeStream.format("memory").queryName("d12_out")
      .outputMode("append").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = sp.table("d12_out")
      val batch = graft.operators.Pipeline.corpusPipeline(sp, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }

  test("D16 streaming LM scoring over two batches equals batch C51") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // freeze the LM batch-side (production shape: trained on yesterday's
    // corpus), then stream the same docs through in two micro-batches
    val lm = graft.operators.TextOps.bigramLm(sp, sf).cache()
    val rows = graft.sources.Tables.documents(sp, sf)
      .orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val target = tmpDir("d16_target") + "/scores"
    val ckpt = tmpDir("d16_ckpt")
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = CorpusStream.lmScore(in.toDF().toDF("doc_id", "text"),
        lm, target, ckpt)
      q.awaitTermination()
    }
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val streamed = sp.read.parquet(target).drop("batch_id")
    val batch = graft.operators.TextOps.docLmCoverage(sp, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    lm.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("D17 streaming stratified sample max-rev equals batch C57 exactly") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = SampleStream.docHashes(
      graft.sources.Tables.documents(sp, sf).orderBy("doc_id"))
      .collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[DocHash]
    val q = SampleStream.rows(in.toDS()).writeStream.format("memory")
      .queryName("d17_out").outputMode("update").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val all = sp.table("d17_out")
      val latest = all.join(
        all.groupBy(col("source").as("s"), col("lang").as("l"))
          .agg(max("rev").as("mr")),
        col("source") === col("s") && col("lang") === col("l") &&
          col("rev") === col("mr"))
        .select("doc_id", "source", "lang", "h", "rnk")
      val batch = graft.operators.Pipeline.corpusSampleStratified(sp, sf)
      assert(latest.count() == batch.count())
      assert(latest.except(batch).count() == 0)
      assert(batch.except(latest).count() == 0)
    } finally q.stop()
  }

  test("D17 checkpoint recovery: bottom-k state survives stop + restart") {
    // the D6 fault-tolerance pin applied to the second stateful family: a
    // checkpointed sample query is stopped mid-feed, more docs land while
    // it is down, and the restarted instance must restore every stratum's
    // kept set — proven by final samples that mix pre-stop and post-stop
    // arrivals and end row-for-row equal to batch C57 over the full feed
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Encoders
    val srcDir = tmpDir("d17_src")
    val ckDir = tmpDir("d17_ck")
    val outDir = tmpDir("d17_out")
    val rows = SampleStream.docHashes(
      graft.sources.Tables.documents(sp, sf).orderBy("doc_id"))
      .collect().toSeq
    val (part1, part2) = rows.splitAt(rows.size / 2)
    def runOnce(): Unit = {
      val in = sp.readStream.schema(Encoders.product[DocHash].schema)
        .parquet(srcDir).as[DocHash]
      val q = SampleStream.rows(in).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[SampleRow], _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    part1.toDS().write.mode("append").parquet(srcDir)
    runOnce()
    part2.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val all = sp.read.parquet(outDir)
    val latest = all.join(
      all.groupBy(col("source").as("s"), col("lang").as("l"))
        .agg(max("rev").as("mr")),
      col("source") === col("s") && col("lang") === col("l") &&
        col("rev") === col("mr"))
      .select("doc_id", "source", "lang", "h", "rnk")
    val batch = graft.operators.Pipeline.corpusSampleStratified(sp, sf)
    assert(latest.count() == batch.count())
    assert(latest.except(batch).count() == 0)
    assert(batch.except(latest).count() == 0)
    // recovery non-vacuous: a post-restart generation (rev >= 2) still
    // carries a doc that arrived BEFORE the stop — only restored state
    // can know it
    val part1Ids = part1.map(_.doc_id).toSet
    assert(all.filter(col("rev") >= 2).collect()
      .exists(r => part1Ids.contains(r.getAs[Long]("doc_id"))))
  }

  test("D11 AnomalyStream max-rev generation equals the batch twin exactly") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // real hour buckets, split into two micro-batches mid-stream
    val hours = sources.Tables.events(sp, sf)
      .select(col("event_type"), expr("ts div 3600000000000").as("hora_epoch"))
      .as[HourEvent].collect().toSeq
    val (b1, b2) = hours.splitAt(hours.size / 2)
    val in = MemoryStream[HourEvent]
    val q = AnomalyStream.rows(in.toDS()).writeStream.format("memory")
      .queryName("d11_out").outputMode("update").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val all = sp.table("d11_out")
      // keep the newest generation per type
      val latest = all.join(
        all.groupBy(col("event_type").as("t")).agg(max("rev").as("mr")),
        col("event_type") === col("t") && col("rev") === col("mr"))
        .select("event_type", "hora_epoch", "n", "media_h", "z", "anomalo")
      val batch = graft.operators.Analytics.eventsAnomaly(sp, sf)
      // bit-exact: the doubles use the same integer moments and op order
      assert(latest.count() == batch.count())
      assert(latest.except(batch).count() == 0)
      assert(batch.except(latest).count() == 0)
    } finally q.stop()
  }

  test("D11 AnomalyStream batch mode is one rev-1 generation") {
    val sp = spark
    import sp.implicits._
    val hours = sources.Tables.events(sp, sf)
      .select(col("event_type"), expr("ts div 3600000000000").as("hora_epoch"))
      .as[HourEvent]
    val rows = AnomalyStream.rows(hours).cache()
    assert(rows.filter(col("rev") =!= 1L).count() == 0)
    val batch = graft.operators.Analytics.eventsAnomaly(sp, sf)
    val got = rows.select("event_type", "hora_epoch", "n", "media_h", "z", "anomalo")
    assert(got.except(batch).count() == 0 && batch.except(got).count() == 0)
    rows.unpersist(): Unit
  }

  test("D18 streaming incremental dedup over two batches equals batch C58") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // freeze the standing-corpus index batch-side (production shape:
    // last night's bucketed index), then stream today's crawl through in
    // two micro-batches
    val standing = graft.sources.Tables.documents(sp, sf)
      .filter(col("doc_id") % graft.sources.Feeds.IncrMod =!=
        graft.sources.Feeds.IncrRem)
    val (indexHash, coldSigs) =
      graft.operators.DedupOps.buildIncrementalIndex(sp, standing)
    val rows = graft.sources.Feeds.incomingDocs(sp, sf)
      .orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val target = tmpDir("d18_target") + "/verdicts"
    val ckpt = tmpDir("d18_ckpt")
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = DedupStream.incremental(in.toDF().toDF("doc_id", "text"),
        indexHash, coldSigs, target, ckpt)
      q.awaitTermination()
    }
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val streamed = sp.read.parquet(target).drop("batch_id")
    val batch = graft.operators.DedupOps.dedupIncremental(sp, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    sp.catalog.clearCache(): Unit
  }

  test("D19 streaming codebook assignment over two batches equals batch C62") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // train and freeze the codebook batch-side (production: last night's
    // Lloyd refinement), then stream the corpus vectors through in two
    // micro-batches
    val cents = graft.operators.EmbeddingOps.kmeansCentroids(sp, sf).cache()
    cents.count() // materialize the training before the stream starts
    val rows = graft.sources.Tables.embeddings(sp, sf)
      .orderBy("vec_id").select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val target = tmpDir("d19_target") + "/cells"
    val ckpt = tmpDir("d19_ckpt")
    val in = MemoryStream[(Long, Seq[Float])]
    def run(): Unit = {
      val q = EmbedStream.assign(in.toDF().toDF("vec_id", "embedding"),
        cents, target, ckpt)
      q.awaitTermination()
    }
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val streamed = sp.read.parquet(target).drop("batch_id")
    val batch = graft.operators.EmbeddingOps.embedKmeans(sp, sf)
      .select(col("vec_id"), col("cluster"), col("d2").as("dist"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    sp.catalog.clearCache(): Unit
  }

  /** The at-least-once replay pin, one per epoch writer: stream `feed`
    * through `start` (input, target, checkpoint) in two micro-batches,
    * drop the newest commit marker (a crash after the sink write, before
    * the commit) and restart. The replayed epoch must rewrite only its
    * own `batch_id` partition, leaving the sink byte-identical. */
  private def replayIsIdempotent[T: Encoder](feed: Seq[T], cols: String*)(
      start: (DataFrame, String, String) => StreamingQuery): Unit = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val target = tmpDir("replay_target") + "/out"
    val ckpt = tmpDir("replay_ckpt")
    val in = MemoryStream[T]
    def run(): Unit =
      start(in.toDF().toDF(cols: _*), target, ckpt).awaitTermination()
    def contents = spark.read.parquet(target).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val before = contents
    dropNewestCommit(ckpt)
    run() // replays the uncommitted epoch through foreachBatch
    assert(contents == before,
      "replayed epoch changed the sink (append instead of overwrite?)")
  }

  private lazy val sp = spark

  /** Every [[BatchSink.epochParquet]] writer with its static inputs. */
  private def epochWriters: Seq[(String, () => Unit)] = {
    import sp.implicits._
    import graft.operators.{DedupOps, EmbeddingOps, Pipeline, TextOps}
    import graft.sources.{Feeds, Tables}
    def docText = Tables.documents(sp, sf).orderBy("doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    def docSourceText(docs: DataFrame) = docs
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    // the decontamination gates' feed and benchmark grams (C84/C87)
    def benchSplit(grams: DataFrame => DataFrame) = {
      val docs = Tables.documents(sp, sf)
      val bench = col("doc_id") % Pipeline.BenchMod === Pipeline.BenchRem
      (grams(Pipeline.decontamBaseOf(docs)).filter(bench)
        .select("gram").distinct().cache(),
        docSourceText(docs.filter(!bench)))
    }
    def vectors = Tables.embeddings(sp, sf).orderBy("vec_id")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    Seq(
      "D16" -> { () =>
        val lm = TextOps.bigramLm(sp, sf).cache()
        replayIsIdempotent(docText, "doc_id", "text")(
          CorpusStream.lmScore(_, lm, _, _))
      },
      "D18" -> { () =>
        val (indexHash, coldSigs) = DedupOps.buildIncrementalIndex(sp,
          Tables.documents(sp, sf)
            .filter(col("doc_id") % Feeds.IncrMod =!= Feeds.IncrRem))
        val feed = Feeds.incomingDocs(sp, sf).orderBy("doc_id")
          .select("doc_id", "text").as[(Long, String)].collect().toSeq
        replayIsIdempotent(feed, "doc_id", "text")(
          DedupStream.incremental(_, indexHash, coldSigs, _, _))
      },
      "D19" -> { () =>
        val cents = EmbeddingOps.kmeansCentroids(sp, sf).cache()
        cents.count() // materialize the training before the stream starts
        replayIsIdempotent(vectors, "vec_id", "embedding")(
          EmbedStream.assign(_, cents, _, _))
      },
      "D24" -> { () =>
        val standing = Pipeline.standingGramIndex(sp, sf).cache()
        val feed = Feeds.incomingDocs(sp, sf)
          .select("source", "text").as[(String, String)].collect().toSeq
        replayIsIdempotent(feed, "source", "text")(
          CorpusStream.noveltyGate(_, standing, _, _))
      },
      "D27" -> { () =>
        val (benchGrams, feed) = benchSplit(Pipeline.decontamGrams)
        val words = Pipeline.bloomBuild(benchGrams)
        replayIsIdempotent(feed, "doc_id", "source", "text")(
          BloomGateStream.gate(_, benchGrams, words, _, _))
      },
      "D28" -> { () =>
        val (benchGrams, feed) = benchSplit(Pipeline.positionedGrams)
        replayIsIdempotent(feed, "doc_id", "source", "text")(
          SpanGateStream.gate(_, benchGrams, _, _))
      },
      "D29" -> { () =>
        replayIsIdempotent(vectors, "vec_id", "embedding")(
          GramStream.monitor(_, _, _))
      },
      "D30" -> { () =>
        val oldSigs = Pipeline.snapshotSig(Tables.documents(sp, sf)).cache()
        val feed = docSourceText(Feeds.recrawlSnapshot(sp, sf))
        replayIsIdempotent(feed, "doc_id", "source", "text")(
          SnapshotDiffStream.diff(_, oldSigs, _, _))
      },
      "D32" -> { () =>
        val corpus = Tables.embeddings(sp, sf)
          .select("vec_id", "embedding").cache()
        corpus.count()
        val probes = corpus
          .filter(col("vec_id") % 100 === 0 && col("vec_id") < 6400L)
          .orderBy("vec_id").as[(Long, Seq[Float])].collect().toSeq
        replayIsIdempotent(probes, "probe_id", "embedding")(
          AnnStream.serve(_, corpus, _, _))
      },
      "D34" -> { () =>
        val spanIndex = DedupOps.substrDupSpans(sp, sf)
          .select("span_hash").cache()
        replayIsIdempotent(docText, "doc_id", "text")(
          MaskStream.plan(_, spanIndex, _, _))
      },
      "D35" -> { () =>
        val spanIndex = DedupOps.substrDupSpans(sp, sf)
          .select("span_hash").cache()
        val feed = docSourceText(Tables.documents(sp, sf).orderBy("doc_id"))
        replayIsIdempotent(feed, "doc_id", "source", "text")(
          MaskStream.runningDatasheet(_, spanIndex, _, _))
      })
  }

  for ((id, pin) <- epochWriters)
    test(s"$id replayed micro-batch is idempotent (crash before commit)") {
      try pin() finally spark.catalog.clearCache()
    }

  test("D32 streamed RRF serve over two batches equals the batch fusion") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // frozen corpus; probes = the registered C96 probe slice (every 100th
    // id under 6400), streamed in two micro-batches
    val corpus = graft.sources.Tables.embeddings(sp, sf)
      .select("vec_id", "embedding").cache()
    corpus.count()
    val probes = corpus
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 6400L)
      .withColumnRenamed("vec_id", "probe_id")
      .orderBy("probe_id").as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = probes.splitAt(probes.size / 2)
    val target = tmpDir("d32_target") + "/hits"
    val ckpt = tmpDir("d32_ckpt")
    val in = MemoryStream[(Long, Seq[Float])]
    def run(): Unit = {
      val q = AnnStream.serve(in.toDF().toDF("probe_id", "embedding"),
        corpus, target, ckpt)
      q.awaitTermination()
    }
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val streamed = sp.read.parquet(target).drop("batch_id")
    // the serving path on the same probe slice IS the registered query
    val batch = graft.operators.EmbeddingOps.retrievalRrf(sp, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    sp.catalog.clearCache(): Unit
  }

  test("D20 checkpoint recovery: manifest state survives stop + restart") {
    // the D6/D17 fault-tolerance pin applied to the manifest family: a
    // checkpointed manifest query is stopped mid-feed, more docs land
    // while it is down, and the restarted instance must restore every
    // shard's (counters, XOR) state — proven by post-restart revisions
    // counting MORE docs than arrived after the restart, and a max-rev
    // generation equal to batch C65's integer columns over the full feed
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Encoders
    val srcDir = tmpDir("d20_src")
    val ckDir = tmpDir("d20_ck")
    val outDir = tmpDir("d20_out")
    val rows = ShardStream.route(graft.sources.Tables.documents(sp, sf))
      .collect().toSeq
    val (part1, part2) = rows.splitAt(rows.size / 2)
    def runOnce(): Unit = {
      val in = sp.readStream.schema(Encoders.product[ShardIn].schema)
        .parquet(srcDir).as[ShardIn]
      val q = ShardStream.runningManifest(in).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    part1.toDS().write.mode("append").parquet(srcDir)
    runOnce()
    part2.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val all = sp.read.parquet(outDir).as[ShardOut].collect().toSeq
    val last = all.groupBy(_.shard_id).map(_._2.maxBy(_.rev)).toSeq
    val batch = graft.operators.Pipeline.corpusShard(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
      .toSet
    assert(last.map(o => (o.shard_id, o.n_docs, o.n_tokens,
      o.content_checksum)).toSet == batch)
    // recovery non-vacuous: a post-restart revision counts more docs than
    // arrived after the restart — only restored counter state can know them
    val p2Counts = part2.groupBy(_.shard_id).view.mapValues(_.size.toLong)
    assert(all.filter(_.rev >= 2).exists(o =>
      o.n_docs > p2Counts.getOrElse(o.shard_id, 0L)))
    sp.catalog.clearCache(): Unit
  }

  test("D20 ShardStream: max-rev manifest equals batch C65, order-free") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val routed = ShardStream.route(
      graft.sources.Tables.documents(sp, sf)).collect()
    // a checksum-parity split scrambles arrival order across shards —
    // the XOR/counter state commutes, so the final manifest must not care
    val (p1, p2) = routed.partition(_.ck % 2 == 0)
    val in = MemoryStream[ShardIn]
    val q = ShardStream.runningManifest(in.toDS())
      .writeStream.format("memory").queryName("d20_out")
      .outputMode("append").start()
    try {
      in.addData(p2.toSeq); q.processAllAvailable()
      in.addData(p1.toSeq); q.processAllAvailable()
      val revs = sp.table("d20_out").as[ShardOut].collect().toSeq
      // revisions are real: at least one shard was touched by both batches
      assert(revs.exists(_.rev == 2L))
      val last = revs.groupBy(_.shard_id).map(_._2.maxBy(_.rev)).toSeq
      // derive the cross-shard columns the way a reader would, with the
      // SAME division of the SAME exact longs as the batch report
      val tot = last.map(_.n_tokens).sum
      val streamed = last.map(o => (o.shard_id, o.n_docs, o.n_tokens,
        o.n_tokens.toDouble / tot.toDouble,
        o.n_tokens.toDouble / tot.toDouble *
          graft.operators.Pipeline.NumShards.toDouble,
        o.content_checksum)).toSet
      val batch = graft.operators.Pipeline.corpusShard(sp, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5))).toSet
      assert(streamed == batch)
      sp.catalog.clearCache()
    } finally q.stop()
  }

  test("D23 streaming quality gate equals batch C72 across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = graft.sources.Tables.documents(sp, sf)
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    val (p1, p2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(Long, String, String)]
    val q = CorpusStream.qualityGate(
        in.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("d23_out")
      .outputMode("append").start()
    try {
      in.addData(p1); q.processAllAvailable()
      in.addData(p2); q.processAllAvailable()
      val streamed = sp.table("d23_out")
      val batch = graft.operators.TextOps.qualityClassifier(sp, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }

  test("D10 checkpoint recovery: pack offsets continue from restored totals") {
    // the recovery pin applied to the PACKER — the stream where bad
    // restored state silently corrupts training sequences: placement of
    // every post-restart doc depends on the restored per-source prefix
    // sum, so the full output must equal batch C28 row-for-row
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Encoders
    val srcDir = tmpDir("d10_src"); val ckDir = tmpDir("d10_ck")
    val outDir = tmpDir("d10r_out")
    val docs = sources.Tables.documents(sp, sf)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .as[PackDoc].collect().sortBy(_.doc_id)
    // split on doc_id so the per-source arrival-order contract holds
    val (p1, p2) = docs.splitAt(docs.length / 2)
    def runOnce(): Unit = {
      val in = sp.readStream.schema(Encoders.product[PackDoc].schema)
        .parquet(srcDir).as[PackDoc]
      val q = PackStream.pack(in).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    p1.toSeq.toDS().write.mode("append").parquet(srcDir)
    runOnce()
    p2.toSeq.toDS().write.mode("append").parquet(srcDir) // lands while DOWN
    runOnce()
    val streamed = sp.read.parquet(outDir)
    val batch = graft.operators.Pipeline.corpusPack(sp, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    sp.catalog.clearCache(): Unit
  }

  test("D26 SemanticDriftStream: max-rev equals batch C78 bit-for-bit") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // the two frozen artifacts: the batch-trained assignment (D19's
    // codebook applied to the standing vectors) and the baseline mix
    val v = graft.sources.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val asg = operators.EmbeddingOps.kmAssign(v,
        operators.EmbeddingOps.kmeansCentroids(sp, sf))
      .select("vec_id", "cluster").cache()
    val base = SemanticDriftStream.baseModel(sp, sf, asg)
    val feed = SemanticDriftStream.prep(sp, sf, asg).collect().toSeq
    val (p1, p2) = feed.splitAt(feed.size / 2)
    val in = MemoryStream[SemDoc]
    val q = SemanticDriftStream.monitor(in.toDS(), base)
      .writeStream.format("memory").queryName("d26_out")
      .outputMode("append").start()
    try {
      in.addData(p1); q.processAllAvailable()
      in.addData(p2); q.processAllAvailable()
      val revs = sp.table("d26_out").as[SemOut].collect().toSeq
      assert(revs.exists(_.rev == 2L)) // state really carried over
      val streamed = revs.groupBy(_.source).map(_._2.maxBy(_.rev))
        .map(o => (o.source, o.base_docs, o.feed_docs, o.tv_cluster,
          o.top_cluster, o.top_gap)).toSet
      def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val batch = operators.EmbeddingOps.semanticDrift(sp, sf).collect()
        .filter(_.getLong(2) > 0)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), optD(r, 3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), optD(r, 5)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
      sp.catalog.clearCache()
    } finally q.stop()
  }

  test("D26 checkpoint recovery: cluster counters survive stop + restart") {
    // the D6/D17/D20/D22 fault-tolerance pin applied to the semantic-drift
    // family: stop mid-feed, land more docs while down, restart — the
    // max-rev generation must equal batch C78 over the full feed, which
    // only restored per-source cluster counters can produce
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Encoders
    val srcDir = tmpDir("d26_src"); val ckDir = tmpDir("d26_ck")
    val outDir = tmpDir("d26r_out")
    val v = graft.sources.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding"))
    val asg = operators.EmbeddingOps.kmAssign(v,
        operators.EmbeddingOps.kmeansCentroids(sp, sf))
      .select("vec_id", "cluster").cache()
    val base = SemanticDriftStream.baseModel(sp, sf, asg)
    val feed = SemanticDriftStream.prep(sp, sf, asg).collect().toSeq
    val (p1, p2) = feed.splitAt(feed.size / 2)
    def runOnce(): Unit = {
      val in = sp.readStream.schema(Encoders.product[SemDoc].schema)
        .parquet(srcDir).as[SemDoc]
      val q = SemanticDriftStream.monitor(in, base).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckDir).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    p1.toDS().write.mode("append").parquet(srcDir)
    runOnce()
    p2.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val all = sp.read.parquet(outDir).as[SemOut].collect().toSeq
    assert(all.exists(_.rev >= 2L))
    val streamed = all.groupBy(_.source).map(_._2.maxBy(_.rev))
      .map(o => (o.source, o.base_docs, o.feed_docs, o.tv_cluster,
        o.top_cluster, o.top_gap)).toSet
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val batch = operators.EmbeddingOps.semanticDrift(sp, sf).collect()
      .filter(_.getLong(2) > 0)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), optD(r, 3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), optD(r, 5)))
      .toSet
    assert(streamed == batch)
    sp.catalog.clearCache(): Unit
  }

  test("D25 running filter bias over two micro-batches equals batch C80") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = graft.sources.Tables.documents(sp, sf)
      .select("doc_id", "source", "lang", "text")
      .as[(Long, String, String, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(Long, String, String, String)]
    val agg = DatasheetStream.runningFilterBias(
      in.toDF().toDF("doc_id", "source", "lang", "text"))
    val q = agg.writeStream.format("memory").queryName("d25_out")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = sp.table("d25_out")
      val batch = graft.operators.TextOps.filterBias(sp, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }

  test("D31 running calibration over two micro-batches equals batch C90") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rows = graft.sources.Tables.documents(sp, sf)
      .select("doc_id", "source", "lang", "text")
      .as[(Long, String, String, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val in = MemoryStream[(Long, String, String, String)]
    val agg = DatasheetStream.runningCalibration(
      in.toDF().toDF("doc_id", "source", "lang", "text"))
    val q = agg.writeStream.format("memory").queryName("d31_out")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = sp.table("d31_out")
      val batch = graft.operators.TextOps.classifierCalibration(sp, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }

  test("D24 streaming novelty gate: additive across batches, equals C76") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // freeze the standing gram index (production: built once, bucketed),
    // then stream the re-crawl feed through in two micro-batches
    val standing = graft.operators.Pipeline.standingGramIndex(sp, sf).cache()
    val feed = graft.sources.Feeds.incomingDocs(sp, sf)
      .select("source", "text").as[(String, String)].collect().toSeq
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val target = tmpDir("d24_target") + "/novelty"
    val ckpt = tmpDir("d24_ckpt")
    val in = MemoryStream[(String, String)]
    def run(): Unit = {
      val q = CorpusStream.noveltyGate(in.toDF().toDF("source", "text"),
        standing, target, ckpt)
      q.awaitTermination()
    }
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val streamed = sp.read.parquet(target)
    assert(streamed.select("batch_id").distinct().count() == 2)
    // novelty is defined against the STANDING corpus only, so the
    // occurrence columns are additive across any micro-batch split
    val summed = streamed.groupBy("source").agg(
      sum("n_docs").as("n_docs"), sum("n_gram_occ").as("n_gram_occ"),
      sum("novel_occ").as("novel_occ"))
    val batch = graft.operators.Pipeline.feedNovelty(sp, sf)
      .select("source", "n_docs", "n_gram_occ", "novel_occ")
    assert(summed.except(batch).count() == 0)
    assert(batch.except(summed).count() == 0)
    standing.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("D30 streaming snapshot diff: additive across batches, reconciles C83") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // freeze the standing-corpus signature index (production: persisted
    // by last night's run), then stream the re-crawl through in two
    // micro-batches
    val oldSigs = graft.operators.Pipeline.snapshotSig(
      graft.sources.Tables.documents(sp, sf)).cache()
    val feed = graft.sources.Feeds.recrawlSnapshot(sp, sf)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val target = tmpDir("d30_target") + "/diff"
    val ckpt = tmpDir("d30_ckpt")
    val in = MemoryStream[(Long, String, String)]
    def run(): Unit = {
      val q = SnapshotDiffStream.diff(
        in.toDF().toDF("doc_id", "source", "text"), oldSigs, target, ckpt)
      q.awaitTermination()
    }
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val streamed = sp.read.parquet(target)
    assert(streamed.select("batch_id").distinct().count() == 2)
    // observed classes are additive over the split and equal the
    // retrospective batch differ's counts exactly
    val summed = streamed.groupBy("source").agg(
      sum("n_added").as("s_added"), sum("n_changed").as("s_changed"),
      sum("n_unchanged").as("s_unchanged"),
      sum("chars_delta_observed").as("s_delta"))
    val batch = graft.operators.Pipeline.snapshotDiff(sp, sf)
    val j = summed.join(batch, "source")
    assert(j.count() == batch.count())
    assert(j.filter(col("s_added") =!= col("n_added") ||
      col("s_changed") =!= col("n_changed") ||
      col("s_unchanged") =!= col("n_unchanged")).count() == 0)
    // the one column the stream cannot observe reconciles exactly:
    // retrospective chars_delta = observed delta − removed page mass
    val removed = graft.sources.Tables.documents(sp, sf)
      .join(graft.sources.Feeds.recrawlSnapshot(sp, sf)
        .select(col("doc_id").as("n_id")),
        col("doc_id") === col("n_id"), "left_anti")
      .groupBy("source")
      .agg(sum(length(col("text")).cast("long")).as("rm_len"))
    val rec = j.join(removed, Seq("source"), "left")
      .filter(col("s_delta") - coalesce(col("rm_len"), lit(0L))
        =!= col("chars_delta"))
    assert(rec.count() == 0)
    oldSigs.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("D22 checkpoint recovery: drift state survives stop + restart") {
    // the D6/D17/D20 fault-tolerance pin applied to the drift family: a
    // checkpointed monitor is stopped mid-feed, more docs land while it is
    // down, and the restarted instance must restore each source's running
    // histogram — proven by a max-rev generation equal to batch C69 over
    // the FULL feed, which only restored counter state can produce
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Encoders
    val srcDir = tmpDir("d22_src")
    val ckDir = tmpDir("d22_ck")
    val outDir = tmpDir("d22_out")
    val base = DriftStream.baseModel(sp, sf)
    val feed = DriftStream.prep(graft.sources.Feeds.incomingDocs(sp, sf))
      .collect().toSeq
    val (part1, part2) = feed.splitAt(feed.size / 2)
    def runOnce(): Unit = {
      val in = sp.readStream.schema(Encoders.product[DriftDoc].schema)
        .parquet(srcDir).as[DriftDoc]
      val q = DriftStream.monitor(in, base).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    part1.toDS().write.mode("append").parquet(srcDir)
    runOnce()
    part2.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    runOnce()
    val all = sp.read.parquet(outDir).as[DriftOut].collect().toSeq
    assert(all.exists(_.rev >= 2L))
    val streamed = all.groupBy(_.source).map(_._2.maxBy(_.rev))
      .map(o => (o.source, o.base_docs, o.feed_docs, o.tv_len, o.tv_lang,
        o.top_len_bucket, o.top_len_gap)).toSet
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val batch = graft.operators.Pipeline.sourceDrift(sp, sf).collect()
      .filter(_.getLong(2) > 0)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), optD(r, 3),
        optD(r, 4), if (r.isNullAt(5)) None else Some(r.getInt(5)),
        optD(r, 6))).toSet
    assert(streamed == batch)
    sp.catalog.clearCache(): Unit
  }

  test("D22 DriftStream: max-rev drift equals batch C69 bit-for-bit") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // freeze the standing corpus, then stream the re-crawl feed through
    // TWO micro-batches so state genuinely carries across
    val base = DriftStream.baseModel(sp, sf)
    val feed = DriftStream.prep(graft.sources.Feeds.incomingDocs(sp, sf))
      .collect().toSeq
    val (p1, p2) = feed.splitAt(feed.length / 2)
    val in = MemoryStream[DriftDoc]
    val q = DriftStream.monitor(in.toDS(), base)
      .writeStream.format("memory").queryName("d22_out")
      .outputMode("append").start()
    try {
      in.addData(p1); q.processAllAvailable()
      in.addData(p2); q.processAllAvailable()
      val revs = sp.table("d22_out").as[DriftOut].collect().toSeq
      assert(revs.exists(_.rev == 2L)) // state really carried over
      val streamed = revs.groupBy(_.source).map(_._2.maxBy(_.rev))
        .map(o => (o.source, o.base_docs, o.feed_docs, o.tv_len, o.tv_lang,
          o.top_len_bucket, o.top_len_gap)).toSet
      // batch C69 restricted to sources the stream saw (a source absent
      // from the feed emits nothing — the batch report owns went-dark)
      def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val batch = graft.operators.Pipeline.sourceDrift(sp, sf).collect()
        .filter(_.getLong(2) > 0)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), optD(r, 3),
          optD(r, 4), if (r.isNullAt(5)) None else Some(r.getInt(5)),
          optD(r, 6))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
      sp.catalog.clearCache()
    } finally q.stop()
  }

  test("D27 streaming bloom gate over two batches equals the batch screen") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // train the filter batch-side (production: last night's eval-prep job)
    val docs = graft.sources.Tables.documents(sp, sf)
    val benchGrams = graft.operators.Pipeline.decontamGrams(
        graft.operators.Pipeline.decontamBaseOf(docs))
      .filter(col("doc_id") % graft.operators.Pipeline.BenchMod ===
        graft.operators.Pipeline.BenchRem)
      .select("gram").distinct().cache()
    val words = graft.operators.Pipeline.bloomBuild(benchGrams)
    val feed = docs
      .filter(col("doc_id") % graft.operators.Pipeline.BenchMod =!=
        graft.operators.Pipeline.BenchRem)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val target = tmpDir("d27_target") + "/verdicts"
    val ckpt = tmpDir("d27_ckpt")
    val in = MemoryStream[(Long, String, String)]
    def run(): Unit =
      BloomGateStream.gate(in.toDF().toDF("doc_id", "source", "text"),
        benchGrams, words, target, ckpt).awaitTermination()
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    assert(sp.read.parquet(target).select("batch_id").distinct().count() == 2)
    // stateless gate: the union of per-batch verdicts is exactly the
    // batch screen (C25's per-doc relation) over the same doc set
    val streamed = sp.read.parquet(target)
      .select("doc_id", "source", "n_hits", "contaminated")
    val batch = graft.operators.Pipeline.corpusDecontaminate(sp, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    assert(streamed.filter(col("contaminated")).count() > 0,
      "fixture must exercise real contamination through the stream")
    benchGrams.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("D28 streaming span gate over two batches equals batch C87") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = graft.sources.Tables.documents(sp, sf)
    val benchGrams = graft.operators.Pipeline.positionedGrams(
        graft.operators.Pipeline.decontamBaseOf(docs))
      .filter(col("doc_id") % graft.operators.Pipeline.BenchMod ===
        graft.operators.Pipeline.BenchRem)
      .select("gram").distinct().cache()
    val feed = docs
      .filter(col("doc_id") % graft.operators.Pipeline.BenchMod =!=
        graft.operators.Pipeline.BenchRem)
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val target = tmpDir("d28_target") + "/spans"
    val ckpt = tmpDir("d28_ckpt")
    val in = MemoryStream[(Long, String, String)]
    def run(): Unit =
      SpanGateStream.gate(in.toDF().toDF("doc_id", "source", "text"),
        benchGrams, target, ckpt).awaitTermination()
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    // stateless gate: the union of per-batch spans is exactly batch C87
    // over the same doc set (docs never straddle micro-batches)
    val streamed = sp.read.parquet(target)
      .select("doc_id", "span_id", "start_tok", "end_tok", "n_gram_hits",
        "tokens_excised")
    val batch = graft.operators.Pipeline.contaminationSpans(sp, sf)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    benchGrams.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("D34 streaming mask plan: batch twin, C79/C106 reconciliation, replay") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    val docs = graft.sources.Tables.documents(sp, sf)
    // frozen index: the standing corpus's dup-span relation (C73)
    val spanIndex = graft.operators.DedupOps.substrDupSpans(sp, sf)
      .select("span_hash").cache()
    val feed = docs.orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val target = tmpDir("d34_target") + "/masks"
    val ckpt = tmpDir("d34_ckpt")
    val in = MemoryStream[(Long, String)]
    def run(): Unit =
      MaskStream.plan(in.toDF().toDF("doc_id", "text"), spanIndex,
        target, ckpt).awaitTermination()
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    // stateless: union of per-batch masks ≡ one batch run over the feed
    val streamed = sp.read.parquet(target)
      .select("doc_id", "span_start", "span_tokens", "span_hash").cache()
    val batch = graft.operators.DedupOps.spanMaskAgainst(
      docs.select("doc_id", "text"), spanIndex)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    // self-indexed reconciliation: the stream sees EVERY dup-span
    // occurrence (C79's n_span_occ); the batch C106 plan withholds
    // exactly one keeper per repeated span
    val sv = graft.operators.DedupOps.spanSavings(sp, sf).head
    assert(streamed.count() == sv.getAs[Long]("n_span_occ"))
    val plan = graft.operators.DedupOps.spanMaskPlan(sp, sf)
    assert(streamed.count() - plan.count() ==
      sv.getAs[Long]("n_repeated_spans"))
    assert(plan.except(streamed).count() == 0)
    // at-least-once replay: dropped commit marker must not duplicate
    val before = sp.read.parquet(target).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    dropNewestCommit(ckpt)
    run()
    val after = sp.read.parquet(target).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(after == before,
      "replayed epoch changed the mask set (append instead of overwrite?)")
    spanIndex.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("D35 running mask datasheet: additive grid equals batch twin, replay") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.Kernels.register(sp)
    val docs = graft.sources.Tables.documents(sp, sf)
    val spanIndex = graft.operators.DedupOps.substrDupSpans(sp, sf)
      .select("span_hash").cache()
    val feed = docs.orderBy("doc_id").select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().toSeq
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val target = tmpDir("d35_target") + "/grid"
    val ckpt = tmpDir("d35_ckpt")
    val in = MemoryStream[(Long, String, String)]
    def run(): Unit =
      MaskStream.runningDatasheet(in.toDF().toDF("doc_id", "source", "text"),
        spanIndex, target, ckpt).awaitTermination()
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    // additive counters: the summed grid IS the whole-feed batch grid
    val summed = sp.read.parquet(target).groupBy("source").agg(
      sum("n_docs").as("n_docs"),
      sum("n_affected_docs").as("n_affected_docs"),
      sum("tokens_total").as("tokens_total"),
      sum("tokens_masked").as("tokens_masked"))
    val batch = graft.operators.DedupOps.maskDatasheetAgainst(
      docs.select("doc_id", "source", "text"), spanIndex)
    assert(summed.count() == batch.count() && batch.count() > 0)
    assert(summed.except(batch).count() == 0)
    assert(batch.except(summed).count() == 0)
    // the no-keeper stream mass dominates C108's keeper-excluding mass
    val c108 = graft.operators.DedupOps.maskDatasheet(sp, sf)
      .select(col("source"), col("tokens_masked").as("m108"))
    assert(summed.join(c108, "source")
      .filter(col("tokens_masked") < col("m108")).count() == 0)
    // at-least-once replay: dropped commit marker must not double-count
    val before = sp.read.parquet(target).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    dropNewestCommit(ckpt)
    run()
    val after = sp.read.parquet(target).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(after == before,
      "replayed epoch changed the grid (append instead of overwrite?)")
    spanIndex.unpersist()
    sp.catalog.clearCache(): Unit
  }

  test("D29 per-epoch gram grids sum cellwise to the batch covariance") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val vecs = graft.sources.Tables.embeddings(sp, sf)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val (b1, b2) = vecs.splitAt(vecs.size / 2)
    val target = tmpDir("d29_target") + "/grids"
    val ckpt = tmpDir("d29_ckpt")
    val in = MemoryStream[(Long, Array[Float])]
    def run(): Unit =
      GramStream.monitor(in.toDF().toDF("vec_id", "embedding"),
        target, ckpt).awaitTermination()
    in.addData(b1: _*); run()
    in.addData(b2: _*); run()
    val streamed = sp.read.parquet(target)
    assert(streamed.select("batch_id").distinct().count() == 2)
    // additivity: exact integer cells, so the running grid IS the sum
    val summed = streamed.groupBy("dim_i", "dim_j").agg(
      sum("s_prod").as("s_prod"), sum("s_i").as("s_i"),
      sum("s_j").as("s_j"), sum("n_vecs").as("n_vecs"))
    val batch = graft.operators.EmbeddingOps.embedCovariance(sp, sf)
    assert(summed.count() == batch.count())
    assert(summed.except(batch).count() == 0)
    assert(batch.except(summed).count() == 0)
    sp.catalog.clearCache(): Unit
  }
  test("D33 SkewStream.hotKeyAlerts trips on the hot key, stays silent otherwise") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = SkewStream.hotKeyAlerts(in.toDF().toDF("ts", "key"),
      threshold = 3L, window_ = "10 minutes", watermark = "0 seconds")
    val q = agg.writeStream.format("memory").queryName("d33_out")
      .outputMode("append").start()
    val flood = Seq(
      (ts("2024-01-01 10:00:10"), "bot"), (ts("2024-01-01 10:01:00"), "bot"),
      (ts("2024-01-01 10:02:00"), "bot"), (ts("2024-01-01 10:03:00"), "u1"),
      (ts("2024-01-01 10:04:00"), "u2"))
    val later = (ts("2024-01-01 10:21:00"), "u3")
    try {
      in.addData(flood: _*)
      q.processAllAvailable()
      // window still open -> append mode has emitted nothing yet
      assert(sp.table("d33_out").isEmpty)
      in.addData(later) // watermark passes 10:10 and closes the window
      q.processAllAvailable()
      val rows = sp.table("d33_out")
        .as[(Timestamp, Timestamp, String, Long)].collect().toSeq
      // exactly one alert: the bot at its exact count; uniform keys silent
      assert(rows == Seq((ts("2024-01-01 10:00:00"),
        ts("2024-01-01 10:10:00"), "bot", 3L)))
    } finally q.stop()
    // batch twin: the identical expression over the union (watermark no-op)
    val batch = SkewStream.hotKeyAlerts(
      (flood :+ later).toDF("ts", "key"), threshold = 3L)
      .orderBy("window_start")
      .as[(Timestamp, Timestamp, String, Long)].collect().toSeq
    assert(batch == Seq((ts("2024-01-01 10:00:00"),
      ts("2024-01-01 10:10:00"), "bot", 3L)))
  }

}
