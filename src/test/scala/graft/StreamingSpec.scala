package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Structured Streaming semantics pinned with MemoryStream micro-batches
  * (SURVEY.md §5.5): batch/stream window equivalence and watermark
  * late-data eviction — the one behavior no batch oracle can express. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed aggregation emits identical results in batch and streaming") {
    val events = Tables(spark, sf, "events")
    val batch = StreamOps.tumbling(events)
      .select("w_start", "event_type", "n").collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData(events.select("ts", "event_type", "value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq)
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.tumbling(streamDf)
      .writeStream.format("memory").queryName("tumbling_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_stream")
      .select("w_start", "event_type", "n").collect().toSet
    assert(streamed == batch)
  }

  test("watermark drops late data; in-time data aggregates (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("k"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_stream")
      .outputMode("append").start()
    try {
      // batch 1: two events in hour 10, one in hour 11 →
      // watermark advances to 11:30 - 10min = 11:20 after this batch
      mem.addData(Seq(
        (ts("2024-01-01 10:05:00"), "a"),
        (ts("2024-01-01 10:45:00"), "a"),
        (ts("2024-01-01 11:30:00"), "a")))
      q.processAllAvailable()
      // batch 2: late event for hour 10 (before watermark 11:20) must be
      // DROPPED; event in hour 12 advances the watermark past hour 11
      mem.addData(Seq(
        (ts("2024-01-01 10:50:00"), "a"), // late → dropped
        (ts("2024-01-01 12:40:00"), "a")))
      q.processAllAvailable()
      // batch 3: push watermark far ahead so hour-12 window finalizes too
      mem.addData(Seq((ts("2024-01-01 15:00:00"), "a")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_stream")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    // hour-10 window closed with 2 events — the late third never counted
    assert(out("10:00") == 2L)
    assert(out("11:00") == 1L)
    assert(out("12:00") == 1L)
  }

  test("session windows merge events within the gap and close after it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    mem.addData(Seq(
      (ts("2024-01-01 10:00:00"), 1L),
      (ts("2024-01-01 10:20:00"), 1L), // within 30min → same session
      (ts("2024-01-01 11:30:00"), 1L), // 70min gap → new session
      (ts("2024-01-01 10:00:00"), 2L)))
    val df = mem.toDF().toDF("ts", "user_id")
    val q = StreamOps.sessionized(df)
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("session_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.length == 3)
    val u1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(u1(0)._2 == "2024-01-01 10:00:00")
    assert(u1(0)._3 == "2024-01-01 10:50:00") // last event 10:20 + 30min
    assert(u1(0)._4 == 2L)
    assert(u1(1)._4 == 1L)
  }

  test("session windows MERGE an exactly-gap-length pause (inclusive bound)") {
    // pins the semantics the gaps-and-islands oracle must mirror: Spark
    // treats a pause of exactly the gap duration as the SAME session
    // (merge when next_start <= prev_end), so the oracle's new-session
    // condition is strictly `gap > duration`, not `>=`.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    mem.addData(Seq(
      (ts("2024-01-01 10:00:00"), 1L),
      (ts("2024-01-01 10:30:00"), 1L)))
    val q = StreamOps.sessionized(mem.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("session_edge")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("session_edge").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(2) == "2024-01-01 11:00:00") // 10:30 + gap
  }

  test("flatMapGroupsWithState carries per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val df = mem.toDF().toDF("user_id", "value")
    val q = StreamOps.runningUserTotals(spark, df)
      .writeStream.format("memory").queryName("state_stream")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, 10.0), (1L, 5.0), (2L, 1.0)))
      q.processAllAvailable()
      mem.addData(Seq((1L, 2.5)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("state_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch 1 emissions
    assert(rows.contains((1L, 2L, 15.0)) && rows.contains((2L, 1L, 1.0)))
    // batch 2: user 1's state carried over (2 events + 1 more)
    assert(rows.contains((1L, 3L, 17.5)))
  }

  test("dropDuplicatesWithinWatermark dedups in-horizon, expires state after") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "event_id")
    val q = StreamOps.dedupWithinWatermark(df)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: a duplicate within the same batch -> one survivor
      mem.addData(Seq(
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:00:01"), 1L),
        (ts("2024-01-01 10:05:00"), 2L)))
      q.processAllAvailable()
      // batch 2: id 1 again while still within the 30-min horizon -> dropped
      mem.addData(Seq((ts("2024-01-01 10:10:00"), 1L)))
      q.processAllAvailable()
      // batch 3: advance watermark far past the horizon, then batch 4
      // re-sends id 1 -> state expired, so it is emitted AGAIN
      mem.addData(Seq((ts("2024-01-01 14:00:00"), 3L)))
      q.processAllAvailable()
      mem.addData(Seq((ts("2024-01-01 14:00:01"), 1L)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream")
      .collect().map(_.getLong(1)).toSeq.sorted
    assert(ids == Seq(1L, 1L, 2L, 3L)) // id 1 twice: once per horizon
  }

  test("transformWithState high-water marks emit only on new maxima") {
    implicit val sqlCtx = spark.sqlContext
    Sessions.withConf(spark, StreamOps.rocksDbStateStore) {
      val mem = MemoryStream[(Long, Double)]
      val q = StreamOps.highWaterMarks(spark, mem.toDF().toDF("user_id", "value"))
        .writeStream.format("memory").queryName("hwm_stream")
        .outputMode("append").start()
      try {
        mem.addData(Seq((1L, 5.0), (1L, 3.0), (2L, 1.0)))
        q.processAllAvailable()
        mem.addData(Seq((1L, 4.0)))  // below user 1's max -> silent
        q.processAllAvailable()
        mem.addData(Seq((1L, 9.0), (2L, 0.5))) // new max for 1 only
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("hwm_stream")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((1L, 5.0), (2L, 1.0), (1L, 9.0)))
    }
  }

  test("stream-stream join across batches equals the batch join of all data") {
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Long, Long, Timestamp)]
    val memB = MemoryStream[(Long, Long, Timestamp)]
    val a = memA.toDF().toDF("a_id", "user", "a_ts")
      .withWatermark("a_ts", "1 hour")
    val b = memB.toDF().toDF("b_id", "b_user", "b_ts")
      .withWatermark("b_ts", "1 hour")
    val joined = a.join(b,
      col("user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
      .select("a_id", "b_id")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      // batch 1: a1 at 10:00; b1 at 10:05 joins, b2 at 10:20 is outside
      // the band
      memA.addData(Seq((1L, 7L, ts("2024-01-01 10:00:00"))))
      memB.addData(Seq(
        (101L, 7L, ts("2024-01-01 10:05:00")),
        (102L, 7L, ts("2024-01-01 10:20:00"))))
      q.processAllAvailable()
      // batch 2: a2 arrives LATER but in-watermark; joins the buffered
      // b2 from batch 1 — state must still hold it
      memA.addData(Seq((2L, 7L, ts("2024-01-01 10:15:00"))))
      q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 101L), (2L, 102L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join null-pads only watermark-expired rows") {
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Long, Long, Timestamp)]
    val memB = MemoryStream[(Long, Long, Timestamp)]
    val a = memA.toDF().toDF("a_id", "user", "a_ts")
      .withWatermark("a_ts", "1 hour")
    val b = memB.toDF().toDF("b_id", "b_user", "b_ts")
      .withWatermark("b_ts", "1 hour")
    val joined = a.join(b,
      col("user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"),
      "leftOuter")
      .select("a_id", "b_id")
    val q = joined.writeStream.format("memory").queryName("ss_join_outer")
      .outputMode("append").start()
    try {
      // a1 matches b1; a2 has no match but its window is still open
      memA.addData(Seq((1L, 7L, ts("2024-01-01 10:00:00")),
        (2L, 8L, ts("2024-01-01 10:02:00"))))
      memB.addData(Seq((101L, 7L, ts("2024-01-01 10:05:00"))))
      q.processAllAvailable()
      val r1 = spark.table("ss_join_outer").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(r1 == Set((1L, Some(101L))),
        "no outer row may appear while a match could still arrive")
      // advance the watermark past a2's match window; a3 itself stays
      // inside the horizon (in state), so it must NOT be emitted
      memA.addData(Seq((3L, 9L, ts("2024-01-01 13:00:00"))))
      memB.addData(Seq((999L, 99L, ts("2024-01-01 13:00:00"))))
      q.processAllAvailable()
      val r2 = spark.table("ss_join_outer").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(r2 == Set((1L, Some(101L)), (2L, None)))
    } finally q.stop()
  }

  test("full-outer stream-stream join evicts the right side on its own clock") {
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Long, Long, Timestamp)]
    val memB = MemoryStream[(Long, Long, Timestamp)]
    val a = memA.toDF().toDF("a_id", "user", "a_ts")
      .withWatermark("a_ts", "1 hour")
    val b = memB.toDF().toDF("b_id", "b_user", "b_ts")
      .withWatermark("b_ts", "1 hour")
    val joined = a.join(b,
      col("user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"),
      "fullOuter")
      .select("a_id", "b_id")
    val q = joined.writeStream.format("memory").queryName("ss_join_fullo")
      .outputMode("append").start()
    try {
      // a1/b1 match; b2 is unmatched on the RIGHT side
      memA.addData(Seq((1L, 7L, ts("2024-01-01 10:00:00"))))
      memB.addData(Seq((101L, 7L, ts("2024-01-01 10:05:00")),
        (102L, 8L, ts("2024-01-01 10:02:00"))))
      q.processAllAvailable()
      // advance the watermark; the 13:00 rows themselves stay in state
      memA.addData(Seq((3L, 9L, ts("2024-01-01 13:00:00"))))
      memB.addData(Seq((999L, 99L, ts("2024-01-01 13:00:00"))))
      q.processAllAvailable()
      val got = spark.table("ss_join_fullo").collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
      // b2 (10:02 < watermark 12:00) is emitted null-padded; a1 matched;
      // the in-horizon 13:00 rows appear in neither branch
      assert(got == Set((Some(1L), Some(101L)), (None, Some(102L))))
    } finally q.stop()
  }

  test("timer sessions: cross-batch extension, watermark-gated close") {
    Sessions.withConf(spark, StreamOps.rocksDbStateStore) {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Timestamp)]
      val out = graft.streaming.StreamOps.timerSessions(
        spark, mem.toDF().toDF("user_id", "ts"))
      val q = out.writeStream.format("memory").queryName("timer_sess")
        .outputMode("append").start()
      try {
        // batch 1: user 7 events at 10:00 and 10:20 (one session so far)
        mem.addData(Seq((7L, ts("2024-01-01 10:00:00")),
          (7L, ts("2024-01-01 10:20:00"))))
        q.processAllAvailable()
        assert(spark.table("timer_sess").count() == 0,
          "no session may close while the watermark could still admit an extension")
        // batch 2: 10:45 EXTENDS the pending session (within the 30-min
        // gap of 10:20) — cross-batch merge through the ListState
        mem.addData(Seq((7L, ts("2024-01-01 10:45:00"))))
        q.processAllAvailable()
        assert(spark.table("timer_sess").count() == 0)
        // batch 3: far-future event pushes the watermark (18:00 - 1h =
        // 17:00) past the session's close (11:15) -> emitted with the
        // merged extent; the 18:00 event's own session stays open
        mem.addData(Seq((7L, ts("2024-01-01 18:00:00"))))
        q.processAllAvailable()
        val rows = spark.table("timer_sess").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val expStart = ts("2024-01-01 10:00:00").getTime * 1000L
        val expEnd = ts("2024-01-01 11:15:00").getTime * 1000L // 10:45 + 30m
        assert(rows.toSeq == Seq((7L, expStart, expEnd, 3L)),
          s"got ${rows.toSeq}")
      } finally q.stop()
    }
  }

  test("stream-static join enriches every event, no rows dropped or dup'd") {
    val out = graft.streaming.StreamOps.streamStaticJoinRun(spark, sf)
    val n = Tables(spark, sf, "events").count()
    assert(out.count() == n)
    assert(out.filter(col("et_id").isNull).count() == 0)
    assert(out.select("event_id").distinct().count() == n)
  }

  test("checkpointed file sink: stop/restart resumes without reprocessing") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    def writeBatch(rows: Seq[(Timestamp, String)]): Unit =
      rows.toDF("ts", "event_type").coalesce(1)
        .write.mode("append").parquet(src)

    // run 1: hour-0 events + a 02:30 row; after the no-data batch the
    // watermark (02:30 − 1h = 01:30) closes the [00:00,01:00) window
    writeBatch(Seq(
      (ts("2024-01-01 00:10:00"), "a"),
      (ts("2024-01-01 00:20:00"), "a"),
      (ts("2024-01-01 00:40:00"), "b"),
      (ts("2024-01-01 02:30:00"), "a")))
    val q1 = StreamOps.checkpointedWindowCounts(spark, src, schema, out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val afterRun1 = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(afterRun1 == Set(
      ("2024-01-01 00:00:00", "a", 2L),
      ("2024-01-01 00:00:00", "b", 1L)))

    // run 2 from the SAME checkpoint: a 05:30 row closes [02:00,03:00).
    // Resumed offsets mean run-1 files are not re-read: the hour-0
    // windows must NOT be emitted a second time.
    writeBatch(Seq((ts("2024-01-01 05:30:00"), "a")))
    val q2 = StreamOps.checkpointedWindowCounts(spark, src, schema, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val afterRun2 = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(afterRun2.length == afterRun2.toSet.size, "duplicate window emissions")
    assert(afterRun2.toSet == afterRun1 + (("2024-01-01 02:00:00", "a", 1L)))
  }

  test("x_stream_latedata: late slice dropped, open tail withheld, rest emitted") {
    val df = SparkEntry.queries("x_stream_latedata")(spark, sf)
    assert(df.columns.toSeq == Seq("w_start", "event_type", "n"))
    val events = Tables(spark, sf, "events")
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val slice = col("ts") >= lit(maxTs) - expr("INTERVAL 10 HOURS") &&
      col("ts") < lit(maxTs) - expr("INTERVAL 8 HOURS")
    val closed = date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR") <=
      lit(maxTs) - expr("INTERVAL 1 HOUR")
    // emitted mass = on-time rows in closed windows: the late slice was
    // dropped by the watermark and the final open windows are withheld
    val expected = events.filter(!slice && closed).count()
    val emitted = df.agg(sum(col("n"))).head().getLong(0)
    assert(emitted == expected,
      s"emitted $emitted rows-worth of counts, expected $expected")
    assert(expected < events.count(), "eviction must be observable")
    // the dropped slice is non-empty at every SF — otherwise this test
    // would pass vacuously without exercising the late path
    assert(events.filter(slice).count() > 0)
  }

  test("incremental ingest: restart consumes only new files; idle pass is a no-op") {
    val events = Tables(spark, sf, "events")
    val work = java.nio.file.Files
      .createTempDirectory("graft_ingest_spec").toString
    val (src, bronze, ckpt) = (s"$work/src", s"$work/bronze", s"$work/ckpt")
    val b0 = events.filter(org.apache.spark.sql.functions.col("event_id") % 2 === 0)
    val b1 = events.filter(org.apache.spark.sql.functions.col("event_id") % 2 =!= 0)
    b0.write.mode("append").parquet(src)
    val after1 = StreamOps.ingestAvailableNow(spark, src, events.schema, bronze, ckpt)
    assert(after1 == b0.count(), "first pass must ingest exactly batch 0")
    b1.write.mode("append").parquet(src)
    val after2 = StreamOps.ingestAvailableNow(spark, src, events.schema, bronze, ckpt)
    assert(after2 == events.count(),
      "restarted pass must add exactly batch 1 — no re-read of batch-0 files")
    // third pass with NO new input: the checkpointed offset log makes it
    // a no-op — this is the exactly-once contract a scheduler relies on
    val after3 = StreamOps.ingestAvailableNow(spark, src, events.schema, bronze, ckpt)
    assert(after3 == after2, "idle pass re-ingested already-consumed files")
    // and the refreshed star equals one latest-row per user
    val refreshed = StreamOps.starRefresh(spark.read.parquet(bronze))
    assert(refreshed.count() ==
      events.select("user_id").distinct().count())
  }

  test("incremental aggregate: merged micro-batch partials equal the one-shot aggregate") {
    import org.apache.spark.sql.functions._
    val got = StreamOps.incrementalAggRun(spark, sf)
    val want = Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        graft.Conventions.moneySum(col("value")).as("total"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "maintained state diverges from the batch aggregate")
  }

  test("decontamination gate: per-batch hits against the frozen index union to the batch-mode result") {
    // the property the x_stream_decontam oracle equality rides on:
    // banding is per-document independent and the eval index is
    // frozen, so gating the train corpus in ANY micro-batch split
    // yields exactly the whole-corpus cross-dup hits
    import graft.operators.{Curation, Dedup}
    val dd = Tables(spark, sf, "documents")
    val sides = dd.join(
      Curation.hashSplit(dd, trainPct = 80, valPct = 10)
        .select(col("doc_id"), col("split")), "doc_id")
    val train = sides.filter(col("split") === "train")
    val eval = sides.filter(col("split") =!= "train")
    val whole = Dedup.crossDupMinHash(train, eval).collect().toSet
    val (idxSh, idxBands) = Dedup.contaminationIndex(eval)
    val perBatch = Seq(
        train.filter(col("doc_id") % 2 === 0),
        train.filter(col("doc_id") % 2 =!= 0))
      .flatMap(b =>
        Dedup.crossDupAgainstIndex(b, idxSh, idxBands).collect())
      .toSet
    assert(perBatch == whole,
      "per-batch gate hits diverge from whole-corpus contamination")
  }

  test("streaming decontamination: landed roster equals batch decontamination") {
    import graft.operators.{Curation, Dedup}
    val got = StreamOps.streamDecontamRun(spark, sf)
    val dd = Tables(spark, sf, "documents")
    val sides = dd.join(
      Curation.hashSplit(dd, trainPct = 80, valPct = 10)
        .select(col("doc_id"), col("split")), "doc_id")
    val train = sides.filter(col("split") === "train")
    val hits = Dedup.crossDupMinHash(
        train, sides.filter(col("split") =!= "train"))
      .select(col("d1").as("doc_id")).distinct()
    val want = train.select(col("doc_id"), col("lang"))
      .join(hits.withColumn("hit", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        (!coalesce(col("hit"), lit(false))).as("landed"))
    assert(got.count() == train.count(), "gate changed the train roster")
    assert(got.filter(!col("landed")).count() > 0,
      "no contaminated docs at this SF — the gate is unexercised")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "streamed landing diverges from batch decontamination")
  }

  test("incremental cluster maintenance: final generation equals batch " +
    "connected components") {
    import graft.operators.Dedup
    // the x_dedup_incr_cluster oracle-equality property at spec scale:
    // per-batch index probes find every corpus pair exactly once, and
    // bounded-frontier re-resolution (touched components' star edges +
    // new pairs) reproduces batch CC — including representatives and
    // sizes — over any batch split of the corpus
    val incr = StreamOps.incrClusterRun(spark, sf)
    val batch = Dedup.clusters(Dedup.nearDupMinHash(
      Tables(spark, sf, "documents").select(col("doc_id"), col("text"))))
    assert(incr.count() > 0,
      "no dup clusters at this SF — the operator is unexercised")
    assert(incr.exceptAll(batch).count() == 0 &&
      batch.exceptAll(incr).count() == 0,
      "incremental labels diverge from batch connected components")
  }

  test("streaming upsert: micro-batch merges equal the full-log batch replay") {
    // x_stream_upsert streams the newest slice as two micro-batches
    // (maxFilesPerTrigger=1 over two files) of foreachBatch MERGEs;
    // x_cdc_apply replays the whole log as one batch aggregate. Replay
    // equivalence — including the accumulated n_versions audit counts
    // across sequential merges — is the correctness contract.
    val streamed = SparkEntry.queries("x_stream_upsert")(spark, sf)
    val replay = SparkEntry.queries("x_cdc_apply")(spark, sf)
    assert(streamed.columns.toSeq == replay.columns.toSeq)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(replay).count() == 0 &&
      replay.exceptAll(streamed).count() == 0,
      "streamed state diverges from the batch replay")
  }

  test("streaming COW merge: last batch wins on the overlap, and every " +
    "mid-stream generation time-travels to its exact batch boundary") {
    // the oracle proves the FINAL state; this pins what it cannot see:
    // the intermediate generations. After batch 1 the overlap range
    // reads u1 (gen 2), after batch 3 it reads u3 (current) — a later
    // COW merge overwrote content an earlier merge had itself
    // rewritten, through the file-granular reference chain.
    val out = StreamOps.streamingCowMergeRun(spark, sf)
    // the run's own table, found through the files its result reads:
    // the untouched majority survived all three merges by REFERENCE
    // into gen 1, the three micro-batches minted gens 2-4, and the
    // pre-stream snapshot reads back intact
    val gen1Dir = f"/gen_${1}%08d/"
    val gen1Files = out.inputFiles.filter(_.contains(gen1Dir))
    assert(gen1Files.nonEmpty,
      "the final generation must still reference gen-1 files")
    val runRoot = gen1Files.head.substring(0, gen1Files.head.indexOf(gen1Dir))
    assert(graft.operators.Maintenance.currentGen(spark, runRoot) == 4)
    assert(graft.operators.Maintenance.readGen(spark, runRoot, 1).count() ==
      graft.Tables(spark, sf, "events").count())
    val cur = out.cache()
    val m = graft.Tables(spark, sf, "events")
      .agg(max("event_id")).head().getLong(0)
    val overlap = col("event_id").between(m / 10, m / 7) &&
      col("event_id") % 3 === 0
    assert(cur.filter(overlap).select("event_type").distinct()
      .as[String].collect().toSeq == Seq("u3"))
    // generation 2's content is inspected on a fresh table that
    // replays the overlapping batches directly
    val ev = graft.Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val root = tmpDir() + "/t"
    graft.operators.Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(8, col("event_id")),
      statsColumns = Seq("event_id"))
    val b1 = ev.filter(overlap).withColumn("event_type", lit("u1"))
    val b3 = ev.filter(overlap).withColumn("event_type", lit("u3"))
    graft.operators.Maintenance.merge(spark, root, b1, "event_id")
    graft.operators.Maintenance.merge(spark, root, b3, "event_id")
    assert(graft.operators.Maintenance.readGen(spark, root, 2)
      .filter(overlap).select("event_type").distinct()
      .as[String].collect().toSeq == Seq("u1"))
    assert(graft.operators.Maintenance.readCurrent(spark, root)
      .filter(overlap).select("event_type").distinct()
      .as[String].collect().toSeq == Seq("u3"))
    cur.unpersist()
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_stream_cow_spec")
      .toString

  /** A throwable and its cause chain. */
  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("staged runner: micro-batches arrive in slice order under concurrent staging") {
    // the FIRST slice is by far the largest, so under concurrent
    // staging its write finishes last — only the pinned mtimes keep it
    // first in admission order
    val slices = (0 until 4).map { i =>
      spark.range(if (i == 0) 300000L else 10L)
        .select(col("id"), lit(i).as("tag"))
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    StreamOps.StagedStream.reclaimed("graft_runner_spec") { run =>
      run.stage(slices)
      run.drain(spark) { (batch, batchId) =>
        batch.select("tag").distinct().as[Int].collect()
          .foreach(t => seen.add((batchId, t)))
      }
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == (0 until 4).map(i => (i.toLong, i)))
  }

  test("staged runner: a failing slice write or batch body is the runner's exception") {
    import scala.jdk.CollectionConverters._
    val ok = spark.range(10).select(col("id"))
    val bad = spark.range(10).select(
      when(col("id") === 5, raise_error(lit("stage boom")))
        .otherwise(col("id")).as("id"))
    val e1 = intercept[Throwable] {
      StreamOps.StagedStream.reclaimed("graft_runner_spec") { run =>
        run.stage(Seq(ok, bad, ok))
      }
    }
    assert(causes(e1).exists(c =>
      String.valueOf(c.getMessage).contains("stage boom")), e1)
    // the failure is rethrown only after every staging thread ended
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.isAlive && t.getName.startsWith("graft-stage-")))
    val e2 = intercept[Throwable] {
      StreamOps.StagedStream.reclaimed("graft_runner_spec") { run =>
        run.stage(Seq(ok, ok))
        run.drain(spark) { (_, batchId) =>
          if (batchId == 1) throw new IllegalStateException("body boom")
        }
      }
    }
    assert(causes(e2).exists(c =>
      String.valueOf(c.getMessage).contains("body boom")), e2)
  }

  test("staged runner: staging leaves no part-file dir behind in the tmpdir") {
    def parts(): Set[String] =
      Option(new java.io.File(sys.props("java.io.tmpdir")).list())
        .map(_.toSet).getOrElse(Set.empty[String])
        .filter(_.startsWith("graft_late_part"))
    val before = parts()
    val work = StreamOps.StagedStream.reclaimed("graft_runner_spec") { run =>
      run.stage(Seq(spark.range(5).toDF(), spark.range(7).toDF()))
      assert(new java.io.File(run.src).list().sorted.toSeq ==
        Seq("batch_0.parquet", "batch_1.parquet"))
      run.work
    }
    assert(parts() -- before == Set.empty[String])
    assert(!new java.io.File(work).exists(), "reclaimed work dir survived")
  }
}
