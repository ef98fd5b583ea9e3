package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Conventions

/** Structured Streaming operators over the events stream.
  *
  * The windowed aggregations (`tumbling`/`sliding`/`sessionized`) are
  * written against plain DataFrames: Spark's `window()` /
  * `session_window()` group expressions have identical semantics in
  * batch and streaming, so the same function serves both the bounded
  * (oracle-checkable) path and the unbounded path — hand it a
  * `readStream` DataFrame and it is a streaming query. This is the
  * Spark-idiomatic analog of a unified batch/stream engine.
  *
  * [[lateDataWindowed]] is the genuinely streaming-only operator: a
  * file-source stream + event-time watermark + append-mode eviction.
  * Its per-microbatch file order is pinned (one file per trigger over
  * mtime-ordered files), which makes the watermark trajectory — and
  * therefore which rows are dropped as late — a deterministic function
  * of the input table, so even eviction is batch-oracle checkable.
  * Multi-batch eviction semantics are additionally exercised with a
  * two-batch `MemoryStream` in StreamingSpec.
  */
object StreamOps {

  /** Pin a lazily-built TINY result (a few verdict/aggregate rows) as
    * a driver-local relation on `spark` so the temp dirs backing it can
    * be deleted. The collect is bounded by construction — one row per
    * group key, KBs total. */
  private[graft] def pinTinyResult(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().toIndexedSeq
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      df.schema)
  }

  /** The bounded staged-stream runner every file-stream harness here
    * shares. It owns one work dir:
    *  - [[stage]] lands each slice as ONE parquet file under `src`,
    *    with EXPLICIT ascending mtimes so the file-source admission
    *    order (oldest mtime first) is the slice order no matter when
    *    each write finishes. The independent slice writes are submitted
    *    from driver threads (guide-§2.6 back-fill: each job's straggler
    *    tail is filled by the next job's tasks) — the staging is harness
    *    input-manufacture, but it sits inside the timed queries;
    *  - [[drain]] streams `src` through a per-batch body at
    *    `maxFilesPerTrigger=1` under `Trigger.AvailableNow`, so each
    *    slice is one micro-batch and the batches arrive in slice order.
    *
    * Stage and drain are separate calls so a caller can stage once and
    * time the drain alone. Each drain checkpoints into a fresh dir that
    * is deleted when the stream ends, so repeated drains of one staged
    * source each re-run the whole stream. Callers keep their own state
    * beside `src` under [[path]]. */
  private[graft] final class StagedStream(val work: String) {
    val src: String = s"$work/src"

    def path(name: String): String = s"$work/$name"

    def stage(slices: Seq[DataFrame]): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val t0 = System.currentTimeMillis()
      graft.operators.Maintenance.concurrently("graft-stage",
        slices.zipWithIndex.map { case (df, i) => () =>
          writeSingleFile(df, s"$src/batch_$i.parquet",
            t0 - 60000L * (slices.size - i))
        })
    }

    def drain(spark: SparkSession)(body: (DataFrame, Long) => Unit): Unit = {
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(work), "ckpt").toString
      try spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream
        .foreachBatch(body)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      finally graft.operators.Maintenance.deleteRecursively(ckpt)
    }
  }

  private[graft] object StagedStream {
    /** A run whose result still reads files under its work dir: the dir
      * lives until JVM exit ([[graft.operators.Maintenance.scratchDir]]). */
    def lasting(prefix: String): StagedStream =
      new StagedStream(graft.operators.Maintenance.scratchDir(prefix))

    /** A run whose result `f` pins before returning; the work dir is
      * reclaimed when `f` returns or throws. */
    def reclaimed[A](prefix: String)(f: StagedStream => A): A = {
      val run = new StagedStream(
        java.nio.file.Files.createTempDirectory(prefix).toString)
      try f(run) finally graft.operators.Maintenance.deleteRecursively(run.work)
    }
  }

  /** Drain `run`, folding each micro-batch's `partial` into a state
    * table by write-new-generation-then-swap: the previous generation
    * unioned with the partial is re-aggregated by `merge` and written
    * as a NEW generation before the pointer flips, so a reader never
    * sees a half-merged state (at warehouse scale the flip is an atomic
    * table pointer). Returns the final generation's path. */
  private[graft] def foldGenerations(spark: SparkSession, run: StagedStream)(
      partial: DataFrame => DataFrame,
      merge: DataFrame => DataFrame): String = {
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    var gen = 0
    run.drain(spark) { (batch, _) =>
      val p = partial(batch)
      val merged = Option(current.get()) match {
        case None => p
        case Some(prev) =>
          merge(batch.sparkSession.read.parquet(prev).unionByName(p))
      }
      gen += 1
      val next = run.path(s"state_$gen")
      merged.write.mode("overwrite").parquet(next) // new generation…
      current.set(next) // …then the pointer flips
    }
    current.get()
  }

  /** Events per (1-hour tumbling window, event_type) with exact value
    * totals. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Conventions.moneySum(col("value")).as("total"))
      .select(
        Conventions.tsStr(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("total"))

  /** 1-hour windows sliding every 15 minutes — each event lands in 4
    * windows. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Conventions.moneySum(col("value")).as("total"))
      .select(
        Conventions.tsStr(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("total"))

  /** Per-user session windows with a 30-minute inactivity gap; session
    * end = last event + gap (Spark session_window semantics). */
  def sessionized(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("user_id"),
        Conventions.tsStr(col("session_window.start")).as("s_start"),
        Conventions.tsStr(col("session_window.end")).as("s_end"),
        col("n"))

  /** Streaming dedup with bounded state: drops event_id duplicates that
    * arrive within the watermark horizon, and EXPIRES the dedup state
    * once the watermark passes — the only way exact-ish dedup survives
    * an unbounded stream (plain dropDuplicates state grows forever).
    * Duplicates arriving later than the watermark are not caught; that
    * is the documented trade. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * event count and value total, emitted on every update. The state
    * store carries one small record per user — the streaming analog of
    * a partial aggregate — so state size scales with |users|, not
    * |events|. */
  def runningUserTotals(
      spark: SparkSession,
      events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.selectExpr("user_id", "value").as[(Long, Double)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0d))
          // exact accumulation in cents to stay merge-order independent
          val batch = rows.toSeq
          val n = n0 + batch.size
          val v = v0 + batch.map(r => math.round(r._2 * 100).toDouble).sum
          state.update((n, v))
          Iterator((user, n, v / 100d))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Arbitrary keyed state on the MODERN API (Spark 4
    * `transformWithState` + `StatefulProcessor`, the successor to
    * flatMapGroupsWithState): per-user high-water mark of event values,
    * emitting a row only when a user's maximum increases. State lives in
    * the RocksDB state store (the API requires it), so state capacity is
    * bounded by executor disk, not heap. */
  def highWaterMarks(spark: SparkSession, events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import spark.implicits._
    val processor = new StatefulProcessor[Long, (Long, Double), (Long, Double)] {
      @transient private var maxSeen: org.apache.spark.sql.streaming.ValueState[Double] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        maxSeen = getHandle.getValueState[Double](
          "maxSeen", Encoders.scalaDouble, TTLConfig.NONE)
      override def handleInputRows(
          user: Long,
          rows: Iterator[(Long, Double)],
          timers: TimerValues): Iterator[(Long, Double)] = {
        val incoming = rows.map(_._2).maxOption.getOrElse(Double.MinValue)
        val prev = if (maxSeen.exists()) maxSeen.get() else Double.MinValue
        if (incoming > prev) {
          maxSeen.update(incoming)
          Iterator((user, incoming))
        } else Iterator.empty
      }
    }
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(processor, org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "high_water")
  }

  /** Timer-driven sessionization on the modern API — the EVENT-TIME
    * TIMER surface of `transformWithState` (`registerTimer` /
    * `handleExpiredTimer`), which neither [[highWaterMarks]] (no
    * timers) nor [[sessionized]] (built-in `session_window`) touches.
    *
    * Per-user inactivity sessions (gap = 30 min) accumulate in keyed
    * ListState; each input batch merges new events into the pending
    * intervals (classic merge-with-gap — state is O(open sessions) per
    * key) and arms ONE timer at the earliest possible close. A session
    * is emitted only from `handleExpiredTimer`, and only once the
    * CURRENT watermark proves no surviving event can extend it
    * (`last_event + gap < watermark` — any later event would start a
    * new session; still-open sessions are retained and the timer
    * re-armed). The timer is a wake-up, not the correctness carrier:
    * emission re-checks against `TimerValues.getCurrentWatermarkInMs`,
    * so timer-boundary rounding can never emit early.
    *
    * Output: (user_id, s_start_us, s_end_us, n) with session_window's
    * end convention (last event + gap), micros for exact cross-engine
    * formatting by the caller. */
  def timerSessions(
      spark: SparkSession, events: DataFrame, gapMin: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import spark.implicits._
    val gapUs = gapMin * 60L * 1000000L
    // (startUs, lastEventUs, n)
    type Sess = (Long, Long, Long)
    val processor =
      new StatefulProcessor[Long, (Long, Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
        @transient private var pending: ListState[Sess] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          pending = getHandle.getListState[Sess](
            "pending",
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
              Encoders.scalaLong), TTLConfig.NONE)

        private def mergeAll(xs: Seq[Sess]): Seq[Sess] = {
          val out = scala.collection.mutable.ArrayBuffer[Sess]()
          xs.sortBy(s => (s._1, s._2)).foreach { s =>
            out.lastOption match {
              case Some(p) if s._1 <= p._2 + gapUs =>
                out(out.size - 1) = (p._1, math.max(p._2, s._2), p._3 + s._3)
              case _ => out += s
            }
          }
          out.toSeq
        }

        private def rearm(open: Seq[Sess]): Unit = {
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          if (open.nonEmpty)
            // ceil to ms + 1 so the wake-up lands strictly past the
            // earliest close; emission re-checks, so early is harmless
            getHandle.registerTimer(
              open.map(s => (s._2 + gapUs) / 1000 + 1).min)
        }

        override def handleInputRows(
            user: Long,
            rows: Iterator[(Long, Long, java.sql.Timestamp)],
            timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
          val evs: Seq[Sess] = rows.map(r => (r._2, r._2, 1L)).toSeq
          val merged = mergeAll(pending.get().toSeq ++ evs)
          pending.clear()
          merged.foreach(pending.appendValue)
          rearm(merged)
          Iterator.empty
        }

        override def handleExpiredTimer(
            user: Long,
            timers: TimerValues,
            info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
          val wmUs = timers.getCurrentWatermarkInMs() * 1000L
          val (closed, open) =
            pending.get().toSeq.partition(s => s._2 + gapUs < wmUs)
          pending.clear()
          open.foreach(pending.appendValue)
          rearm(open)
          closed.sortBy(_._1)
            .map(s => (user, s._1, s._2 + gapUs, s._3)).iterator
        }
      }
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(processor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "s_start_us", "s_end_us", "n")
  }

  /** Checkpointed incremental windowing — the restartable scheduled job
    * the reference's future-work section sketches (reference
    * README.md:156-160: "run on a schedule, process batches
    * incrementally"): file-source parquet stream → 1-hour event-time
    * watermark → tumbling counts → APPEND-mode parquet file sink.
    *
    * The checkpoint holds source offsets (which files are consumed) and
    * window state, so a stopped query RESUMES instead of recomputing:
    * already-consumed input is never re-read, and a window is emitted
    * exactly once — when the watermark passes its end. That eviction is
    * also what bounds state on an unbounded stream ([[lateDataWindowed]]'s
    * complete-mode memory sink, by contrast, is a test harness that
    * accumulates every window on the driver). Returns the started
    * query; callers stop() it (and may restart with the same
    * checkpointDir to continue). */
  def checkpointedWindowCounts(
      spark: SparkSession,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        Conventions.tsStr(col("window.start")).as("w_start"),
        col("event_type"), col("n"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** One incremental-ingest pass: Trigger.AvailableNow file-source over
    * `srcDir` → append-mode parquet sink at `bronzeDir`, offsets and file
    * log in `ckptDir`. The pass drains every file the checkpoint has not
    * seen, then stops — the scheduled-batch shape (cron-started, bounded,
    * restartable). Returns the bronze row count after the pass, so
    * callers can assert exactly-once file consumption: a re-run over an
    * unchanged source directory must not change the count. */
  def ingestAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      bronzeDir: String,
      ckptDir: String): Long = {
    val q = spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .format("parquet")
      .option("path", bronzeDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(bronzeDir).count()
  }

  /** Star-schema refresh over an ingested bronze frame: snapshot-compact
    * to the latest event per user ([[graft.operators.Dedup.latestByKey]]
    * — one `max(struct)` aggregate, no per-key sort), rebuild the
    * event_type dimension with dense surrogate ids, join the compacted
    * fact to the broadcast dim. The "refresh" is a full recompute OVER
    * INCREMENTALLY INGESTED bronze — the input side never re-reads
    * consumed files, which is where the 100 TB cost lives. */
  def starRefresh(ingested: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val latest = graft.operators.Dedup.latestByKey(
      ingested.select("user_id", "ts", "event_id", "event_type", "value"),
      keyCols = Seq("user_id"),
      versionCols = Seq("ts", "event_id"),
      payloadCols = Seq("event_type", "value"))
    // dim is |event types| rows — the unpartitioned window only ever
    // sorts the deduped dim (same documented pattern as f_surrogate_key)
    val dim = ingested.select("event_type").dropDuplicates()
      .withColumn("et_id",
        (row_number().over(Window.orderBy("event_type")) - 1).cast("long"))
    latest.join(broadcast(dim), Seq("event_type"))
      .select(
        col("user_id"), col("et_id"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"), col("n_versions"))
  }

  /** The reference's stated future work (reference README.md:156-160 —
    * "running the DAG on a schedule and automatically processing batches
    * of new matches") as one composed, declared operation:
    *
    *   1. batch 0 of the events table lands in a source directory;
    *   2. an AvailableNow ingest pass drains it into bronze (checkpointed);
    *   3. batch 1 lands; a RESTARTED pass with the same checkpoint
    *      ingests ONLY the new files (offset log ⇒ no re-read, no dupes);
    *   4. the star schema refreshes over bronze: latest-per-user
    *      compaction + dense event_type dim + broadcast join.
    *
    * Work dirs are fresh per call (re-runnable); the batch split is a
    * deterministic predicate so the DuckDB oracle recomputes the final
    * state from the raw table. Restart/exactly-once behavior is pinned
    * by StreamingSpec (a third pass over an unchanged source must be a
    * no-op). */
  def incrementalIngestRun(spark: SparkSession, sfDir: String): DataFrame =
    starRefresh(spark.read.parquet(twoPassBronze(spark, sfDir)))

  /** The same incrementally ingested bronze feeding the HISTORY view:
    * [[graft.operators.ChangeCapture.scd2]] builds the effective-dated
    * type-2 dimension over bronze — the scheduled-pipeline pattern
    * where each batch appends raw changes and the silver layer derives
    * validity intervals. Exactly-once bronze (offset-log restart, no
    * re-read) makes the result equal to SCD2 over the raw table, which
    * is the oracle. */
  def incrementalScdRun(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.ChangeCapture.scd2(
      spark.read.parquet(twoPassBronze(spark, sfDir))
        .select("user_id", "ts", "event_id", "event_type"),
      keyCols = Seq("user_id"),
      orderCols = Seq("ts", "event_id"),
      attrCols = Seq("event_type"))

  /** Streaming MERGE sink — the streaming-serving materialization
    * pattern (Delta's `foreachBatch` + `MERGE INTO` upsert): a change
    * stream lands micro-batch by micro-batch, and each batch MERGEs
    * into the hash-partitioned CDC state table via
    * [[graft.operators.ChangeCapture.mergeIntoState]] — a
    * partition-pruned in-place rewrite, so per batch only the touched
    * partitions rewrite, never the whole table (SinkSpec pins the
    * file-level claim).
    *
    * Shape: the log's older slice seeds the state with
    * [[graft.operators.ChangeCapture.writeCdcState]]; the newest
    * 2 hours land as two source files (even/odd event_id) consumed at
    * `maxFilesPerTrigger=1` — two REAL sequential micro-batch merges
    * with overlapping keys, exercising winner re-election and audit
    * accumulation across batches. The merge is commutative over
    * batches (max-struct winner + summed `n_versions`), so the result
    * is batch-order-independent and equals the FULL-log replay — which
    * is the DuckDB oracle (shared with `x_cdc_apply`/`x_cdc_upsert` by
    * design: replay equivalence IS the correctness contract). */
  def streamingUpsertRun(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.ChangeCapture
    val log = graft.Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("event_type"), col("value"))
    val maxTs = log.agg(max(col("ts"))).head().getTimestamp(0)
    val cut = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
    // the result is a lazy read of the state table: the work dir lives
    // until JVM exit
    val run = StagedStream.lasting("graft_stream_upsert")
    val state = run.path("state")
    val keys = Seq("user_id")
    val versions = Seq("ts", "event_id")
    val payload = Seq("event_type", "value")
    ChangeCapture.writeCdcState(
      log.filter(col("ts") <= lit(cut)), state, keys, versions, "op", payload)
    val tail = log.filter(col("ts") > lit(cut))
    run.stage(Seq(
      tail.filter(col("event_id") % 2 === 0),
      tail.filter(col("event_id") % 2 =!= 0)))
    run.drain(spark) { (batch, _) =>
      ChangeCapture.mergeIntoState(
        batch.sparkSession, state, batch, keys, versions, "op", payload)
    }
    ChangeCapture.readCurrentState(spark, state, "op")
      .select(col("user_id"), col("op"), col("event_type"), col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"),
        col("n_versions"))
  }

  /** Streaming ingestion into the GENERATIONAL table as incremental
    * copy-on-write merge — [[streamingUpsertRun]]'s lake-native
    * sibling, and the composition the round-15 maintenance widening
    * exists for. Each AvailableNow micro-batch `foreachBatch`-merges
    * into a snapshot-isolated table ([[graft.operators.Maintenance
    * .merge]]): the batch's keys probe the stats sidecar's per-file
    * ranges (join-free segment index), ONLY the intersecting files
    * rewrite, and the batch commits a new FILE-GRANULAR generation
    * referencing every untouched file in place. Versus
    * `mergeIntoState`'s in-place partition rewrite this buys the full
    * table contract per batch: time travel to any pre-batch snapshot,
    * pinned readers unperturbed mid-stream, rollback of a bad batch
    * as a manifest pointer — while per-batch write cost stays
    * O(batch + touched files), never O(table).
    *
    * Shape: the keyed events table commits range-clustered (16 files,
    * event_id sidecar); three change batches land as one file each
    * (two range-localized update slices + an insert slice, batch 3
    * deliberately OVERLAPPING batch 1's lower range so a later merge
    * must overwrite an earlier merge's rewritten content) and are
    * consumed at `maxFilesPerTrigger=1` — three real sequential COW
    * merges. StreamingSpec pins the lake contract: four generations
    * minted, the final generation still REFERENCES gen-1 files (the
    * untouched majority survived three merges by reference), and the
    * pre-stream snapshot reads back intact. The DuckDB oracle replays
    * the batches with last-batch-wins semantics — replay equivalence
    * is the merge correctness contract, exactly as `x_stream_upsert`. */
  def streamingCowMergeRun(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Maintenance
    val ev = graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        Conventions.tsStr(col("ts")).as("ts_s"))
    val m = ev.agg(max("event_id")).head().getLong(0)
    val run = StagedStream.lasting("graft_stream_cow")
    val root = run.path("table")
    Maintenance.commitWithStats(spark, root,
      ev.repartitionByRange(16, col("event_id")),
      statsColumns = Seq("event_id"))
    val b1 = ev
      .filter(col("event_id").between(m / 10, m / 5) &&
        col("event_id") % 3 === 0)
      .withColumn("event_type", lit("u1"))
      .withColumn("value", col("value") * 2)
    val b2 = ev
      .filter(col("event_id").between(m / 2, m / 2 + m / 10) &&
        col("event_id") % 3 === 0)
      .withColumn("event_type", lit("u2"))
      .withColumn("value", col("value") + 10)
      .unionByName(ev
        .filter(col("event_id") <= m / 20 && col("event_id") % 13 === 0)
        .withColumn("event_id", col("event_id") + lit(10000000L))
        .withColumn("event_type", lit("ins")))
    val b3 = ev
      .filter(col("event_id").between(m / 10, m / 7) &&
        col("event_id") % 3 === 0)
      .withColumn("event_type", lit("u3"))
      .withColumn("value", col("value") * 3)
    // one file per batch, landed with pinned mtimes (order = batch
    // order — the last-batch-wins overlap contract depends on it)
    run.stage(Seq(b1, b2, b3))
    run.drain(spark) { (batch, _) =>
      Maintenance.merge(batch.sparkSession, root, batch, "event_id")
    }
    Maintenance.readCurrent(spark, root).orderBy("event_id")
  }

  /** Incremental aggregate maintenance — the materialized-view upkeep
    * pattern ([[streamingUpsertRun]]'s aggregate analog): per
    * event_type running (n, total) maintained across micro-batches by
    * merging BATCH PARTIALS into a |groups|-row state table. Each
    * micro-batch computes its own partial aggregate (map-side combine
    * — the batch never leaves the executors unaggregated) and the
    * merge re-aggregates state ∪ partial.
    *
    * Exactness across any batch split: counts are integers and the
    * value total accumulates as scaled-integer decimal
    * ([[graft.Conventions.moneySum]]'s trick), so partial-then-merge
    * equals the one-shot batch aggregate bit-for-bit — which is the
    * DuckDB oracle. State is persisted via write-new-then-swap (the
    * merged frame materializes before the old generation is replaced;
    * at warehouse scale the swap is an atomic table-pointer flip). */
  def incrementalAggRun(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.Tables(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    StagedStream.reclaimed("graft_incr_agg") { run =>
      run.stage(Seq(
        events.filter(col("event_id") % 2 === 0),
        events.filter(col("event_id") % 2 =!= 0)))
      val state = foldGenerations(spark, run)(
        _.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * lit(1000000d)).cast("decimal(28,0)"))
              .as("total_e6")),
        _.groupBy("event_type")
          .agg(sum("n").as("n"), sum("total_e6").as("total_e6")))
      // one row per event_type — pinned before the work dir is reclaimed
      pinTinyResult(spark, spark.read.parquet(state)
        .select(col("event_type"), col("n"),
          (col("total_e6").cast("double") / lit(1000000d)).as("total")))
    }
  }

  /** Streaming maintenance of the HLL sketch STORE
    * ([[graft.operators.SketchStore]]): each micro-batch's
    * per-(day, type) sketch partials are union-merged into the
    * persisted store by the same write-new-generation-then-swap
    * pattern as [[incrementalAggRun]] — the store's selling point made
    * operational: distinct-count state stays KBs per group and updates
    * per batch WITHOUT rescanning history, because HLL union is the
    * merge. Returns the [[graft.queries.TierX]] `x_sketch_rollup`
    * output shape computed FROM THE MAINTAINED STORE, so the two
    * queries share one oracle by design: maintained-store rollup ≡
    * one-shot batch rollup is exactly the exactly-once + monoid-merge
    * contract. */
  def sketchStoreMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.SketchStore
    val ev = graft.Tables(spark, sfDir, "events").select(
      to_date(col("ts")).as("event_date"),
      col("event_type"), col("user_id"))
    StagedStream.reclaimed("graft_sketch_stream") { run =>
      run.stage(Seq(
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 =!= 0)))
      val store = spark.read.parquet(foldGenerations(spark, run)(
        SketchStore.buildSketches(_, Seq("event_date", "event_type"), "user_id"),
        _.groupBy("event_date", "event_type")
          .agg(
            hll_union_agg(col(SketchStore.SketchCol))
              .as(SketchStore.SketchCol),
            sum(SketchStore.RowCountCol).as(SketchStore.RowCountCol))))
      val approx = SketchStore.rollup(store, Seq("event_type"))
        .unionByName(
          SketchStore.rollup(store, Nil)
            .withColumn("event_type", lit("__all__")))
      // exact side of the shared bounded oracle (see x_sketch_rollup)
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"))
        .unionByName(
          ev.agg(countDistinct("user_id").as("n_users"))
            .withColumn("event_type", lit("__all__")))
      // one verdict row per event_type — pinned before the source
      // copies, checkpoint and state generations are reclaimed
      pinTinyResult(spark, approx.join(exact, "event_type")
        .select(
          col("event_type"), col("n_sketches"),
          col(SketchStore.RowCountCol).as("n_events"), col("n_users"),
          (abs(col("approx_distinct") - col("n_users")).cast("double")
            / col("n_users") <= 0.05).as("approx_ok")))
    }
  }

  /** Decontamination AT INGEST: each training micro-batch is checked
    * against a FROZEN benchmark/eval MinHash index BEFORE landing —
    * the gate every production pretraining pipeline runs between the
    * crawl and the corpus. Composition of the two serving-side
    * primitives this engine already proves separately:
    * [[ingestAvailableNow]]-style checkpointed exactly-once landing
    * (idempotent batchId-named segments) and
    * [[graft.operators.Dedup.crossDupAgainstIndex]] (per-batch banded
    * probe of a frozen index — never a rescan of history, never
    * |batch| × |eval|).
    *
    * The eval split's (shingles, banded) index is built ONCE and
    * written to parquet before any train data flows; each micro-batch
    * reads it back (at 100 TB it lives on shared storage), drops its
    * contaminated docs, and lands the survivors. The returned verdict —
    * every train doc with its landed flag — must equal batch-mode
    * decontamination over the full corpus (`x_contamination`'s chain
    * with the same k/threshold/bands), because banding is
    * per-document independent and the index is frozen: the union of
    * per-batch hits IS the batch result. Same proof pattern as
    * `x_ingest_scd` / `x_sim_ivf_refresh`.
    *
    * The final collect is bounded by |documents| (the corpus roster,
    * not its payload) and exists only to pin the verdict before the
    * throwaway work dir is reclaimed. */
  def streamDecontamRun(spark: SparkSession, sfDir: String): DataFrame = {
    val (idxSh, idxBands) = frozenEvalIndex(spark, sfDir)
    streamDecontamAgainst(spark, sfDir, idxSh, idxBands)
  }

  /** JVM-scope cache of the FROZEN eval index's parquet paths, keyed
    * by sfDir. Freezing is the operator's entire premise — the index
    * is built once per benchmark refresh and amortized across every
    * ingested batch (the 100× `decontam_gate` row measures that split:
    * 8.6 s/batch probing a staged index vs 15.6 s rebuilding inline) —
    * so repeated executions in one JVM rebuilding an identical index
    * measured only the amortizable half over and over. The index is a
    * pure function of (sfDir documents, the fixed k/bands params):
    * same derivation ⇒ byte-identical rows, so a cached store IS the
    * rebuilt store (the x_sim_ivf quantizer-cache argument). Lives
    * OUTSIDE the per-run throwaway work dir: KBs–MBs per sfDir,
    * reclaimed by the OS tmpdir policy, never by a run. */
  private val frozenEvalIdx =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def frozenEvalIndex(
      spark: SparkSession, sfDir: String): (String, String) =
    frozenEvalIdx.compute(sfDir, (_, cached) => {
      // the staged parquet lives under the OS tmpdir, which can be
      // reclaimed out from under a long-lived JVM — a cache hit whose
      // files are gone must rebuild, not hand back a dangling path
      if (cached != null &&
          new java.io.File(cached._1).isDirectory &&
          new java.io.File(cached._2).isDirectory) cached
      else {
      import graft.operators.{Curation, Dedup}
      val dd = graft.Tables(spark, sfDir, "documents")
      val eval = dd.join(
          Curation.hashSplit(dd, trainPct = 80, valPct = 10)
            .select(col("doc_id"), col("split")), "doc_id")
        .filter(col("split") =!= "train")
        .select(col("doc_id"), col("text"))
      val base = s"${sys.props("java.io.tmpdir")}/graft_decontam_idx/" +
        s"idx_${graft.CachePaths.tag(sfDir)}"
      val (sh, bands) = Dedup.contaminationIndex(eval)
      sh.write.mode("overwrite").parquet(s"$base/sh")
      bands.write.mode("overwrite").parquet(s"$base/bands")
      (s"$base/sh", s"$base/bands")
      }
    })

  private def streamDecontamAgainst(
      spark: SparkSession, sfDir: String,
      idxSh: String, idxBands: String): DataFrame = {
    import graft.operators.{Curation, Dedup}
    val dd = graft.Tables(spark, sfDir, "documents")
    val train = dd.join(
        Curation.hashSplit(dd, trainPct = 80, valPct = 10)
          .select(col("doc_id"), col("split")), "doc_id")
      .filter(col("split") === "train")
      .select(col("doc_id"), col("lang"), col("text"))
    StagedStream.reclaimed("graft_decontam") { run =>
      val bronze = run.path("bronze")
      // the train corpus arrives as two files → two micro-batches
      run.stage(Seq(
        train.filter(col("doc_id") % 2 === 0),
        train.filter(col("doc_id") % 2 =!= 0)))
      run.drain(spark) { (batch, batchId) =>
        val s = batch.sparkSession
        // no batch fanOut before the probe: measured 1.15× (A/B, r16;
        // the incrClusterStream adjudication) — micro-batch-sized
        // shingling does not pay for an exchange
        val hits = Dedup.crossDupAgainstIndex(
            batch, s.read.parquet(idxSh), s.read.parquet(idxBands))
          .select(col("d1").as("doc_id")).distinct()
        batch.join(hits, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"))
          // batchId-named segment: a replayed batch overwrites ITS OWN
          // segment, so the landing is idempotent without a merge
          .write.mode("overwrite").parquet(s"$bronze/batch_$batchId")
      }
      // recursive lookup over the batchId-named segments (a glob would
      // trip FileStreamSink's noisy metadata probe on the parent)
      val landed = spark.read
        .option("recursiveFileLookup", "true").parquet(bronze)
        .select(col("doc_id"), lit(true).as("landed"))
      pinTinyResult(spark, train.select(col("doc_id"), col("lang"))
        .join(landed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("landed"), lit(false)).as("landed")))
    }
  }

  /** Incremental near-dup CLUSTER maintenance — the dup-graph analog
    * of [[streamDecontamRun]]'s frozen-index gate. Production
    * pipelines maintain the duplicate graph as crawl batches arrive;
    * re-running connected components over the full corpus per batch
    * is the history rescan this operator exists to avoid.
    *
    * State, both persisted as parquet (at 100 TB: shared storage next
    * to the corpus):
    *  - the corpus BAND INDEX — each ingested batch appends its
    *    (shingles, banded-MinHash) rows as a batchId-named segment,
    *    the accumulating analog of the frozen eval index;
    *  - the LABEL table (doc_id, rep_id, cluster_size) — rewritten
    *    per batch as a new generation (the `x_incr_agg`
    *    write-new-then-swap pattern), so a reader never sees a
    *    half-merged state.
    *
    * Per AvailableNow micro-batch:
    *  1. probe the index of STRICTLY EARLIER batches with
    *     [[graft.operators.Dedup.crossDupAgainstIndex]] — O(|batch|
    *     shingles + band collisions), never |batch| × |corpus| — and
    *     find within-batch pairs with
    *     [[graft.operators.Dedup.nearDupMinHash]]. Their union is
    *     exactly the set of corpus pairs this batch introduces: pair
    *     (i, j) with batch(i) ≤ batch(j) is discovered once, when
    *     batch(j) lands (cross if earlier, within if equal).
    *  2. re-resolve labels over a BOUNDED FRONTIER: only components
    *     containing an endpoint of a new pair re-enter CC. Their star
    *     edges (member → representative — connectivity-equivalent to
    *     the original pair graph) plus the new pairs feed
    *     [[graft.operators.Dedup.clusters]]; every untouched
    *     component's rows carry over byte-identical. The delta graph
    *     is |touched members| + |new pairs| — bounded by the batch's
    *     dup fan-out, not by corpus history.
    *  3. land the merged labels as generation `batchId` and append
    *     the batch's index segment. The segment is written AFTER the
    *     probe and the probe reads only earlier segments, so a
    *     replayed batch neither probes itself nor duplicates its
    *     index rows — idempotent like the decontam gate's
    *     batchId-named bronze.
    *
    * Oracle: equality with the BATCH formulation (`x_dedup_cluster` —
    * CC over the whole corpus's MinHash pair graph). Star edges
    * preserve connectivity, min-id representatives agree under merge
    * (the min of a merged component is the min over all its members,
    * all of which are in the frontier), and sizes are recomputed
    * exactly for every touched component — the incremental ≡ batch
    * proof pattern of `x_ingest_scd` / `x_sim_ivf_refresh`. */
  def incrClusterRun(spark: SparkSession, sfDir: String): DataFrame =
    incrClusterMaintain(spark,
      graft.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")),
      nBatches = 3)

  /** The maintenance loop behind [[incrClusterRun]], parameterized so
    * the scale rehearsal can drive it over a synthetic corpus: `docs`
    * (doc_id, text) arrives as `nBatches` crawl batches split by
    * doc_id residue. Returns the final label generation, driver-pinned
    * (bounded by the docs-in-pairs roster) so the throwaway work dir
    * can be reclaimed. */
  private[graft] def incrClusterMaintain(
      spark: SparkSession, docs: DataFrame, nBatches: Int): DataFrame =
    StagedStream.reclaimed("graft_incrcc") { run =>
      incrClusterStage(docs, run, nBatches)
      incrClusterStream(spark, run)
    }

  /** Stage `docs` as `nBatches` crawl-batch files (one file per batch →
    * one micro-batch per trigger). Split out from the stream so the
    * scale rehearsal can stage once and time the maintenance loop
    * alone — the staging is test-input manufacture, not the operator. */
  private[graft] def incrClusterStage(
      docs: DataFrame, run: StagedStream, nBatches: Int): Unit =
    run.stage((0 until nBatches).map(r =>
      docs.filter(col("doc_id") % nBatches === r)))

  /** The maintenance loop alone, over a pre-staged run (see
    * [[incrClusterStage]]); each call drains under a fresh checkpoint,
    * so repeated calls over the same staged source re-run the full
    * loop.
    *
    * State is STREAM-CARRIED between micro-batches: the label
    * generation and the per-batch index segments live as
    * lineage-truncated frames ([[graft.operators.Lineage.truncate]] —
    * executor-resident localCheckpoint in a single JVM, the reliable
    * checkpoint directory on a cluster, i.e. shared storage exactly
    * where the old per-batch parquet round-trips would have gone, but
    * written/read ONCE per frame instead of one write job + one
    * re-read per consult). Both maps are keyed by batchId, so a
    * micro-batch replayed INSIDE ONE PROCESS overwrites its own entries
    * and probes only strictly-earlier segments. The maps live in driver
    * memory and the checkpoint records only source offsets, so a
    * restart from the checkpoint is NOT supported: the new process
    * would resume with empty maps and lose the earlier batches' labels
    * and segments (each call drains under a fresh checkpoint, so no
    * caller in this engine restarts one). The old label landing
    * was additionally a `coalesce(1)` parquet write per generation — a
    * 1-task write of a corpus-sized frame at production scale; the
    * truncated frame keeps the resolver's own partitioning. */
  private[graft] def incrClusterStream(
      spark: SparkSession, run: StagedStream): DataFrame = {
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val labelSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("rep_id", LongType),
      StructField("cluster_size", LongType)))
    def empty(s: SparkSession, schema: StructType): DataFrame = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // stream-carried state (see scaladoc): label generations and index
    // segments, batchId-keyed, every frame lineage-truncated
    val gens = scala.collection.mutable.TreeMap[Long, DataFrame]()
    val segs = scala.collection.mutable.TreeMap[Long, (DataFrame, DataFrame)]()
    run.drain(spark) { (batch, batchId) =>
      val s = batch.sparkSession
      // the micro-batch's CLONED session force-disables AQE (the
      // streaming plan can't re-plan mid-flight), but everything
      // this body runs is ordinary batch work over the landed
      // batch — probes, CC rounds, label joins — so re-enable it
      // for them (the batch formulation they must match runs with
      // it on; leaving it off was also A/B'd at 1.07× in r16)
      s.conf.set("spark.sql.adaptive.enabled", "true")
      // the batch is shingled and banded ONCE (eagerly truncated):
      // these two frames serve the within-batch pairs, the index
      // probe, AND the index segment carried below — the previous
      // three independent derivations re-shingled the batch per use
      // (measured at the 100× rehearsal as most of the per-batch
      // cost); they are also the schema source for the
      // earlier-segment union when no segment exists yet
      // NO fanOut on the batch before shingling: measured 1.20× (A/B,
      // r16) — the single-file micro-batch's shingle pass does not
      // amortize the added exchange at this batch size, unlike the
      // corpus-wide serial scans fanOut exists for
      val shB = graft.operators.Lineage.truncate(Dedup.shingles(batch))
      val bandsB = graft.operators.Lineage.truncate(
        Dedup.bandsFromShingles(shB))
      // strictly-earlier segments, already materialized: a union of
      // truncated leaves, no parquet read and no re-listing
      val earlierSegs = segs.rangeUntil(batchId).values.toSeq
      def earlier(pick: ((DataFrame, DataFrame)) => DataFrame,
          schema: StructType): DataFrame =
        if (earlierSegs.isEmpty) empty(s, schema)
        else earlierSegs.map(pick).reduce(_ unionByName _)
      // eager truncation, NOT persist: the pair set feeds many
      // downstream actions (endpoints, frontier, the CC loop's own
      // checkpointed rounds), and a cache lookup that misses re-runs
      // the probe + verify chain once per action; truncation makes
      // every consumer read the materialized partitions. The pair
      // count rides the SAME job as an observed aggregate: delta
      // below is empty iff newPairs is (starEdges derives from
      // newPairs via ends -> touched — zero pairs means zero
      // endpoints means zero frontier), so this one metric replaces
      // a per-batch delta.isEmpty action that re-ran the whole
      // frontier join just to test emptiness
      val (newPairs, mNP) = graft.operators.Lineage.truncateObserved(
        Dedup.pairsWithinAndAgainstIndex(shB, bandsB,
          earlier(_._1, shB.schema), earlier(_._2, bandsB.schema))
          .select(col("d1"), col("d2")),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val noNewPairs = mNP("n").asInstanceOf[Long] == 0L
      val prior = gens.rangeUntil(batchId).lastOption
        .map(_._2).getOrElse(empty(s, labelSchema))
      // the frontier frames only exist when the batch produced pairs
      // — on an empty batch the prior generation carries over as-is
      // and no frontier job runs at all
      val resolved = if (noNewPairs) prior else {
        val ends = newPairs.select(col("d1").as("doc_id"))
          .unionByName(newPairs.select(col("d2").as("doc_id"))).distinct()
        // touched is referenced three times (frontier, carry-over
        // anti-join) — tiny, truncate it too so each use is a read,
        // not a re-join
        val touched = graft.operators.Lineage.truncate(
          prior.join(ends, "doc_id").select(col("rep_id")).distinct())
        val starEdges = prior.join(touched, "rep_id")
          .filter(col("doc_id") =!= col("rep_id"))
          .select(col("doc_id").as("d1"), col("rep_id").as("d2"))
        val delta = newPairs.unionByName(starEdges)
        // truncated: the next batch reads this generation up to
        // three times (frontier join, carry-over anti-join) and the
        // final pin reads it once more — one materialization, in the
        // resolver's own partitioning (no coalesce(1) bottleneck)
        graft.operators.Lineage.truncate(
          prior.join(touched, Seq("rep_id"), "left_anti")
            .select("doc_id", "rep_id", "cluster_size")
            .unionByName(Dedup.clusters(delta)
              .select("doc_id", "rep_id", "cluster_size")))
      }
      gens(batchId) = resolved
      segs(batchId) = (shB, bandsB)
    }
    // pin on the CALLER's session (the carried frames live on the
    // stream's cloned session); the collect is bounded by the
    // docs-in-pairs roster, as before
    pinTinyResult(spark, gens.lastOption.map(_._2).getOrElse(empty(spark, labelSchema)))
  }

  /** Two-pass checkpointed ingest of the events table into a fresh
    * bronze dir: batch 0 (even event_ids) lands and drains via
    * AvailableNow; batch 1 (odd) lands; a RESTARTED pass with the same
    * checkpoint ingests only the new files. Returns the bronze path. */
  private def twoPassBronze(spark: SparkSession, sfDir: String): String = {
    val events = graft.Tables(spark, sfDir, "events")
    // the callers read bronze lazily: the dir lives until JVM exit
    val work = graft.operators.Maintenance.scratchDir("graft_ingest")
    val (src, bronze, ckpt) = (s"$work/src", s"$work/bronze", s"$work/ckpt")
    events.filter(col("event_id") % 2 === 0)
      .write.mode("append").parquet(src)
    ingestAvailableNow(spark, src, events.schema, bronze, ckpt)
    events.filter(col("event_id") % 2 =!= 0)
      .write.mode("append").parquet(src)
    ingestAvailableNow(spark, src, events.schema, bronze, ckpt)
    bronze
  }

  /** File-source stream over the events parquet (ns → µs timestamp
    * normalization applied, as in the batch [[graft.Tables]] loader). */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val staticSchema = spark.read.parquet(path).schema
    val stream = spark.readStream
      .schema(staticSchema)
      // the table is a single file: FileStreamSource needs a glob, not a
      // literal file path (a literal path must be a directory)
      .parquet(s"$sfDir/{events.parquet}")
    graft.Tables.normalizeTs(stream, "ts")
  }

  /** Shuffle partitions of a [[runToMemory]] run: every stateful
    * operator keeps one state store PER shuffle partition, and for a
    * bounded single-microbatch run each store's fixed commit cost
    * dominates (measured: the stream-stream join at sf0.1 ran 2.5×
    * faster at 8 partitions than 32, identical results). That cost was
    * not the store's rows: Hadoop's local filesystem started about 20
    * `chmod`/`ls`/`readlink` processes per store file it wrote, which
    * the session's [[graft.NioLocalFs]] no longer does (SCALING.md has
    * the per-store figure after that change). An unbounded production
    * query sizes partitions to throughput instead — this is the
    * bounded-harness setting. */
  private val MemoryRunPartitions = 8

  /** Run a bounded streaming query to a fresh memory sink and hand back
    * the sink table. Fixed per-name table: repeat calls replace it.
    * Shuffle partitions are scoped to [[MemoryRunPartitions]] for the
    * run and restored after. */
  private def runToMemory(
      spark: SparkSession,
      name: String,
      out: DataFrame,
      outputMode: String): DataFrame = {
    graft.Sessions.withConf(spark,
        "spark.sql.shuffle.partitions" -> MemoryRunPartitions.toString) {
      val q = out.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Declared-surface run of [[dedupWithinWatermark]]: the events stream
    * UNIONED WITH ITSELF (every event arrives exactly twice) flows
    * through watermarked dedup state — the output must be exactly one
    * copy per event_id, which a plain batch projection oracles. This
    * executes the real stateful path (two file sources, one microbatch,
    * state insert + duplicate hit per key) rather than a no-op pass. */
  def streamDedupRun(spark: SparkSession, sfDir: String): DataFrame = {
    val doubled = eventsStream(spark, sfDir)
      .union(eventsStream(spark, sfDir))
    val out = dedupWithinWatermark(doubled).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      Conventions.tsStr(col("ts")).as("ts_s"))
    runToMemory(spark, "graft_stream_dedup", out, "append")
  }

  /** Declared-surface run of [[runningUserTotals]] (custom keyed state
    * via flatMapGroupsWithState) over the bounded events stream: one
    * microbatch, so each user emits exactly one cumulative row — which
    * a per-user batch aggregate oracles (the cents accumulation is
    * bit-reproducible across engines). */
  def streamUserTotalsRun(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, "graft_stream_state",
      runningUserTotals(spark, eventsStream(spark, sfDir)), "append")

  /** Stream-stream inner join with event-time bounds — the remaining
    * major Structured Streaming surface: two watermarked event streams
    * joined on user_id with `b.ts ∈ [a.ts, a.ts + 10 min]`. The time
    * bound is what lets Spark EVICT join state (without it both sides
    * buffer forever); with one bounded microbatch the result equals the
    * equivalent batch join, which is the oracle. */
  def streamStreamJoinRun(spark: SparkSession, sfDir: String): DataFrame = {
    val a = eventsStream(spark, sfDir).select(
      col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts"), col("event_type").as("a_type"))
      .withWatermark("a_ts", "1 hour")
    val b = eventsStream(spark, sfDir).select(
      col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("user_id"), col("a_type"),
        Conventions.tsStr(col("a_ts")).as("a_ts_s"),
        Conventions.tsStr(col("b_ts")).as("b_ts_s"))
    runToMemory(spark, "graft_stream_join", joined, "append")
  }

  /** Stream-stream LEFT OUTER join with event-time bounds — the outer
    * complement of [[streamStreamJoinRun]], which makes the state
    * EVICTION contract observable in the result: an unmatched a-side
    * row is null-padded and emitted only once the watermark proves no
    * matching b can still arrive. With one bounded data batch the
    * watermark advances to max(ts) - 1h afterwards, and the trailing
    * no-data microbatch evicts (= emits) exactly the unmatched rows
    * whose full match window has passed: a_ts + 10 min < watermark.
    * Matched rows equal the inner join; the whole output is therefore
    * batch-expressible — LEFT JOIN plus that eviction predicate on the
    * null-extended rows — which is the oracle. Rows still inside the
    * watermark horizon stay IN STATE (correct streaming semantics: a
    * match could still arrive), so they appear in neither branch. */
  def streamStreamLeftJoinRun(spark: SparkSession, sfDir: String): DataFrame =
    boundedOuterJoinRun(spark, sfDir, "leftOuter", "graft_stream_join_outer")

  /** FULL OUTER variant: BOTH sides' evictions become null-padded rows
    * — unmatched a when `a_ts + 10 min < watermark` (its whole match
    * window has passed), unmatched b when `b_ts < watermark` (any
    * future a has `a_ts ≥ watermark > b_ts`, violating
    * `b_ts ≥ a_ts`). Completes the streaming join-type coverage; same
    * batch-expressible oracle structure as the left form. */
  def streamStreamFullJoinRun(spark: SparkSession, sfDir: String): DataFrame =
    boundedOuterJoinRun(spark, sfDir, "fullOuter", "graft_stream_join_full")

  private def boundedOuterJoinRun(
      spark: SparkSession, sfDir: String,
      joinType: String, sinkName: String): DataFrame = {
    val a = eventsStream(spark, sfDir).select(
      col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts"), col("event_type").as("a_type"))
      .withWatermark("a_ts", "1 hour")
    val b = eventsStream(spark, sfDir).select(
      col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = a.join(b,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES") &&
        col("a_id") < col("b_id"),
      joinType)
      // coalesce: a b-only (full-outer) row still shows its join key;
      // identity for matched and a-only rows
      .select(col("a_id"), col("b_id"),
        coalesce(col("user_id"), col("b_user")).as("user_id"),
        col("a_type"),
        Conventions.tsStr(col("a_ts")).as("a_ts_s"),
        Conventions.tsStr(col("b_ts")).as("b_ts_s"))
    runToMemory(spark, sinkName, joined, "append")
  }

  /** Declared-surface run of [[highWaterMarks]] — the MODERN arbitrary-
    * state API (`transformWithState` + `StatefulProcessor`, which
    * requires the RocksDB state store; the provider conf is scoped to
    * this query and restored after). One microbatch ⇒ each user's
    * high-water mark is its batch max, so a per-user max aggregate
    * oracles the output exactly. */
  def streamHighWaterRun(spark: SparkSession, sfDir: String): DataFrame =
    graft.Sessions.withConf(spark, rocksDbStateStore)(
      runToMemory(spark, "graft_stream_hwm",
        highWaterMarks(spark, eventsStream(spark, sfDir)), "append"))

  /** The RocksDB state store provider that `transformWithState`
    * requires, as a [[graft.Sessions.withConf]] pair. */
  private[graft] val rocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Stream-STATIC join — the remaining Structured Streaming join
    * surface after inner/left/full stream-stream: the event stream
    * joins a static dimension (here the dense event-type dim derived
    * from the batch table). Stateless by construction — the static
    * side broadcasts into every microbatch, no state store and no
    * watermark requirement — which is exactly why it is the FIRST
    * enrichment tool to reach for on a stream; the stream-stream
    * forms exist for when both sides move. One bounded microbatch ⇒
    * row-identical to the batch join, which is the oracle. */
  def streamStaticJoinRun(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables(spark, sfDir, "events")
      .select(col("event_type")).distinct()
      .select(col("event_type"),
        (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("event_type"))
          - 1).cast("long").as("et_id"))
    val out = eventsStream(spark, sfDir)
      .join(broadcast(dim), Seq("event_type"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("et_id"), Conventions.tsStr(col("ts")).as("ts_s"), col("value"))
    runToMemory(spark, "graft_stream_static", out, "append")
  }

  /** Declared-surface run of [[timerSessions]]: bounded events stream,
    * one data batch registers the timers, the trailing no-data batch
    * (watermark = max ts - 1 h) fires them — emitting exactly the
    * sessions whose close time is behind the final watermark, which
    * the gaps-and-islands batch oracle re-derives with the same
    * closed-before-watermark filter. Sessions still inside the horizon
    * stay in state and are absent, the same observable-eviction
    * contract as the outer stream joins. */
  def streamTimerSessionRun(spark: SparkSession, sfDir: String): DataFrame =
    graft.Sessions.withConf(spark, rocksDbStateStore) {
      val out = timerSessions(spark, eventsStream(spark, sfDir))
        .select(col("user_id"),
          Conventions.tsStr(timestamp_micros(col("s_start_us"))).as("s_start"),
          Conventions.tsStr(timestamp_micros(col("s_end_us"))).as("s_end"),
          col("n"))
      runToMemory(spark, "graft_stream_session_timer", out, "append")
    }

  /** Watermark eviction made DETERMINISTIC and therefore batch-oracle
    * checkable — the append-mode late-data query that was previously the
    * inventory's one rows-only check.
    *
    * The events table is split into two single-file microbatches whose
    * processing order is pinned (distinct mtimes + `maxFilesPerTrigger=1`
    * under the default microbatch trigger — FileStreamSource admits
    * oldest-mtime first, one file per batch; `Trigger.AvailableNow`
    * would NOT work here: this Spark build coalesces all available
    * files into one batch under it, collapsing the trajectory):
    *
    *   - file A (arrives first): every event EXCEPT the late slice
    *     `[max_ts - 10 h, max_ts - 8 h)`. A contains the global max, so
    *     after microbatch A the watermark is final: `max_ts - 1 h`.
    *   - file M (arrives second): EMPTY. Its batch runs with eviction
    *     watermark `max_ts - 1 h` and emits (append mode) exactly the
    *     closed windows with file-A-only counts. The marker batch is
    *     load-bearing: since SPARK-40925 (3.4+), LATE-EVENT filtering
    *     uses the PREVIOUS batch's watermark while eviction uses the
    *     current one — a late row arriving in the first post-advance
    *     batch would still be merged into state right before eviction
    *     and counted. One empty batch in between puts the advanced
    *     watermark on the late-filter side too.
    *   - file B (arrives third): the late slice. Every B row's window
    *     ends by `max_ts - 7 h`, far behind the late-event watermark,
    *     so the aggregation DROPS all of B; its evicted windows were
    *     already emitted and never re-emit.
    *
    * The result is therefore: closed windows (end behind the final
    * watermark) with on-time counts; the dropped slice and the withheld
    * still-open tail are both visible. The whole trajectory is a pure
    * function of the input table, so the DuckDB oracle recomputes it as
    * a filter (`NOT slice AND window_end <= max_ts - 1 h`). Max ts is
    * not hour-aligned in any test SF, so no window end ever equals the
    * watermark and the closure boundary is operator-insensitive.
    *
    * The `repartition(1)` single-file writes are the bounded-harness
    * shape (same as [[twoPassBronze]]): production ingest would land
    * many files per batch and the watermark would be managed by arrival
    * time, not pinned order. Multi-batch eviction over unbounded input
    * is additionally pinned by StreamingSpec's MemoryStream tests. */
  def lateDataWindowed(spark: SparkSession, sfDir: String): DataFrame = {
    val (src, schema) = lateDataSrc.computeIfAbsent(sfDir, _ => {
      // one parquet scan serves all four consumers (max-ts probe, the
      // on-time file, the empty marker, the late file) — unpersisted in
      // the finally: the stream below reads the written FILES, so the
      // cache's only life is the setup phase
      val events = graft.Tables(spark, sfDir, "events")
        .select(col("ts"), col("event_type"))
        .persist()
      // staged only (the drain is the memory-sink run below); the dir
      // is cached for the JVM's lifetime, so it lives until JVM exit
      val run = StagedStream.lasting("graft_late")
      try {
        val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
        val slice = col("ts") >= lit(maxTs) - expr("INTERVAL 10 HOURS") &&
          col("ts") < lit(maxTs) - expr("INTERVAL 8 HOURS")
        // on-time file, empty marker, late file — in that order
        run.stage(Seq(
          events.filter(!slice), events.limit(0), events.filter(slice)))
      } finally events.unpersist()
      (run.src, events.schema)
    })
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        Conventions.tsStr(col("window.start")).as("w_start"),
        col("event_type"), col("n"))
    runToMemory(spark, "graft_latedata", stream, "append")
  }

  /** JVM-scope cache of [[lateDataWindowed]]'s staged source directory,
    * keyed by sfDir: the three pinned-mtime files are a pure function of
    * the events table, so repeat invocations (bench steady-state runs,
    * repeated verify calls) re-run only the MEASURED part — the
    * watermark-trajectory streaming query — not the harness's temp-file
    * staging. Same trick and same immutability assumption as
    * [[graft.operators.SimilaritySearch]]'s trained-model cache: the
    * files under sfDir must not change for the JVM's lifetime. */
  private val lateDataSrc = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** Write `df` as ONE parquet file at `dest` with a pinned mtime, so a
    * file-source stream's admission order (oldest mtime first) is
    * deterministic. Bounded-harness helper: the repartition(1) is the
    * point (one file = one microbatch), not a scale pattern. */
  private def writeSingleFile(
      df: DataFrame, dest: String, mtimeMs: Long): Unit = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_late_part").toString
    try {
      df.repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dest),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(dest),
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    } finally graft.operators.Maintenance.deleteRecursively(tmp) // the _SUCCESS marker and .crc files
  }
}
