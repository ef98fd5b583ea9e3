package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark driver: one client thread, each call starting when
  * the previous one returns.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inDir> <workDir> <out.json> [trace.json]
  *
  * Set-up is one warm-up pass in declared order that writes every call's
  * output as parquet under `<workDir>/check` for the output checks; it also
  * fills codegen and JIT and stages the harness inputs. Timed passes then
  * run in a seed-drawn order until `seconds` have elapsed. With trace on,
  * untraced and traced passes alternate, so one run yields both the
  * per-layer counts and the tracing overhead. Raw records go to
  * `out.json`; the metrics are computed from them by run.py.
  */
object Main {

  final case class CallRec(
      name: String, layer: String, startMs: Long, endMs: Long, wallS: Double,
      constructS: Double, writeBytes: Long, error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inDir, workDir, outPath) =
      args.take(7)
    val tracePath = args.lift(7)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val calls = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val inputs = Inputs(inDir, s"$inDir/matches.jsonl")
    val selfTestFails = SelfTest.run()

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.Sessions.localBuilder(cpus)
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val batches = new BatchRecorder
    spark.streams.addListener(batches)
    val jobs = new JobRecorder
    val plans = new PlanRecorder
    val sessionS = (System.nanoTime() - t0) / 1e9

    def settle(traced: Boolean): Boolean =
      if (traced)
        Settle.await(() => jobs.eventCount + plans.eventCount + batches.eventCount,
          () => jobs.openJobs)
      else Settle.await(() => batches.eventCount, () => 0)

    def drain(c: Call, df: DataFrame, frame: String, checkDir: Option[String]): Unit =
      checkDir match {
        case Some(dir) =>
          df.write.mode("overwrite").parquet(s"$dir/${c.name}/$frame")
        case None if c.durable =>
          df.write.mode("overwrite").parquet(s"$workDir/star/$frame")
        case None =>
          df.write.mode("overwrite").format("noop").save()
      }

    def runCall(c: Call, checkDir: Option[String]): CallRec = {
      val startMs = System.currentTimeMillis()
      val io0 = ProcStats.writeBytes()
      val c0 = System.nanoTime()
      var constructS = 0.0
      val error = try {
        val frames = c.frames(spark, inputs)
        constructS = (System.nanoTime() - c0) / 1e9
        frames.foreach { case (frame, df) => drain(c, df, frame, checkDir) }
        None
      } catch {
        case t: Throwable =>
          spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
          Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(400)}")
      }
      val wallS = (System.nanoTime() - c0) / 1e9
      val rec = CallRec(c.name, c.layer, startMs, System.currentTimeMillis(),
        wallS, constructS, ProcStats.writeBytes() - io0, error)
      spark.catalog.clearCache() // operator-persisted frames: bound memory
      rec
    }

    // ---- set-up: warm-up pass, capturing outputs for the checks --------
    val w0 = System.nanoTime()
    val checkRecs = calls.map(runCall(_, Some(s"$workDir/check")))
    val warmS = (System.nanoTime() - w0) / 1e9
    settle(traced = false)

    // ---- timed passes --------------------------------------------------
    val passes = mutable.ArrayBuffer[Json.Raw]()
    val spans = mutable.ArrayBuffer[Json.Raw]()
    val traceId = java.util.UUID.randomUUID().toString
    var spanSeq = 0L
    def span(parent: Long, kind: String, name: String, layer: String,
        s: Long, e: Long): Long = {
      spanSeq += 1
      spans += Json.obj("trace_id" -> traceId, "span_id" -> spanSeq,
        "parent_id" -> parent, "kind" -> kind, "name" -> name,
        "layer" -> layer, "start_ms" -> s, "end_ms" -> e)
      spanSeq
    }
    var settleTimeouts = 0
    val m0 = System.nanoTime()
    var idx = 0
    // At least three passes, so `pass_s` is a true median: JIT warming goes
    // on through the first timed pass, and the median leaves it out. A
    // traced run alternates untraced and traced passes as U T T U, so that
    // warming lands on both sides.
    val minPasses = if (trace) 4 else 3
    while (idx < minPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      val traced = trace && (idx % 4 == 1 || idx % 4 == 2)
      if (traced) {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
      }
      val order = new scala.util.Random(new java.util.Random(seed * 1000003L + idx))
        .shuffle(calls)
      val io0 = ProcStats.writeBytes()
      val p0 = System.nanoTime()
      val passStart = System.currentTimeMillis()
      val recs = order.map(runCall(_, None))
      val passS = (System.nanoTime() - p0) / 1e9
      val passWrite = ProcStats.writeBytes() - io0
      if (!settle(traced)) settleTimeouts += 1
      if (traced) {
        spark.sparkContext.removeSparkListener(jobs)
        spark.listenerManager.unregister(plans)
      }
      val passSpan =
        if (traced) span(0, "pass", s"pass$idx", "", passStart, recs.last.endMs) else 0L
      val callJson = recs.map { r =>
        val b = batches.batchesIn(r.startMs, r.endMs)
        val base = Seq[(String, Any)](
          "name" -> r.name, "layer" -> r.layer, "wall_s" -> r.wallS,
          "construct_s" -> r.constructS, "write_bytes" -> r.writeBytes,
          "error" -> r.error.orNull,
          "batches" -> b.map(x => Json.obj("trigger_ms" -> x.triggerMs,
            "wal_ms" -> x.walMs, "state_commit_ms" -> x.stateCommitMs,
            "state_rows" -> x.stateRows)))
        val extra: Seq[(String, Any)] = if (!traced) Nil else {
          val js = jobs.jobsIn(r.startMs, r.endMs)
          val callSpan = span(passSpan, "call", r.name, r.layer, r.startMs, r.endMs)
          js.foreach(j => span(callSpan, "job", s"job${j.id}", r.layer, j.start,
            if (j.end < 0) r.endMs else j.end))
          val intervals = js.map(j => (j.start, if (j.end < 0) r.endMs else j.end))
          val covered = Intervals.covered(intervals, r.startMs, r.endMs)
          val aggs = jobs.stagesRunBy(js)
          val (stages, skipped) = jobs.stageCounts(js)
          Seq("jobs" -> js.size,
            "tasks" -> aggs.map(_.tasks).sum,
            "executor_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
            "gc_s" -> aggs.map(_.gcMs).sum / 1e3,
            "shuffle_bytes" -> aggs.map(_.shuffleWrite).sum,
            "spill_bytes" -> aggs.map(_.spill).sum,
            "sched_delay_s" -> aggs.map(_.schedDelayMs).sum / 1e3,
            "stages" -> stages, "stages_skipped" -> skipped,
            "plan_s" -> plans.finalPlanMs(r.startMs, r.endMs) / 1e3,
            "driver_gap_s" -> (r.endMs - r.startMs - covered) / 1e3)
        }
        Json.obj(base ++ extra: _*)
      }
      passes += Json.obj("index" -> idx, "traced" -> traced, "wall_s" -> passS,
        "write_bytes" -> passWrite, "calls" -> callJson)
      idx += 1
    }

    val checkJson = checkRecs.map(r => Json.obj("name" -> r.name,
      "layer" -> r.layer, "error" -> r.error.orNull))
    val oracle = calls.flatMap(c => graft.SparkEntry.oracleSql.get(c.name).map(c.name -> _))
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "session_s" -> sessionS,
      "warm_s" -> warmS, "checks" -> checkJson, "passes" -> passes.toSeq,
      "settle_timeouts" -> settleTimeouts, "selftest_failures" -> selfTestFails,
      "vm_hwm_kb" -> ProcStats.vmHwmKb(),
      "oracle_sql" -> Json.obj(oracle: _*), "trace_id" -> traceId)
    Files.write(Paths.get(outPath), result.s.getBytes(StandardCharsets.UTF_8))
    tracePath.filter(_ => trace).foreach { p =>
      Files.write(Paths.get(p), spans.map(_.s).mkString("[", ",\n", "]").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}

/** Process-level counters read from /proc. */
object ProcStats {
  private def field(file: String, key: String): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  /** Bytes this JVM has passed to write calls (`wchar` of `/proc/self/io`).
    * The kernel's `write_bytes` counts a page once per writeback, so how
    * often a rewritten file counts depends on the host's writeback timing;
    * `wchar` counts what the engine writes, every time it writes it. */
  def writeBytes(): Long = field("/proc/self/io", "wchar:")

  /** Peak resident set size of this JVM, kB. */
  def vmHwmKb(): Long = field("/proc/self/status", "VmHWM:")
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {

  /** Already-rendered JSON. */
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
