package graft.tools

import org.apache.spark.sql.SparkSession

/** Measurement probes for per-query optimization work — NOT part of
  * the driver contract. Each mode prints what one kind of decision
  * needs (per-batch streaming progress, job counts, a job trace, a
  * host-speed canary, manifest read scaling, an executed plan), so
  * plan decisions are made on measurement, not guesses. A one-off
  * experiment is deleted once decided: its verdict is recorded in
  * SCALING.md or the OPTIMIZATION logs, not kept here as dead code.
  *
  *   sbt "runMain graft.tools.Probe <mode> [args...]"
  *
  * The input scale is `SPARK_GRAFT_SF_DIR` (default sf0.1). */
object Probe {

  private val modes: Seq[(String, (SparkSession, String, Array[String]) => Unit)] = Seq(
    "streamprofile" -> streamProfile,
    "jobcount" -> jobCount,
    "jobtrace" -> jobTrace,
    "hostcanary" -> hostCanary,
    "manifestscale" -> manifestScale,
    "queryplan" -> queryPlan)

  def main(args: Array[String]): Unit = {
    val run = modes.toMap.getOrElse(args.headOption.getOrElse(""), {
      System.err.println(
        s"usage: Probe <${modes.map(_._1).mkString("|")}> [args...]")
      sys.exit(2)
    })
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.localBuilder("32")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, args) finally spark.stop()
  }

  /** Declared query `name` executed into the noop sink. */
  private def runQuery(spark: SparkSession, sfDir: String, name: String): Unit =
    graft.SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()

  /** Micro-batch anatomy of a bounded streaming query: per-batch
    * durationMs breakdown (trigger, addBatch, state commit) straight
    * from StreamingQueryProgress — where the seconds of a
    * state-store-bound query actually go. `Probe streamprofile
    * x_stream_join_full` runs the named registry query twice (cold +
    * steady) and prints every batch's progress line. */
  private def streamProfile(
      spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val qname = args(1)
    (1 to 2).foreach { rep =>
      val (_, cap) = graft.Capture.during(spark)(runQuery(spark, sfDir, qname))
      cap.progress.foreach { p =>
        println(s"[streamprofile] batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=${p.durationMs} " +
          s"stateOps=${p.stateOperators.map(s =>
            s"rowsTotal=${s.numRowsTotal} commitMs=${s.commitTimeMs}")
            .mkString(";")}")
      }
      println(f"[streamprofile] rep $rep total ${cap.secs}%.2f s")
    }
  }

  /** Fixed-overhead census: Spark JOB and task counts per declared
    * query, one warm execution each. A query whose time is "many tiny
    * jobs" (collects, per-operation metadata work, iterative loops)
    * amplifies per-job fixed cost that plan shape can't show — the
    * signal that found the maintenance-family metadata jobs. A failed
    * query prints jobs=-1, is left out of the TOTAL sums and counted
    * in its `failed=`. Usage: `Probe jobcount [substr]` (optional name
    * filter). */
  private def jobCount(
      spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val filter = args.lift(1).getOrElse("")
    val rows = graft.SparkEntry.queries.keys.toSeq.filter(_.contains(filter)).map { name =>
      // warm pass (codegen/JIT) at the same dir, untimed and uncounted
      try runQuery(spark, sfDir, name) catch { case _: Throwable => () }
      spark.catalog.clearCache()
      val (ok, cap) = graft.Capture.during(spark) {
        try { runQuery(spark, sfDir, name); true } catch { case _: Throwable => false }
      }
      spark.catalog.clearCache()
      (name, if (ok) cap.jobs.size else -1, cap.jobs.map(_.tasks).sum, cap.secs)
    }
    rows.sortBy(-_._2).foreach { case (n, j, k, s) =>
      println(f"[jobcount] $n%-28s jobs=$j%4d tasks=$k%6d sec=$s%7.2f")
    }
    val done = rows.filter(_._2 >= 0)
    println(f"[jobcount] TOTAL queries=${rows.size} jobs=${done.map(_._2).sum} sec=${done.map(_._4).sum}%.1f failed=${rows.size - done.size}")
  }

  /** Job-level anatomy of ONE query: every Spark job's id, duration,
    * task count and call site, in order, for a warm execution. Shows
    * where a high-jobcount query's jobs come from (AQE stages,
    * checkpoints, collects, loop rounds); ms=-1 marks a job still
    * running when the query returned. Usage: `Probe jobtrace <query>`. */
  private def jobTrace(
      spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val qname = args(1)
    // warm pass
    try runQuery(spark, sfDir, qname) catch { case _: Throwable => () }
    spark.catalog.clearCache()
    val (_, cap) = graft.Capture.during(spark)(runQuery(spark, sfDir, qname))
    cap.jobs.foreach { j =>
      println(f"[jobtrace] job=${j.id}%4d t0=${j.start}%d " +
        f"ms=${j.end.fold(-1L)(_ - j.start)}%6d tasks=${j.tasks}%5d site=${j.site}")
    }
    println(f"[jobtrace] $qname total ${cap.secs}%.2f s, ${cap.jobs.size} jobs")
  }

  /** Host-speed canary: a DETERMINISTIC synthetic workload with zero
    * testdata dependence, recorded next to every committed bench merge
    * (`tools/merge_bench.py --canary`) so cross-round wall-clock
    * comparisons can separate "the code got slower" from "this round's
    * host is slower". Three numbers, each min-of-3:
    *  - canary_st: single-thread JVM arithmetic (xxhash-style mix over
    *    a fixed loop) — pins per-core speed, the dominant factor in
    *    per-query steady times at this data scale;
    *  - canary_mt: a fixed 32-slot Spark aggregate over range(200M)
    *    (hash-partial + exchange + final) — pins the whole-machine
    *    throughput the bench totals actually ride on;
    *  - canary_io: the storage axis (see below).
    * The cold/steady contracts in BASELINE.md are evaluated against the
    * settlement host's canary (first recorded in BENCH_LOCAL_r13.json);
    * later rounds scale the target by the measured canary ratio. */
  private def hostCanary(
      spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    def minOf3(f: () => Unit): Double =
      (0 until 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min
    val st = minOf3 { () =>
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 400000000L) {
        h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 31); i += 1
      }
      // fold the result into a side effect the JIT cannot elide
      if (h == 42L) println("")
    }
    val mt = minOf3 { () =>
      spark.range(0L, 200000000L, 1L, 32)
        .selectExpr("xxhash64(id) % 1024 AS k")
        .groupBy("k").count()
        .write.mode("overwrite").format("noop").save()
    }
    // round-14 finding: a window can read CPU-parity on st/mt yet
    // run the suite 1.2-1.5x slow — the bench is parquet-I/O-heavy
    // (every query scans sf0.1 tables; temp writes throughout) while
    // both CPU legs are storage-blind. canary_io pins the storage
    // axis: write a fixed ~60M-row two-column parquet to the OS
    // tmpdir, drop the page cache's help by reading it back with a
    // full-column aggregate, delete it. min-of-3 like the others.
    val ioDir = java.nio.file.Files
      .createTempDirectory("graft_canary_io").toString
    val io = minOf3 { () =>
      val d = s"$ioDir/t"
      spark.range(0L, 60000000L, 1L, 32)
        .selectExpr("id", "xxhash64(id) AS h")
        .write.mode("overwrite").parquet(d)
      spark.read.parquet(d)
        // bit_xor cannot overflow under ANSI (a raw sum of
        // full-range longs does) and still touches every value
        .selectExpr("bit_xor(h) AS s", "count(1) AS n")
        .write.mode("overwrite").format("noop").save()
    }
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(ioDir), true)
    println(f"""{"canary_st":$st%.3f,"canary_mt":$mt%.3f,"canary_io":$io%.3f}""")
  }

  /** The commit log's own scale limit: without checkpointing, a
    * generational table's manifest grows one parquet FILE per commit
    * and every manifest read pays O(commits) file opens — this probe
    * measures the real path (auto-checkpoint at 64 files) at commit
    * 150 of a long-lived table, then measures the counterfactual's
    * read cost a decade apart (150 vs 1500 unchecked one-row files,
    * the extra 1350 manufactured by driver-side file copy) so the
    * O(files) read growth is a measured slope, not an assertion. */
  private def manifestScale(
      spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    import graft.operators.Maintenance
    import org.apache.spark.sql.functions._
    val work = Maintenance.scratchDir("graft_manifestscale")
    def now() = System.nanoTime()
    def f(s: Double): Double = math.round(s * 1000) / 1000.0
    // real path: 150 commits, appender auto-checkpoints
    val root = s"$work/table"
    val t0 = now()
    (1 to 150).foreach { i =>
      Maintenance.commit(spark, root,
        spark.range(i, i + 1).select(col("id").as("k")))
    }
    val tCommits = (now() - t0) / 1e9
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/_manifest"))
      .count(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val t1 = now()
    val nRows = Maintenance.manifest(spark, root).collect().length
    val tRead = (now() - t1) / 1e9
    require(nRows == 150, s"history must survive checkpoints: $nRows")
    // counterfactual: the same 150 appends, never checkpointed
    val raw = s"$work/unchecked"
    (1 to 150).foreach { i =>
      spark.range(i, i + 1).select(col("id").as("k"))
        .coalesce(1).write.mode("append").parquet(raw)
    }
    val t2 = now()
    val nRaw = spark.read.parquet(raw).collect().length
    val tRawRead = (now() - t2) / 1e9
    require(nRaw == 150)
    // a decade further: 1500 unchecked files (copies of the first
    // data file — read cost depends on file COUNT, not content)
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val src = fs.listStatus(new HPath(raw))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    (1 to 1350).foreach { i =>
      FileUtil.copy(fs, src, fs,
        new HPath(raw, s"part-copy$i.snappy.parquet"), false, conf)
    }
    val t3 = now()
    val nRaw10 = spark.read.parquet(raw).collect().length
    val tRawRead10 = (now() - t3) / 1e9
    require(nRaw10 == 1500)
    println(
      s"""{"probe":"manifestscale","commits":150,""" +
      s""""manifest_files":$nFiles,"read_sec":${f(tRead)},""" +
      s""""unchecked_files":150,"unchecked_read_sec":${f(tRawRead)},""" +
      s""""unchecked_files_10x":1500,""" +
      s""""unchecked_read_sec_10x":${f(tRawRead10)},""" +
      s""""commits_sec":${f(tCommits)}}""")
  }

  /** The EXECUTED (post-AQE) plan of any registry query in a fresh JVM
    * — `Probe queryplan x_pipeline_prepare [out]` — printing its node
    * metrics, for cross-JVM plan-stability checks. */
  private def queryPlan(
      spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val qname = args(1)
    val (_, cap) = graft.Capture.during(spark)(runQuery(spark, sfDir, qname))
    cap.executions.lastOption match {
      case None => println("[probe] no executed plan captured")
      case Some(qe) =>
        val plan = qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        println("[probe] metrics=" + graft.Bench.planMetrics(plan))
        // optional third arg: write the full executed (AQE-final) plan to
        // a file — the per-query before/after evidence the optimization
        // rounds commit under plans/
        args.lift(2).foreach { out =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out), plan)
          println(s"[probe] plan written to $out")
        }
    }
  }
}
