package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Benchmark main. Runs every declared query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query wall
  * seconds plus plan-shape metrics.
  *
  * Methodology (review findings from rounds 1-2):
  *
  *   - Queries are consumed through the `noop` DataSourceV2 sink, not
  *     `.count()`. Under count Catalyst is free to drop the final sort
  *     and narrow projections, so ORDER BY cost was under-measured;
  *     a write executes the full plan and materializes every column
  *     while still discarding rows executor-side (no driver collect).
  *   - Each query executes TWICE and reports the per-query minimum
  *     (steady state). Back-to-back full runs on this co-tenant host
  *     showed a 13-15 s stop-the-world stall landing on a *different*
  *     query every run (r_agg_rollup 14.8 s then 1.5 s; r_agg_cube
  *     2.6 s then 15.7 s) — one-off JIT/GC/host noise, not plan cost.
  *     The single-execution sum is still reported as `cold_total` for
  *     transparency.
  *   - Each query also reports node counts from its post-execution
  *     (AQE-final) physical plan: parquet scans, shuffle exchanges,
  *     broadcast exchanges, and cartesian/nested-loop joins. Plan
  *     shape is the stable signal on a noisy shared host — a
  *     regression from 1 exchange to 3 is visible even when
  *     wall-clock jitter is ±30%.
  */
object Bench {

  /** Node counts parsed from the formatted explain of an executed
    * plan. Formatted mode prints one numbered line per operator
    * ("(3) Exchange"); an EXECUTED adaptive plan additionally renders
    * the tree twice (`== Final Plan ==` then `== Initial Plan ==`) with
    * distinct operator ids, so counting every detail line would double
    * (or, when AQE re-planned, misreport) the metrics. We therefore
    * restrict the detail-line count to operator ids that appear in the
    * final-plan tree section. */
  private[graft] def planMetrics(plan: String): Map[String, Int] = {
    // tree section of the plan we actually ran: everything before the
    // initial-plan copy (whole text when there is no AQE split)
    val finalTree = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i  => plan.substring(0, i)
    }
    val treeLines = finalTree.linesIterator
      .filterNot(_.trim.matches("""^\(\d+\) .*""")) // drop detail lines
      .toSeq
    val idRe = """\((\d+)\)""".r
    val finalIds = treeLines
      .flatMap(l => idRe.findAllMatchIn(l).map(_.group(1).toInt)).toSet
    val opLines = plan.linesIterator
      .map(_.trim)
      .filter(_.matches("""^\(\d+\) .*"""))
      .filter { l =>
        val id = l.drop(1).takeWhile(_.isDigit)
        id.nonEmpty && finalIds.contains(id.toInt)
      }
      .toSeq
    def count(p: String) = opLines.count(_.matches(s"""^\\(\\d+\\) $p.*"""))
    Map(
      "scans" -> count("(Scan|BatchScan)"),
      "exchanges" -> count("Exchange"),
      "broadcasts" -> count("BroadcastExchange"),
      // true O(n*m) pairing — must stay 0 everywhere
      "cartesian" -> count("CartesianProduct"),
      // broadcast-NLJ: linear in the streamed side; legitimate for
      // deliberate tiny-side grids (brute-force ANN baseline, lang-ID
      // profiles, IVF centroid assignment), a bug anywhere else
      "bnlj" -> count("BroadcastNestedLoopJoin"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.localBuilder(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def consume(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warm up the JVM/codegen and the common table reads so startup cost
    // doesn't land on whichever query happens to run first
    try consume(SparkEntry.queries("f_star_join")(spark, sfDir))
    catch { case _: Throwable => () }

    // optional comma-separated subset for local iteration, e.g.
    // SPARK_GRAFT_BENCH_ONLY=r_scd2_chain,x_dedup_simhash
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }

    // Per-query codegen/JIT warm-up at the SMOKE scale: round-7 driver
    // runs measured ~0.73 s/query of pure first-execution cost
    // (cold_total 334.6 s vs steady 203.1 s) — whole-stage codegen
    // compilation and JIT, which are JVM state, not plan cost. One
    // sf0.001 pass compiles the same generated classes on negligible
    // data, so the first timed execution no longer pays them. Skipped
    // when the smoke dir is absent (or when it IS the bench dir).
    // Disable with SPARK_GRAFT_BENCH_NOWARM=1 to measure true cold.
    // SPARK_GRAFT_BENCH_WARMDIR picks the warm-up scale: sf0.001
    // default (negligible data, compiles most generated classes); a
    // larger warm dir (sf0.01) additionally exercises the AQE runtime
    // re-plans closer to the bench scale's — the round-11 cold_total
    // experiment's knob.
    val warmDir = sys.env.get("SPARK_GRAFT_BENCH_WARMDIR")
      .map(java.nio.file.Paths.get(_).toAbsolutePath) orElse
      (java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent match {
        case null => None
        case p    => Some(p.resolve("sf0.001"))
      })
    // recorded in the JSON: a cold_total measured after warm-up is a
    // different protocol than a true-cold one (round-7 334.6 s vs
    // round-8 210.7 s compared across that change), so the snapshot
    // must say which it was
    val warmed = !sys.env.contains("SPARK_GRAFT_BENCH_NOWARM") &&
      (warmDir match {
        // path identity, not string equality: a trailing slash or a
        // symlinked sfDir must not defeat the "warm dir IS the bench
        // dir" guard. isSameFile requires BOTH paths to exist when
        // they are unequal — a missing sfDir must surface as per-query
        // FAILED entries downstream, not as a NoSuchFileException here
        case Some(wd) =>
          val sfPath = java.nio.file.Paths.get(sfDir).toAbsolutePath
          java.nio.file.Files.isDirectory(wd) &&
            (if (java.nio.file.Files.exists(sfPath))
              !java.nio.file.Files.isSameFile(wd, sfPath)
            else wd.normalize() != sfPath.normalize())
        case None => false
      })
    if (warmed) {
      val wd = warmDir.get
      selected.foreach { case (_, fn) =>
        try consume(fn(spark, wd.toString))
        catch { case _: Throwable => () }
      }
      spark.catalog.clearCache()
    }
    val results = selected.map { case (name, fn) =>
      def once(): (Double, Map[String, Int]) = {
        // timed: the window's body, construction included (iterative
        // operators run real jobs before the final plan exists)
        val (_, cap) = Capture.during(spark)(consume(fn(spark, sfDir)))
        // the write is the window's last execution; the frame's own
        // static plan (AQE `isFinalPlan=false`) never stands in for it
        val plan = cap.executions.lastOption match {
          case Some(qe) =>
            planMetrics(qe.explainString(ExplainMode.fromString("formatted")))
          case None =>
            System.err.println(s"[bench] $name: no executed plan captured")
            Map.empty[String, Int]
        }
        (cap.secs, plan)
      }
      val (cold, steady, plans) = try {
        val (t1, _) = once()
        spark.catalog.clearCache() // operator-persisted frames: bound memory
        val (t2, p2) = once()
        // this host shows multi-second stop-the-world stalls that can
        // land on BOTH executions of one query (observed: a 3 s query
        // measuring 19 s twice); when the two runs disagree wildly, or
        // the min is implausibly high for this suite (no legit query
        // exceeds ~6 s at sf0.1), buy one more sample before reporting
        val suspect =
          (math.max(t1, t2) > 3 * math.min(t1, t2) && math.max(t1, t2) > 2) ||
            math.min(t1, t2) > 8
        val (t3, p3) =
          if (suspect) { spark.catalog.clearCache(); once() }
          else (Double.MaxValue, p2)
        (t1, math.min(math.min(t1, t2), t3),
          if (t3 != Double.MaxValue) p3 else p2)
      } catch {
        case e: Throwable =>
          // a broken query must be visible, not a plausible timing
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          (-1.0, -1.0, Map.empty[String, Int])
      }
      spark.catalog.clearCache()
      (name, cold, steady, plans)
    }.toSeq

    val qs = results.map { case (k, _, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query FIRST-execution times: cold_total's composition, so a
    // cold regression is attributable to queries instead of one opaque
    // aggregate (the round-11 cold profiling need)
    val coldQs = results.map { case (k, c, _, _) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val planJson = results.map { case (k, _, _, m) =>
      val inner = m.toSeq.sortBy(_._1)
        .map { case (n, c) => s"\"" + n + "\":" + c }.mkString("{", ",", "}")
      s"\"" + k + "\":" + inner
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, _, v, _) if v >= 0 => v }.sum
    val coldTotal = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val failed = results.count { case (_, _, v, _) => v < 0 }
    // The harness tails the last ~4 KB of captured output, so ordering
    // matters: the multi-KB blob line (per-query timings + plan shapes)
    // goes FIRST, and the short totals line goes LAST so it is always
    // inside the tail window and parseable (BENCH_r02-r04 all lost the
    // headline to tail truncation when the blob came after it).
    val top5 = results.filter(_._3 >= 0).sortBy(-_._3).take(5)
      .map { case (k, _, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"warmed":$warmed,"queries":$qs,"cold_queries":$coldQs,"plans":$planJson,"sf":"$sfDir"}"""
    println(line)
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"warmed":$warmed,"n":${results.size},"failed":$failed,"top5":$top5,"sf":"$sfDir"}""")
    // the stdout line alone is fragile (round-2 driver artifact lost it
    // to tail truncation — BENCH_r02.json carried "parsed": null); a
    // file copy survives regardless of how much the harness captures
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
