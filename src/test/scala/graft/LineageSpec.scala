package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Lineage}

/** The cluster fault-tolerance path: with a checkpoint directory
  * configured, every iterative operator's lineage cut upgrades from
  * `localCheckpoint` to reliable `checkpoint()` — same values, durable
  * round state.
  *
  * NOTE: the checkpoint dir is context-level and cannot be unset, so
  * this suite sets it only AFTER capturing the local-path baseline;
  * other suites running later in the JVM simply take the reliable path
  * too (slower, identical results — that is the point).
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  test("reliable checkpoint path yields identical cluster labels") {
    // two components: {1,2,3} chained, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "rep_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val localPath = labelsOf(Dedup.clusters(pairs))
    val localStar = labelsOf(Dedup.clustersStar(pairs))

    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_dir")
    spark.sparkContext.setCheckpointDir(dir.toString)
    assert(spark.sparkContext.getCheckpointDir.isDefined)

    val reliable = labelsOf(Dedup.clusters(pairs))
    val reliableStar = labelsOf(Dedup.clustersStar(pairs))
    assert(reliable == localPath && reliableStar == localStar)
    assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L))

    // the reliable path really wrote durable round state
    val wrote = java.nio.file.Files.walk(dir)
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "checkpoint dir should contain materialized rounds")

    // truncate() itself picks the reliable flavor under a dir: the
    // result plan is a checkpoint leaf, not the original projection
    val cut = Lineage.truncate(pairs.select(col("d1")))
    assert(cut.queryExecution.optimizedPlan.toString
      .contains("LogicalRDD"))
  }

  test("truncateObserved: metrics ride the checkpoint job and match a recount") {
    // runs after the suite set a checkpoint dir, so this pins the
    // RELIABLE flavor's metric delivery; the local flavor is exercised
    // by every CC/star loop in the suite (its direct check is recorded
    // in OPTIMIZATION_r15.md §3)
    val df = Seq((1L, 1L), (2L, 5L), (3L, 3L)).toDF("id", "label")
      .withColumn("prev", col("id"))
    val (cp, m) = Lineage.truncateObserved(df,
      sum(when(col("label") =!= col("prev"), 1L).otherwise(0L))
        .as("changed"),
      count(lit(1)).as("n"))
    assert(m("n") == 3L && m("changed") == 1L)
    // the returned frame is the materialized one, same rows
    assert(cp.count() == 3L)
    // empty input: sum-metric is null (the callers' documented contract)
    val (cpE, mE) = Lineage.truncateObserved(
      df.filter(col("id") < 0L),
      sum(when(col("label") =!= col("prev"), 1L).otherwise(0L))
        .as("changed"))
    assert(cpE.count() == 0L && mE("changed") == null)
  }

  test("fanOut: batch-only, pre-exchange guard, no-op at-or-above target") {
    val scan = Seq.tabulate(8)(i => (i.toLong, s"d$i")).toDF("id", "t")
    // a local relation plans exchange-free: fanOut may widen it
    val widened = Lineage.fanOut(scan)
    assert(widened.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // already at/above target: identical frame back, no exchange added
    val wide = spark.range(0, 8,
      1, spark.sparkContext.defaultParallelism).toDF("id")
    assert(Lineage.fanOut(wide) eq wide)
    // a frame whose plan contains an Exchange (AQE-wrapped) is treated
    // as already fanned out — returned untouched, because reading its
    // partition count would materialize query stages as real jobs
    val post = scan.repartition(4)
    assert(Lineage.fanOut(post) eq post)
    // streaming frames are refused loudly (they cannot be planned here)
    val stream = spark.readStream.format("rate").load()
    assert(intercept[IllegalArgumentException] {
      Lineage.fanOut(stream.toDF())
    }.getMessage.contains("batch-only"))
  }

  test("harvest ships the session Hadoop conf to executors") {
    // the mechanism: ShippedConf round-trips a live Configuration
    // through Java serialization (what the mapPartitions closure does),
    // preserving session-level settings a fresh `new Configuration()`
    // on an executor would lose (object-store credentials, fs impls)
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("graft.test.credential", "session-value")
    val shipped = new graft.operators.TableStats.ShippedConf(conf)
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(shipped); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[graft.operators.TableStats.ShippedConf]
    assert(back.conf.get("graft.test.credential") == "session-value")
  }

  test("pageRank probeFixpoint path converges and equals the fixed form") {
    // 2-cycle: uniform rank is stationary, so the fixpoint probe
    // detects convergence on round 1 and the adaptive path must give
    // the same stationary ranks the fixed-iterations form does
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "r_e9").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixed = ranks(graft.operators.GraphRank.pageRank(
      cyc, iterations = 5))
    val probed = ranks(graft.operators.GraphRank.pageRank(
      cyc, iterations = 5, probeFixpoint = true))
    assert(probed == fixed)
    assert(probed == Map(1L -> 500000000L, 2L -> 500000000L))
  }
}
