package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Lineage truncation for iterative operators (connected components,
  * PageRank): both flavors of checkpoint cut the logical plan at a
  * materialized leaf — which is what keeps Catalyst from re-analyzing
  * a plan that grows by one round per iteration — but they differ in
  * fault tolerance:
  *
  *   - `localCheckpoint()` stores the partitions on the executors that
  *     computed them: zero extra I/O, but an executor loss kills the
  *     whole iterative computation (no lineage left to recompute from);
  *   - `checkpoint()` writes them to the SparkContext's checkpoint
  *     directory (HDFS/object store on a cluster): survives executor
  *     loss, at the cost of one write+read through durable storage per
  *     round.
  *
  * [[truncate]] picks reliably whenever the session has a checkpoint
  * directory configured — so a cluster deployment opts in with ONE line
  * (`spark.sparkContext.setCheckpointDir(...)`) and every iterative
  * operator upgrades together, while single-JVM runs (bench, verify,
  * local tests) keep the zero-I/O local form. Values are identical
  * either way; only the recovery story changes.
  *
  * The same cut serves a non-iterative caller: a frame that several
  * derived outputs read. [[graft.fidelity.FotmobPipeline.shots]]
  * truncates the flat shot table so its five dimensions, the fact and
  * the BI view share one JSON parse instead of re-scanning the match
  * documents once per derivation; unlike `persist`, the truncated
  * frame needs no owner to release it.
  */
object Lineage {

  /** Eagerly materialize `df` and truncate its lineage: reliable
    * `checkpoint()` if a checkpoint dir is set, `localCheckpoint()`
    * otherwise. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** Scale-adaptive fan-out for a heavy ROW-LOCAL pass whose input
    * scan under-parallelizes the cluster. A parquet scan's task count
    * is bounded by the input's split structure (row groups / files);
    * when a corpus lands as few big splits, every per-row computation
    * chained before the first exchange (sketching, tokenizing,
    * resample weighting) runs on those few tasks while the rest of the
    * cluster idles. This helper repartitions up to the session's
    * default parallelism ONLY when the planned scan has fewer
    * partitions — at production scale a table has orders of magnitude
    * more splits than cores, the condition is false, and this is a
    * no-op (no exchange added). The partition-count read plans the
    * frame but runs no job.
    *
    * Use ONLY where the downstream per-row work measurably dominates
    * the shuffle this adds (see the rejected scan fan-out in
    * OPTIMIZATION_r15.md §3 for cheap-pass inputs: an exchange the pass
    * doesn't amortize is a net loss). Row order is not preserved;
    * callers are aggregates/joins whose results are order-independent.
    *
    * BATCH-ONLY, PRE-EXCHANGE contract: the partition count is read
    * from the planned physical RDD (`queryExecution.toRdd` — no
    * Row-conversion RDD is built, unlike `.rdd`), which on a frame
    * containing an Exchange would materialize AQE query stages (run
    * jobs) just to read a number; every call site hands this a
    * scan-rooted frame, and the guard below makes a violation loud
    * instead of silently expensive. Streaming frames cannot be planned
    * this way at all. */
  def fanOut(df: DataFrame): DataFrame = {
    require(!df.isStreaming, "Lineage.fanOut is batch-only")
    // under AQE a plan containing an Exchange (or a subquery) is
    // wrapped in AdaptiveSparkPlanExec; executing such a plan to read
    // a partition count would run its query stages as real jobs. A
    // frame that already contains an exchange is also already fanned
    // out to the session's shuffle width — the helper's job is done —
    // so treat it as at-target instead of paying stages to re-check.
    // Scan-rooted frames (every current call site) plan to a plain
    // (non-adaptive) tree and their partition count is free to read.
    val plan = df.queryExecution.executedPlan
    val preExchange = !plan.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec] &&
      !plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (preExchange && df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** [[truncate]] plus observed aggregate metrics collected from the
    * SAME materialization job. Iterative loops need both "materialize
    * this round" and "did anything change" every round; running the
    * convergence aggregate as its own action doubles the round's job
    * count (and its fixed scheduling cost — the dominant cost of a
    * small round, and pure overhead at any scale). `observe` plants a
    * CollectMetrics node under the checkpoint, and both checkpoint
    * flavors execute through `withAction`, so the metrics arrive on the
    * listener bus as a side effect of the one job (verified on this
    * Spark version, OPTIMIZATION_r15.md §3; LineageSpec pins it). The
    * listener bus is async — if the metrics somehow fail to arrive (a
    * future Spark changing the checkpoint action path), fall back to
    * computing the same aggregates from the materialized frame: one
    * extra job, identical values, never a hang. */
  def truncateObserved(
      df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
    val obs = new org.apache.spark.sql.Observation
    val cp = truncate(df.observe(obs, metrics.head, metrics.tail: _*))
    // The metrics normally arrive within milliseconds of the (already
    // completed) checkpoint job — the wait only bridges the async
    // listener bus. Observation exposes no public timed wait, so park
    // a dedicated DAEMON thread on the blocking get: on the (never yet
    // observed) timeout the thread dies with the JVM instead of
    // occupying a global-pool slot forever, and the fallback recount
    // below returns identical values from the materialized frame. The
    // timeout is short for the same reason — a bus that has not
    // delivered in 10 s is not going to.
    val got = new java.util.concurrent.CompletableFuture[Map[String, Any]]()
    val waiter = new Thread(() =>
      try got.complete(obs.get)
      catch { case e: Throwable => got.completeExceptionally(e) },
      "graft-observation-wait")
    waiter.setDaemon(true)
    waiter.start()
    val m =
      try got.get(10, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          val row = cp.agg(metrics.head, metrics.tail: _*).head()
          row.schema.fieldNames.zipWithIndex
            .map { case (n, i) => n -> row.get(i) }.toMap
      }
    (cp, m)
  }
}
