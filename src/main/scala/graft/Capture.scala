package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ConcurrentSkipListMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one observation seam: executed plans, jobs and streaming
  * progress arrive on Spark's asynchronous listener bus, and only this
  * module listens to it. `during(spark)(body)` drains the bus (so
  * earlier actions' queued events stay out), registers its listeners,
  * runs and times `body`, drains again and returns `body`'s value with
  * a frozen snapshot. `SQLExecutionEnd` and `JobEnd` are posted before
  * an action returns, and a bounded stream's last progress before
  * `awaitTermination` returns, so after the drain nothing of `body`'s
  * arrives late: no settle sleep. A drain that times out throws. The
  * listeners are removed in a `finally`; a throwing `body`'s exception
  * propagates unchanged. */
object Capture {

  /** A Spark job: epoch-ms start, end (`None` if still running when the
    * window closed), tasks over its stages, and its call site's short
    * form (`callSite.short` when set, else Spark's own). */
  final case class Job(id: Int, start: Long, end: Option[Long], tasks: Int, site: String)

  /** One window: `body`'s wall seconds, the session's successful
    * executions and streaming progress in bus order, and context-wide
    * jobs (any thread or session) in id order. */
  final case class Captured(secs: Double, executions: Seq[QueryExecution],
      jobs: Seq[Job], progress: Seq[StreamingQueryProgress])

  /** Upper bound on one drain; a healthy bus empties in milliseconds. */
  private val DrainTimeoutMs = 120000L

  def during[T](spark: SparkSession)(body: => T): (T, Captured) = {
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val jobs = new ConcurrentSkipListMap[Int, Job]
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val onExecution = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val onJob = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Job(e.jobId, e.time, None, e.stageInfos.map(_.numTasks).sum,
          // the result stage (highest id) is named after the call site
          e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = Some(e.time)))
    }
    val onProgress = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    ListenerBridge.waitUntilEmpty(spark, DrainTimeoutMs)
    try {
      spark.listenerManager.register(onExecution)
      spark.sparkContext.addSparkListener(onJob)
      spark.streams.addListener(onProgress)
      val t0 = System.nanoTime()
      val out = body
      val secs = (System.nanoTime() - t0) / 1e9
      ListenerBridge.waitUntilEmpty(spark, DrainTimeoutMs)
      (out, Captured(secs, executions.asScala.toSeq, jobs.values.asScala.toSeq,
        progress.asScala.toSeq))
    } finally {
      spark.streams.removeListener(onProgress)
      spark.sparkContext.removeSparkListener(onJob)
      spark.listenerManager.unregister(onExecution)
    }
  }
}
