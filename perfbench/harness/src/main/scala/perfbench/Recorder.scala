package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Covered length of a set of closed intervals, clipped to a window.
  *
  * Jobs of one call overlap whenever the program submits from several
  * driver threads (concurrent landings, staged-source harnesses, fan-out
  * sites), so the time a call spends waiting on jobs is the length of the
  * UNION of their intervals, never the sum. */
object Intervals {
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One Spark job as seen on the listener bus (driver wall-clock ms). */
final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int])

/** Task totals of one stage. */
final class StageAgg {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var schedDelayMs = 0L
}

/** One micro-batch progress report. */
final case class BatchRec(
    startMs: Long, triggerMs: Long, walMs: Long, stateCommitMs: Long,
    stateRows: Long)

/** Per-job and per-task counters from Spark's public listener API.
  *
  * Events arrive on the asynchronous listener bus after the work they
  * describe, so nothing here is attributed by arrival time: jobs carry
  * their own start/end stamps and tasks map to jobs through their stage.
  * Readers call [[Settle.await]] first, which returns once every started
  * job has ended and the bus has been quiet for a while. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageAgg = mutable.HashMap[Int, StageAgg]()
  // a stage belongs to the first job that lists it; later jobs that list
  // it again reuse its output and must not count its tasks twice
  private val stageOwner = mutable.HashMap[Int, Int]()
  private val submittedAt = mutable.HashMap[Int, Long]()
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    events += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      submittedAt(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      events += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      val i = e.taskInfo
      if (i != null && i.finishTime > 0) {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + i.gettingResultTime
        a.schedDelayMs += math.max(0L, i.finishTime - i.launchTime - busy)
      }
    }
    events += 1
  }

  def eventCount: Long = events

  def openJobs: Int = synchronized { jobs.values.count(_.end < 0) }

  /** Jobs that started inside [lo, hi]. */
  def jobsIn(lo: Long, hi: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.start >= lo && j.start <= hi).toSeq
  }

  /** Task totals of the stages the given jobs ran themselves. */
  def stagesRunBy(js: Seq[JobRec]): Seq[StageAgg] = synchronized {
    val ids = js.map(_.id).toSet
    js.flatMap(_.stages).distinct
      .filter(s => stageOwner.get(s).exists(ids))
      .flatMap(stageAgg.get)
  }

  /** (stages listed, stages skipped) over the given jobs: a stage is
    * skipped by a job that did not submit it after the job started. */
  def stageCounts(js: Seq[JobRec]): (Int, Int) = synchronized {
    val listed = js.flatMap(j => j.stages.map(j -> _))
    (listed.size, listed.count { case (j, s) =>
      !submittedAt.get(s).exists(_ >= j.start) })
  }
}

/** Planning time of each completed query execution, stamped with the
  * start of its first planning phase (the bus delivers it later). */
final class PlanRecorder extends QueryExecutionListener {
  private val plans = mutable.ArrayBuffer[(Long, Long)]() // (startMs, planMs)
  @volatile private var events = 0L

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    events += 1
  }

  def eventCount: Long = events

  /** Planning ms of the last query execution that started in [lo, hi]:
    * the call's final write. */
  def finalPlanMs(lo: Long, hi: Long): Long = synchronized {
    plans.filter { case (s, _) => s >= lo && s <= hi }
      .sortBy(_._1).lastOption.map(_._2).getOrElse(0L)
  }
}

/** Micro-batch progress, the one listener an untraced run keeps. */
final class BatchRecorder extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer[BatchRec]()
  @volatile private var events = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized(events += 1)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized(events += 1)
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches += BatchRec(
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      d("triggerExecution"),
      d("walCommit") + d("commitOffsets"),
      p.stateOperators.map(_.commitTimeMs).sum,
      p.stateOperators.map(_.numRowsTotal).sum)
    events += 1
  }

  def eventCount: Long = events

  def batchesIn(lo: Long, hi: Long): Seq[BatchRec] = synchronized {
    batches.filter(b => b.startMs >= lo && b.startMs <= hi).toSeq
  }
}

object Settle {

  /** Wait until `open()` is 0 and `count()` has not moved for `quietMs`;
    * gives up after `timeoutMs`. Returns whether it settled. The
    * listener bus is asynchronous, so counts read before this may miss
    * the tail of the work they describe. */
  def await(count: () => Long, open: () => Int,
      quietMs: Long = 100, timeoutMs: Long = 10000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = count()
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      val c = count()
      val now = System.currentTimeMillis()
      if (c != last) { last = c; quietSince = now }
      else if (open() == 0 && now - quietSince >= quietMs) return true
    }
    false
  }
}
