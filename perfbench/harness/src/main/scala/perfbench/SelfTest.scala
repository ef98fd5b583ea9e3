package perfbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}

/** Pins the two measurement rules every per-call count relies on:
  *
  *  1. a call's time waiting on jobs is the UNION of its job intervals
  *     (jobs submitted from several driver threads overlap), so the driver
  *     gap is never driven negative or double-counted;
  *  2. counts are read only after the asynchronous listener bus has
  *     drained: a job whose end event arrives late still counts, with its
  *     own end stamp, against the call whose window it started in.
  *
  * Runs at the start of every benchmark run; a failure makes the run
  * report `correct: false`. */
object SelfTest {

  def run(): Seq[String] = {
    val fails = Seq.newBuilder[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) fails += s"$what: got $got, want $want"

    // rule 1: union of overlapping, nested, touching and clipped intervals
    expect("overlap", Intervals.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L)), 0, 30), 20)
    expect("nested", Intervals.covered(Seq((0L, 30L), (5L, 10L)), 0, 30), 30)
    expect("touching", Intervals.covered(Seq((10L, 20L), (0L, 10L)), 0, 30), 20)
    expect("clipped", Intervals.covered(Seq((-5L, 5L), (25L, 40L)), 0, 30), 10)
    expect("empty", Intervals.covered(Nil, 0, 30), 0)

    // rule 2: two concurrent jobs in the call window [1000, 1400]; their
    // end events reach the listener 150 ms and 300 ms after the call
    // returned, the later-delivered one ending first
    val rec = new JobRecorder
    rec.onJobStart(SparkListenerJobStart(1, 1000L, Nil))
    rec.onJobStart(SparkListenerJobStart(2, 1050L, Nil))
    val late = new Thread(() => {
      Thread.sleep(150)
      rec.onJobEnd(SparkListenerJobEnd(1, 1300L, JobSucceeded))
      Thread.sleep(150)
      rec.onJobEnd(SparkListenerJobEnd(2, 1250L, JobSucceeded))
    })
    late.setDaemon(true)
    late.start()
    expect("open before drain", rec.openJobs, 2)
    expect("settled", if (Settle.await(() => rec.eventCount, () => rec.openJobs,
      quietMs = 50, timeoutMs = 5000)) 1 else 0, 1)
    late.join()
    val js = rec.jobsIn(1000L, 1400L)
    expect("jobs attributed", js.size, 2)
    expect("late end stamp kept", js.find(_.id == 2).map(_.end).getOrElse(-1L), 1250L)
    val covered = Intervals.covered(js.map(j => (j.start, j.end)), 1000L, 1400L)
    expect("covered ms", covered, 300)
    expect("driver gap ms", 400 - covered, 100)
    fails.result()
  }

}
