package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ListenerBridge

import graft.operators.Maintenance
import graft.streaming.StreamOps

/** A capture window holds what its body ran, no more and no less, with
  * no settle sleep, and leaves nothing registered; the source guard
  * keeps `Capture` the only listener. */
class CaptureSpec extends SparkSpec {

  /** A 2-partition range collected: one job of two tasks, and an output
    * column naming the window it ran in. */
  private def action(tag: String): Unit =
    spark.range(0, 10, 1, 2).select(col("id").as(tag)).collect(): Unit

  private def names(cap: Capture.Captured): Seq[String] =
    cap.executions.flatMap(_.analyzed.output.map(_.name))

  test("50 back-to-back windows each hold exactly their own execution and job") {
    val caps = (0 until 50).map { i =>
      action(s"before$i") // run outside any window: must not leak into the next
      Capture.during(spark)(action(s"w$i"))._2
    }
    caps.zipWithIndex.foreach { case (cap, i) =>
      assert(names(cap) == Seq(s"w$i"))
      assert(cap.jobs.size == 1, s"window $i: ${cap.jobs}")
      val job = cap.jobs.head
      assert(job.tasks == 2 && job.end.exists(_ >= job.start) &&
        job.site.startsWith("collect"), s"window $i: $job")
    }
    val ids = caps.map(_.jobs.head.id)
    assert(ids == ids.sorted.distinct)
  }

  test("jobs submitted from driver threads inside the window are captured") {
    val (_, cap) = Capture.during(spark) {
      Maintenance.concurrently("capture-spec", (0 until 4).map(k => () => action(s"t$k")))
    }
    assert(names(cap).sorted == (0 until 4).map(k => s"t$k"))
    assert(cap.jobs.size == 4 && cap.jobs.forall(_.end.isDefined), cap.jobs)
  }

  test("a bounded stream run inside a window yields its progress events") {
    val (_, cap) = StreamOps.StagedStream.reclaimed("graft_capture") { run =>
      run.stage((0 until 3).map(k => spark.range(k * 10, k * 10 + 10).toDF()))
      Capture.during(spark)(run.drain(spark)((_, _) => ()))
    }
    // one micro-batch per staged slice, each reported once
    assert(cap.progress.map(_.batchId) == Seq(0L, 1L, 2L), cap.progress)
  }

  test("a throwing body rethrows its exception and leaves no listener registered") {
    def registered() = Seq(spark.streams.listListeners().toSet,
      ListenerBridge.executionListeners(spark).toSet, ListenerBridge.busListeners(spark).toSet)
    val before = registered()
    val boom = new IllegalStateException("boom")
    var inside = before
    val thrown = intercept[IllegalStateException] {
      Capture.during(spark) { action("boom"); inside = registered(); throw boom }
    }
    assert(thrown eq boom)
    // the check sees the window's three listeners while it is open
    assert(inside.map(_.size) == before.map(_.size + 1))
    assert(registered() == before)
  }

  test("only the capture module registers or implements a Spark listener") {
    val listenerCode = ("""listenerManager\s*\.\s*register\b|\.\s*addSparkListener\b|""" +
      """streams\s*\.\s*addListener\b|\b(?:extends|with|new)\s+(?:\w+\.)*""" +
      """(?:QueryExecutionListener|SparkListener|StreamingQueryListener)\b""").r
    def hits(p: Path): Seq[String] =
      listenerCode.findAllIn(Files.readString(p)).map(h => s"$p: $h").toSeq
    val capture = Paths.get("src/main/scala/graft/Capture.scala")
    // non-vacuous: the patterns find the capture module's own six
    assert(hits(capture).size == 6, hits(capture))
    val offenders = Files.walk(Paths.get("src")).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => p.toString.matches(""".*\.(scala|java)""") && p != capture)
      .flatMap(hits)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
