package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local SparkSession per JVM. */
object TestSession {
  lazy val spark: SparkSession = {
    val b = Sessions.localBuilder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        // fresh per JVM: the in-memory catalog forgets tables between
        // runs but a reused directory would collide on saveAsTable
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf
}
