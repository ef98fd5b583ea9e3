package graft

/** `Sessions.withConf` leaves the session's explicitly set conf exactly
  * as it found it, even when the body throws. */
class SessionsSpec extends SparkSpec {

  test("withConf restores a set key, unsets an unset key, and rethrows") {
    val (setKey, unsetKey) =
      ("spark.sql.shuffle.partitions", "spark.sql.caseSensitive")
    assert(spark.conf.getAll.contains(setKey) && !spark.conf.getAll.contains(unsetKey))
    val before = spark.conf.getAll
    val boom = new RuntimeException("boom")
    val thrown = intercept[RuntimeException] {
      Sessions.withConf(spark, setKey -> "3", unsetKey -> "true") {
        assert(spark.conf.get(setKey) == "3" && spark.conf.get(unsetKey) == "true")
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(spark.conf.getAll == before)
  }
}
