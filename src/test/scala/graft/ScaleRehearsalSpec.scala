package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.tools.ScaleRehearsal

/** The rehearsal protocol end to end at sf0.001 with 4 partitions: a
  * 100× op subset (staged pair table, a fresh table root per rep, an
  * extras-restored corpus) and the full stream10x block. Each block runs
  * on a session of its own, so its shuffle-partition and state-store
  * conf never reach the shared session. The expected counts are the
  * ones `ScaleRehearsal.main` prints at the same settings (the sf0.001
  * tables, `SPARK_GRAFT_REHEARSAL_PARTS=4 SPARK_GRAFT_CPUS=4`). */
class ScaleRehearsalSpec extends SparkSpec {

  private def block(mode: String, only: Option[Set[String]]): JsonNode = {
    val line = ScaleRehearsal.runBlock(spark.newSession(), mode, sf, 4, only)
    assert(ScaleRehearsal.violations(line).isEmpty, line)
    new ObjectMapper().readTree(line)
  }

  /** Every count-valued field of every op (`op.field`), timings and
    * byte sizes left out. */
  private def counts(rec: JsonNode): Map[String, String] =
    rec.get("ops").properties().asScala.toSeq.flatMap { op =>
      op.getValue.properties().asScala.collect {
        case f if !f.getKey.startsWith("sec") && !f.getKey.startsWith("t_synth") &&
            !f.getKey.endsWith("bytes") =>
          s"${op.getKey}.${f.getKey}" -> f.getValue.asText()
      }
    }.toMap

  test("a FAIL guard or a false label audit is a violation; PASS lines have none") {
    assert(ScaleRehearsal.violations("""{"plan_guard":"PASS","cc_labels_equal":true}""").isEmpty)
    assert(ScaleRehearsal.violations("""{"plan_guard":"FAIL","cc_labels_equal":false}""") ==
      Seq("plan_guard", "cc_labels_equal"))
    assert(ScaleRehearsal.violations("""{"state_guard":"FAIL"}""") == Seq("state_guard"))
  }

  test("100x subset: staged pairs, a fresh root per rep, an extras-restored corpus") {
    val rec = block("100x", Some(Set("cluster_hashmin", "cluster_star",
      "maint_gen", "sketch_build")))
    assert(rec.get("plan_guard").asText() == "PASS")
    assert(rec.get("cc_labels_equal").asBoolean())
    assert(rec.get("reps").asInt() == 3)
    assert(Seq("n_docs", "n_vecs", "tri_max_outdeg", "tri_wedges")
      .map(k => k -> rec.get(k).asLong()) ==
      Seq("n_docs" -> 50000L, "n_vecs" -> 50000L, "tri_max_outdeg" -> 39L,
        "tri_wedges" -> 90650L))
    assert(counts(rec).filter(_._1.endsWith(".rows")) == Map(
      "cluster_hashmin.rows" -> "9046", "cluster_star.rows" -> "9046",
      "maint_gen.rows" -> "12000", "sketch_build.rows" -> "15000"))
  }

  test("stream10x: every state contract holds and no block conf leaks") {
    val rec = block("stream10x", None)
    assert(rec.get("state_guard").asText() == "PASS")
    assert(rec.get("ops").get("stream_incr_cluster").get("cc_equal").asBoolean())
    assert(Seq("n_events", "n_users", "stripes").map(k => k -> rec.get(k).asLong()) ==
      Seq("n_events" -> 10000L, "n_users" -> 150L, "stripes" -> 10L))
    assert(counts(rec) == Map(
      "stream_join.batches" -> "10", "stream_join.state_peak" -> "2540",
      "stream_join.state_final" -> "30", "stream_join.state_removed" -> "19970",
      "stream_state.state_peak" -> "150", "stream_state.state_final" -> "150",
      "stream_state.n_keys" -> "150",
      "stream_hwm.state_peak" -> "150", "stream_hwm.state_final" -> "150",
      "stream_hwm.n_keys" -> "150",
      "stream_timer_sessions.state_peak" -> "150",
      "stream_timer_sessions.state_final" -> "20",
      "stream_timer_sessions.state_removed" -> "26950",
      "stream_upsert.state_rows" -> "120", "stream_upsert.n_keys" -> "150",
      "stream_sketch.state_rows" -> "150", "stream_sketch.n_groups" -> "150",
      "stream_sketch.n_events_merged" -> "10000", "stream_sketch.batches" -> "10",
      "stream_incr_cluster.batches" -> "5", "stream_incr_cluster.label_rows" -> "4998",
      "stream_incr_cluster.n_docs" -> "5000", "stream_incr_cluster.cc_equal" -> "true",
      "stream_cow_merge.batches" -> "10", "stream_cow_merge.gens" -> "11",
      "stream_cow_merge.files_total_final" -> "100",
      "stream_cow_merge.max_files_rewritten" -> "10",
      "stream_cow_merge.min_files_referenced" -> "90"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
