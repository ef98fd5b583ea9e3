package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._

import graft.fidelity.FotmobPipeline

/** Golden-pipeline fidelity test (SURVEY.md §5.4): the fotmob-shaped
  * fixture pushed through the full reference transform, asserting the
  * exact star-schema output INCLUDING the documented quirks (one-sided
  * clean, non-dense team keys, teamId join fan-out). */
class FidelitySpec extends SparkSpec {
  private lazy val matches =
    FotmobPipeline.readMatches(spark, "src/test/resources/fotmob_matches.jsonl")
  private lazy val shots = FotmobPipeline.shots(matches)

  test("nested projection + explode yields one row per shot") {
    assert(shots.count() == 4)
    assert(shots.columns.contains("home_team_name"))
  }

  test("P6 quirk: clean touches home side only") {
    val homes = shots.select("home_team_name").collect().map(_.getString(0)).toSet
    val aways = shots.select("away_team_name").collect().map(_.getString(0)).toSet
    assert(homes.contains("Tottenham Hotspur") && !homes.contains("Tottenham"))
    assert(aways.contains("Tottenham") && !aways.contains("Tottenham Hotspur"))
  }

  test("D2 quirk: team_dim keys are unique but non-dense, two spellings per teamId") {
    val td = FotmobPipeline.teamDim(shots).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // pandas: each side deduped first (home -> [TH/10, Arsenal/20] = 0,1;
    // away -> [Arsenal/20, Tottenham/10, Chelsea/30] = 2,3,4 after
    // ignore_index concat), final drop_duplicates keeps first occurrence
    assert(td == Set(
      ("Tottenham Hotspur", 10L, 0L),
      ("Arsenal", 20L, 1L),
      ("Tottenham", 10L, 3L),   // away spelling survives as its own row
      ("Chelsea", 30L, 4L)))    // gap at 2 where away Arsenal was dropped
  }

  test("dense dims are 0-based consecutive") {
    val ids = FotmobPipeline.matchDim(shots)
      .select("match_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L))
    val eids = FotmobPipeline.eventTypeDim(shots)
      .select("event_type_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(eids == (0L until eids.length).toSeq)
  }

  test("J1 quirk: teamId join fans out for the double-spelled team") {
    val fact = FotmobPipeline.factTable(shots)
    // shots 1 and 3 (teamId 10) each match two team_dim rows -> 2+1+2+1
    assert(fact.count() == 6)
    val perShot = fact.groupBy("shot_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perShot == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("nullable measures survive: blocked coords and null xGOT") {
    val fact = FotmobPipeline.factTable(shots)
    val blocked = fact.filter(col("shot_id") === 2).collect().head
    assert(blocked.getAs[Boolean]("is_blocked"))
    assert(blocked.getAs[Double]("blocked_x") == 90.5)
    val miss = fact.filter(col("shot_id") === 3).collect().head
    assert(miss.isNullAt(miss.fieldIndex("xGOT")))
  }

  test("looker view is 1:1 with the fact table and denormalized") {
    val ld = FotmobPipeline.lookerData(shots)
    assert(ld.count() == 6)
    assert(ld.columns.toSet.intersect(
      Set("team_name", "player_name", "event_type", "situation")).size == 4)
  }

  /** The reference's surrogate-key formulation of the BI view
    * (create_looker_data_table.sql): the fact re-joined with all five
    * dims on their ids. `lookerData`'s one-join form must equal it. */
  private def lookerBySurrogateKeys(sh: DataFrame): DataFrame =
    FotmobPipeline.factTable(sh)
      .join(broadcast(FotmobPipeline.matchDim(sh)), Seq("match_id"))
      .join(broadcast(FotmobPipeline.teamDim(sh)), Seq("team_id"))
      .join(broadcast(FotmobPipeline.playerDim(sh)), Seq("player_id"))
      .join(broadcast(FotmobPipeline.shotTypeDim(sh)), Seq("shot_type_id"))
      .join(broadcast(FotmobPipeline.eventTypeDim(sh)), Seq("event_type_id"))
      .select("shot_id", "team_name", "player_name", "shot_type", "event_type",
        "situation", "xG", "xGOT", "shot_from_x", "shot_from_y", "is_blocked",
        "blocked_x", "blocked_y", "goal_crossed_y", "goal_crossed_z")

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    val (ra, rb) = (a.collect().map(_.toString).sorted.toSeq,
      b.collect().map(_.toString).sorted.toSeq)
    assert(ra == rb)
  }

  test("looker view equals the surrogate-key re-join on the fixture") {
    assertSameRows(FotmobPipeline.lookerData(shots), lookerBySurrogateKeys(shots))
  }

  test("looker view equals the surrogate-key re-join with null keys and a two-spelling team") {
    import spark.implicits._
    def shot(id: Int, teamId: String = "10", player: String = "\"P\"",
        shotType: String = "\"Header\"", event: String = "\"Goal\"",
        situation: String = "\"SetPiece\"") =
      s"""{"id":$id,"eventType":$event,"playerName":$player,""" +
        s""""shotType":$shotType,"situation":$situation,"teamId":$teamId,""" +
        s""""x":1.0,"y":2.0,"expectedGoals":0.1}"""
    def doc(matchId: String, home: String, shots: String*) =
      s"""{"matchId":$matchId,"general":{"homeTeam":{"name":"$home","id":10},""" +
        s""""awayTeam":{"name":"Tottenham","id":10}},""" +
        s""""content":{"shotmap":{"shots":[${shots.mkString(",")}]}}}"""
    val docs = Seq(
      // teamId 10 has three spellings (home "Tottenham Hotspur" after
      // the P6 clean, away "Tottenham", home "Spurs"), so every
      // teamId-10 shot fans out to three rows; teamId 20 has no team
      doc("\"m1\"", "Tottenham", shot(1), shot(2, player = "null"),
        shot(3, shotType = "null"), shot(4, situation = "null"),
        shot(5, event = "null"), shot(6, teamId = "null"), shot(7, teamId = "20")),
      doc("null", "Tottenham", shot(8)),
      doc("\"m2\"", "Spurs", shot(9, player = "\"Q\"")))
    val sh = FotmobPipeline.shots(
      spark.read.schema(FotmobPipeline.matchDocSchema).json(docs.toDS()))
    val looker = FotmobPipeline.lookerData(sh)
    assertSameRows(looker, lookerBySurrogateKeys(sh))
    // only shots 1 and 9 have every key, each once per spelling
    assert(looker.select("shot_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 1L, 1L, 9L, 9L, 9L))
  }

  test("the star parses the match JSON once; the looker view runs in at most 4 jobs") {
    def scansJson(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.optimizedPlan.collectLeaves().exists {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.fileFormat.isInstanceOf[JsonFileFormat]
          case _ => false
        }
        case _ => false
      }
    def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (sh, star) = Capture.during(spark) {
      val sh = FotmobPipeline.shots(matches)
      Seq(FotmobPipeline.matchDim(sh), FotmobPipeline.teamDim(sh),
        FotmobPipeline.playerDim(sh), FotmobPipeline.shotTypeDim(sh),
        FotmobPipeline.eventTypeDim(sh), FotmobPipeline.factTable(sh)).foreach(drain)
      sh
    }
    assert(star.executions.count(scansJson) == 1,
      star.executions.map(_.optimizedPlan.treeString).mkString("\n"))
    val (_, looker) = Capture.during(spark)(drain(FotmobPipeline.lookerData(sh)))
    assert(looker.jobs.size <= 4, looker.jobs)
  }

  test("end-to-end ETL: pipeline -> write-once sinks -> read-back (K1 semantics)") {
    // the reference's load stage: six tables written write-once
    // (fotmob-dag.py:179-183, pandas-gbq default if_exists='fail')
    val out = java.nio.file.Files.createTempDirectory("graft_etl").toString
    val tables = Map(
      "fact_table" -> FotmobPipeline.factTable(shots),
      "match_dim" -> FotmobPipeline.matchDim(shots),
      "team_dim" -> FotmobPipeline.teamDim(shots),
      "player_dim" -> FotmobPipeline.playerDim(shots),
      "shot_type_dim" -> FotmobPipeline.shotTypeDim(shots),
      "event_type_dim" -> FotmobPipeline.eventTypeDim(shots))
    tables.foreach { case (n, df) => graft.sources.Sinks.writeTable(df, s"$out/$n") }
    // read-back preserves rows; a second write-once attempt fails
    tables.foreach { case (n, df) =>
      assert(spark.read.parquet(s"$out/$n").count() == df.count(), n)
    }
    intercept[Exception] {
      graft.sources.Sinks.writeTable(tables("fact_table"), s"$out/fact_table")
    }
    // rebuild the BI view FROM THE WRITTEN TABLES and compare content
    // (not just counts) against the in-memory view
    import org.apache.spark.sql.functions.broadcast
    def rd(n: String) = spark.read.parquet(s"$out/$n")
    val rebuilt = rd("fact_table")
      .join(broadcast(rd("match_dim")), Seq("match_id"))
      .join(broadcast(rd("team_dim")), Seq("team_id"))
      .join(broadcast(rd("player_dim")), Seq("player_id"))
      .join(broadcast(rd("shot_type_dim")), Seq("shot_type_id"))
      .join(broadcast(rd("event_type_dim")), Seq("event_type_id"))
      .select("shot_id", "team_name", "player_name", "event_type", "situation", "xG")
    val inMem = FotmobPipeline.lookerData(shots)
      .select("shot_id", "team_name", "player_name", "event_type", "situation", "xG")
    assert(rebuilt.except(inMem).count() == 0 && inMem.except(rebuilt).count() == 0)
  }

  test("whole pipeline plans broadcast joins for every dim") {
    val plan = FotmobPipeline.factTable(shots).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 5)
    assert(!plan.contains("SortMergeJoin"))
  }
}
