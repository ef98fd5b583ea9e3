package graft.fidelity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Lineage

/** The reference's end-to-end transform (`fotmob-dag.py:95-165`)
  * re-expressed as Catalyst plans over nested JSON match documents.
  *
  * Where the reference is eager single-threaded pandas (flatten →
  * rename → clean → 5× dim build → 5× merge → project), this parses
  * the match documents ONCE: [[shots]] runs Project → Generate(explode)
  * → CaseWhen and truncates the result ([[graft.operators.Lineage]]),
  * so every dimension, the fact and the BI view built from one `shots`
  * value read that materialized table instead of re-scanning the JSON.
  * Each dimension is Aggregate(distinct) → Window(row_number); the fact
  * is BroadcastHashJoin×5 → Project; the BI view is one
  * BroadcastHashJoin. Dims are tiny and broadcast; the shot table
  * never shuffles for the joins.
  *
  * Reference quirks reproduced faithfully (SURVEY.md §2.1, not "fixed"):
  *  - P6 one-sided clean (`fotmob-dag.py:121`): the Tottenham spelling
  *    fix touches `home_team_name` ONLY, so `team_dim` can carry two
  *    spellings for one teamId and the teamId join (J1) fans out.
  *  - D2 non-dense team keys (`fotmob-dag.py:128-129`): `team_dim` ids
  *    are positional indices assigned BEFORE dedup (pandas keeps the
  *    pre-dedup `index`), so they are unique but gapped. The reference's
  *    positions depend on pandas row order; we define the canonical
  *    order as (is_away, matchId) — all home rows then all away rows,
  *    exactly the `pd.concat([home, away])` layout for data arriving in
  *    matchId order.
  *  - D1/D3/D4/D5 dense 0-based keys via `row_number()-1` over the
  *    natural key (the deterministic re-expression of `reset_index`).
  */
object FotmobPipeline {

  /** Schema of the slice of the match document the reference reads
    * (FIXTURES.md §1; fotmob-dag.py:74-88). */
  val shotSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("eventType", StringType),
    StructField("playerName", StringType),
    StructField("shotType", StringType),
    StructField("situation", StringType),
    StructField("teamId", LongType),
    StructField("x", DoubleType),
    StructField("y", DoubleType),
    StructField("isBlocked", BooleanType),
    StructField("blockedX", DoubleType),
    StructField("blockedY", DoubleType),
    StructField("goalCrossedY", DoubleType),
    StructField("goalCrossedZ", DoubleType),
    StructField("expectedGoals", DoubleType),
    StructField("expectedGoalsOnTarget", DoubleType)))

  val matchDocSchema: StructType = StructType(Seq(
    StructField("matchId", StringType),
    StructField("general", StructType(Seq(
      StructField("homeTeam", StructType(Seq(
        StructField("name", StringType), StructField("id", LongType)))),
      StructField("awayTeam", StructType(Seq(
        StructField("name", StringType), StructField("id", LongType))))))),
    StructField("content", StructType(Seq(
      StructField("shotmap", StructType(Seq(
        StructField("shots", ArrayType(shotSchema))))))))))

  /** Load match documents from a JSON-lines path. */
  def readMatches(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(matchDocSchema).json(path)

  /** S3/P1-P6: nested projection + explode + enrichment + rename +
    * one-sided clean — the flat shot table (fotmob-dag.py:74-121).
    * Eager: the JSON is parsed here, in one job, and the rows are
    * lineage-truncated, so the five dims and the fact built from the
    * returned frame share that one scan instead of parsing the
    * documents once per derivation. */
  def shots(matches: DataFrame): DataFrame = Lineage.truncate(
    matches
      .select(
        col("matchId"),
        col("general.homeTeam.name").as("home_team_name_raw"),
        col("general.homeTeam.id").as("home_team_id"),
        col("general.awayTeam.name").as("away_team_name"),
        col("general.awayTeam.id").as("away_team_id"),
        explode(col("content.shotmap.shots")).as("shot"))
      .select(
        col("shot.id").as("shot_id"),
        col("shot.eventType").as("event_type"),
        col("shot.playerName").as("player_name"),
        col("shot.shotType").as("shot_type"),
        col("shot.situation").as("situation"),
        col("shot.teamId").as("teamId"),
        col("shot.x").as("shot_from_x"),
        col("shot.y").as("shot_from_y"),
        col("shot.isBlocked").as("is_blocked"),
        col("shot.blockedX").as("blocked_x"),
        col("shot.blockedY").as("blocked_y"),
        col("shot.goalCrossedY").as("goal_crossed_y"),
        col("shot.goalCrossedZ").as("goal_crossed_z"),
        col("shot.expectedGoals").as("xG"),
        col("shot.expectedGoalsOnTarget").as("xGOT"),
        // P6 quirk: fixes the HOME spelling only (fotmob-dag.py:121)
        when(col("home_team_name_raw") === "Tottenham", "Tottenham Hotspur")
          .otherwise(col("home_team_name_raw")).as("home_team_name"),
        col("home_team_id"),
        col("away_team_name"),
        col("away_team_id"),
        col("matchId")))

  private def denseDim(
      df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.select(keyCols.map(col): _*).dropDuplicates()
      .withColumn(idCol,
        (row_number().over(
          Window.orderBy(keyCols.map(col): _*)) - 1).cast("long"))

  /** D1: match_dim(matchId → match_id), dense 0-based. */
  def matchDim(shots: DataFrame): DataFrame =
    denseDim(shots, Seq("matchId"), "match_id")

  /** D3: player_dim. */
  def playerDim(shots: DataFrame): DataFrame =
    denseDim(shots, Seq("player_name"), "player_id")

  /** D4: shot_type_dim. */
  def shotTypeDim(shots: DataFrame): DataFrame =
    denseDim(shots, Seq("shot_type"), "shot_type_id")

  /** D5: event_type_dim on the composite (event_type, situation). */
  def eventTypeDim(shots: DataFrame): DataFrame =
    denseDim(shots, Seq("event_type", "situation"), "event_type_id")

  /** D2 with the faithful non-dense-key quirk (fotmob-dag.py:128-129):
    * each side's projection is drop_duplicates'd FIRST (keeping the
    * first occurrence in df row order), the two deduped frames are
    * concatenated with `ignore_index=True` (positions restart at 0 and
    * run home-block then away-block), then the union is
    * drop_duplicates'd again keeping the first (= lowest-position)
    * occurrence. Ids are unique but gapped wherever an away row
    * duplicated a home row — exactly pandas' kept post-concat index.
    *
    * Scale shape: first-occurrence-per-side is an aggregate over the
    * fact rows (min position struct), so the only window runs over the
    * already-deduped |teams|-sized frame — same class as the dense-dim
    * windows, never a single-partition pass over fact rows. Canonical
    * row order is (matchId, shot_id), the pd row order for data
    * arriving in matchId order. */
  def teamDim(shots: DataFrame): DataFrame = {
    val home = shots.select(
      col("home_team_name").as("team_name"),
      col("home_team_id").as("teamId"),
      lit(0).as("side"), col("matchId"), col("shot_id"))
    val away = shots.select(
      col("away_team_name").as("team_name"),
      col("away_team_id").as("teamId"),
      lit(1).as("side"), col("matchId"), col("shot_id"))
    // per-side drop_duplicates: first occurrence per (team_name, teamId)
    val firstOcc = home.unionByName(away)
      .groupBy("side", "team_name", "teamId")
      .agg(min(struct(col("matchId"), col("shot_id"))).as("first_pos"))
    // concat(ignore_index=True): positions over the tiny deduped union
    val positioned = firstOcc
      .withColumn("team_id",
        (row_number().over(
          Window.orderBy(col("side"), col("first_pos"))) - 1).cast("long"))
    // final drop_duplicates keeps the lowest position per natural key
    positioned.groupBy("team_name", "teamId")
      .agg(min(col("team_id")).as("team_id"))
      .select("team_name", "teamId", "team_id")
  }

  /** J1 + P7: the fact table — 5 chained joins back to the dims, then
    * the 15-column projection (fotmob-dag.py:144-153). All dims are
    * broadcast. The teamId join intentionally fans out when team_dim
    * holds two spellings for one teamId (the documented P6/D2 quirk). */
  def factTable(shots: DataFrame): DataFrame = {
    val md = matchDim(shots)
    val td = teamDim(shots)
    val pd = playerDim(shots)
    val st = shotTypeDim(shots)
    val et = eventTypeDim(shots)
    shots
      .join(broadcast(md), Seq("matchId"))
      .join(broadcast(td.select("teamId", "team_id")), Seq("teamId"))
      .join(broadcast(pd), Seq("player_name"))
      .join(broadcast(st), Seq("shot_type"))
      .join(broadcast(et), Seq("event_type", "situation"))
      .select(
        col("shot_id"), col("match_id"), col("team_id"), col("player_id"),
        col("shot_type_id"), col("event_type_id"), col("xG"), col("xGOT"),
        col("shot_from_x"), col("shot_from_y"), col("is_blocked"),
        col("blocked_x"), col("blocked_y"), col("goal_crossed_y"),
        col("goal_crossed_z"))
  }

  /** K2/J2/P8: the denormalized BI view
    * (create_looker_data_table.sql:1-26) — the reference re-joins the
    * fact with all five dims on surrogate keys. Every key but the team's
    * round-trips: each dense dim is a bijection between natural key and
    * id, so fact → dim → back lands on the shot's own natural key, and
    * the inner equi-joins only drop shots whose key is null — which the
    * filter drops here. `team_id` is unique in `team_dim`, so fact →
    * team on `teamId` then team on `team_id` reaches the same row as
    * one `teamId` join, with the same J1 fan-out for a two-spelling
    * team (and null `teamId` shots dropped by the join). One broadcast
    * join over `shots` therefore yields the reference's rows exactly
    * (FidelitySpec pins it against the surrogate-key formulation). */
  def lookerData(shots: DataFrame): DataFrame =
    shots
      .filter(col("matchId").isNotNull && col("player_name").isNotNull &&
        col("shot_type").isNotNull && col("event_type").isNotNull &&
        col("situation").isNotNull)
      .join(broadcast(teamDim(shots)), Seq("teamId"))
      .select(
        // no match column: the reference view (create_looker_data_table
        // .sql:2-17) selects none, so neither do we
        col("shot_id"),
        col("team_name"), col("player_name"), col("shot_type"),
        col("event_type"), col("situation"), col("xG"), col("xGOT"),
        col("shot_from_x"), col("shot_from_y"), col("is_blocked"),
        col("blocked_x"), col("blocked_y"), col("goal_crossed_y"),
        col("goal_crossed_z"))
}
