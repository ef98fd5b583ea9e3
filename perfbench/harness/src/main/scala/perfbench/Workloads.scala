package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.fidelity.FotmobPipeline

/** Where a run's generated inputs live. `sfDir` holds one parquet file per
  * warehouse table; `matches` is the JSON-lines match corpus. */
final case class Inputs(sfDir: String, matches: String)

/** One benchmark call: a public entry point tagged with the one layer it
  * exercises. `frames` builds the call's outputs (construction jobs run
  * here); a durable call writes them as parquet, any other call drains
  * them through the `noop` sink. */
final case class Call(
    name: String,
    layer: String,
    frames: (SparkSession, Inputs) => Seq[(String, DataFrame)],
    durable: Boolean = false)

object Workloads {

  private def q(name: String, layer: String): Call =
    Call(name, layer, (s, in) => Seq(name -> SparkEntry.queries(name)(s, in.sfDir)))

  private def shots(s: SparkSession, in: Inputs): DataFrame =
    FotmobPipeline.shots(FotmobPipeline.readMatches(s, in.matches))

  /** The reference job: nested match JSON to a parquet star of one fact
    * table and five dimensions. */
  val fidStar: Call = Call("fid_star", "fidelity", (s, in) => {
    val sh = shots(s, in)
    Seq(
      "match_dim" -> FotmobPipeline.matchDim(sh),
      "team_dim" -> FotmobPipeline.teamDim(sh),
      "player_dim" -> FotmobPipeline.playerDim(sh),
      "shot_type_dim" -> FotmobPipeline.shotTypeDim(sh),
      "event_type_dim" -> FotmobPipeline.eventTypeDim(sh),
      "fact" -> FotmobPipeline.factTable(sh))
  }, durable = true)

  /** The reference's denormalized Looker view. */
  val fidLooker: Call = Call("fid_looker", "fidelity",
    (s, in) => Seq("looker" -> FotmobPipeline.lookerData(shots(s, in))))

  private def tagged(layer: String, names: String*): Seq[Call] =
    names.map(q(_, layer))

  val all: Map[String, Seq[Call]] = Map(
    "star_etl" -> (Seq(fidStar, fidLooker) ++
      tagged("sources", "f_json_ingest") ++
      tagged("queries.TierF", "f_explode_json") ++
      tagged("queries.TierR", "r_scd2_chain")),
    "llm_curate" -> (
      tagged("operators.Dedup", "x_dedup_simhash") ++
      tagged("operators.SimilaritySearch", "x_ann_recall_curve") ++
      tagged("operators.TextAnalysis", "x_quality_rep") ++
      tagged("operators.Curation", "x_pipeline_tokenize")),
    "lake_stream" -> (
      tagged("streaming", "x_stream_dedup") ++
      tagged("operators.Maintenance", "x_maint_compact_gen") ++
      tagged("operators.ChangeCapture", "x_cdc_apply")))
}
