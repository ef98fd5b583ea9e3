package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{SparkEntry, Tables}

/** Generates PLANS.md: the formatted physical plan of each headline
  * query with a one-line scale note. Run after plan-affecting changes:
  *
  *   sbt "runMain graft.tools.PlanDump [sfDir] [out]"
  *
  * The checked-in file is review evidence that the plans we ship are
  * the plans we intend (pruned scans, broadcasts where expected, no
  * stray cartesians), not whatever happened to pass.
  *
  * With three or more arguments it instead writes the plan of each
  * named registry query to `<outDir>/<query>_<tag>.txt` — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`:
  *
  *   sbt "runMain graft.tools.PlanDump plans/r15 after q1,q2,... [sfDir]"
  *
  * Plans are captured at sf0.001 by default (plan SHAPE is scale-free;
  * the bench numbers carry the timing evidence).
  */
object PlanDump {

  private val headliners: Seq[(String, String)] = Seq(
    "x_sim_ivf_refresh" ->
      "incremental ANN index refresh: base-trained centroids frozen as plan literals, each delta micro-batch assigned by a zero-shuffle row-local argmax projection and appended as an idempotent batchId segment — O(batch) per refresh, the base index never rewrites",
    "x_mmr_rerank" ->
      "MMR diversity rerank: broadcast query grid builds the bounded candidate pool once (checkpoint leaf), pairwise sims are one q_id equi-join, then the whole k-step greedy runs ROW-LOCALLY per query over one grouped row (pool is nCand-bounded by construction) — one shuffle on q_id instead of k chained step jobs",
    "x_contamination_embed" ->
      "cross-corpus semantic decontamination: packed sign-bit fingerprints per side (train-side probes), band keys join BETWEEN the frames, exact cosine verifies — never |train| × |eval|",
    "x_phash_pairs64" ->
      "64-bit image sketch pairing: BMP parse + 64-block aHash row-local, radius-6 pigeonhole blocks (~9-bit keys) equi-join, bit_count verify — never all-pairs",
    "x_ann_recall_curve" ->
      "recall-vs-cost curve: ONE trained IVF+PQ index (cached quantizers), per-probe grading is a broadcast probe equi-join + left join against the exact ground truth + one aggregate",
    "x_quality_rrf" ->
      "rank fusion: three per-language row_number windows over one scan, integer RRF sum row-local, fused re-rank window — no global sort, no join",
    "x_graph_triangles" ->
      "degree-oriented triangle census: wedge self-join at the low endpoint, closing equi-join on (x, y) — no neighborhood squaring",
    "x_select_dsir" ->
      "DSIR selection: bucket LMs broadcast onto the token stream, 1-row total scalars crossed onto the <=nBuckets table, one doc-id aggregate",
    "x_dedup_incremental" ->
      "incremental dedup: batch digests LEFT ANTI the corpus digest index — text never shuffles",
    "r_join_asof_near" ->
      "nearest as-of: one key shuffle, two window sorts (backward + forward scan), zero candidate-pair joins",
    "f_star_join" ->
      "broadcast star join: pruned fact scan, 4 BroadcastHashJoins, one exchange for the final sort",
    "r_agg_group" ->
      "partial+final hash aggregate; shipdate filter pushed to the parquet scan",
    "r_join_range" ->
      "sort-merge join on the user_id equi-anchor with the time band as residual condition — no cartesian",
    "r_window_rank" ->
      "single shuffle on o_custkey feeds the rank window; filter on rn applied before the output sort",
    "r_sort_topk" ->
      "TakeOrderedAndProject: per-partition top-k then driver merge — never a global sort",
    "x_dedup_near" ->
      "prefix-filtered postings self-join for candidates; shingle arrays only join back for the few survivors",
    "x_dedup_embed" ->
      "banded sign-LSH: literal-probe bit projection, candidate equi-join on (band, key), exact cosine verify — no cartesian anywhere",
    "x_sim_topk" ->
      "corpus scan × broadcast query set; per-query rank window on the cosine",
    "x_sim_ivf" ->
      "one persisted centroid-assignment pass feeds corpus cells and query probes; search is cell-local",
    "x_quota_cap" ->
      "two-phase top-N: window over (lang, partition) prunes locally before the per-lang rank — a hot language never serializes into one task",
    "x_tfidf_topterms" ->
      "tf/df hash aggregates, corpus N broadcast as a scalar row, per-doc rank window (bounded by per-doc vocabulary)",
    "x_pipeline_curate" ->
      "the composed curation lineage: persisted survivor/kept frames each feed several branches; the cluster fixpoint enters as a materialized localCheckpoint, so the final plan starts from labels, not the iteration",
    "x_part_prune" ->
      "hive-partitioned layout scan: the priority IN-filter lands in PartitionFilters (directory pruning at planning time), then partial+final agg",
    "x_join_bucket" ->
      "equal-bucketed join + same-key aggregate: zero exchanges until the final ORDER BY — the co-located layout does the shuffling once, at write time",
    "x_dedup_embed_cluster" ->
      "semantic-dedup composition: banded sign-LSH pairs feed the Hash-Min component loop during construction; the final plan starts at the checkpointed label fixpoint",
    "f_star_join_sql" ->
      "the spark.sql surface compiles to the SAME plan as the DataFrame star join: 4 BroadcastHashJoins, one exchange for the final sort (TierFSpec pins node-count identity)",
    "f_csv_ingest" ->
      "declared-schema CSV read with quarantine: one cached scan feeds the clean per-priority aggregate and the 1-row corrupt count, cross-joined back as a broadcast scalar",
    "x_ingest_incremental" ->
      "star refresh over checkpoint-ingested bronze: latest-per-key as one partial+final max(struct) aggregate, dim broadcast — the scan side is the incremental sink, never the source files",
    "r_scd2" ->
      "one shuffle on user_id serves BOTH windows (run-collapse lag, effective-dating lead) — the second window reuses the first's partitioning over the already-filtered change rows",
    "x_cdc_apply" ->
      "tombstone-aware current state: one partial+final max(struct) aggregate, then the delete filter over one row per key — the log never window-sorts",
    "x_domain_mix" ->
      "the corpus never shuffles: the |groups|-row rate table (group counts × broadcast 1-row n_min) broadcast-joins onto the scan, filter is a projection",
    "x_dedup_substring" ->
      "span pairing after the df-cap: spans travel as 8-byte hashes, the persisted span frame feeds the df aggregate and both join sides, fan-out bounded by maxDf²",
    "x_ngram_lm" ->
      "one shuffle (token counts); vocab + OOV floor return as broadcasts onto the token stream; the per-doc mean is an integer-sum aggregate",
    "x_dedup_span_runs" ->
      "diagonal alignment: df-capped span index self-joins on the hash, then the islands window partitions by (pair, diagonal) — worst-case window partition is one document's spans, never corpus-sized",
    "x_fingerprint_winnow" ->
      "row-local winnowing: the gram-hash array is lambda-bound (one-element transform) so the inferred size()>0 generate filter can't inline it per window — one extra hash pass per row instead of grams×windows",
    "x_nb_classify" ->
      "NB scoring: one (lang, tok) training shuffle; model + priors + floors broadcast onto the token stream; per-doc argmax window bounded by |langs|",
    "x_knn_graph" ->
      "LSH pair frame persisted, read by both union branches; per-vector rank window bounded by candidate degree — no all-pairs anywhere",
    "x_boilerplate_strip" ->
      "gram df + semi-join back on gram, covered positions assembled per doc (row-bounded collect_set), untouched docs ride the left-join null path",
    "x_snapshot_diff" ->
      "two latest-per-key max(struct) aggregates, one full-outer sort-merge join on the keys — output is the delta, unchanged keys drop before the sort",
    "x_embed_project" ->
      "JL sign projection: driver-derived ±1 literal matrix, pure row-local multiply-add — a single scan, one exchange for the final sort",
    "x_dedup_simhash64" ->
      "fused SimHashWords fingerprints inside the scan's codegen stage — blocking is the FIRST shuffle (the aggregate form needed two before it)",
    "x_graph_rank" ->
      "three PageRank rounds as join+agg pairs over the same src partitioning; integer fixed-point all the way — no float accumulation anywhere",
    "x_expect_constraints" ->
      "quality gate: 4 constraints as ONE partial+final aggregate over one scan (explode of a literal struct array fans the row out), plus one broadcast left-anti join for referential integrity",
    "x_split_leakage" ->
      "cluster-keyed split: the CC label fixpoint enters checkpointed, split fate is hash arithmetic, the leakage audit windows per rep_id (cluster-sized partitions)",
    "x_entity_resolve" ->
      "gram-blocked pair generation (equi-join on the gram, id-order predicate), CC label fixpoint checkpointed, canonical ids ride a left join back onto the record universe",
    "x_contamination_ngram" ->
      "exact decontamination: df-capped hash-gram streams, eval-side Bloom probe filters the train stream inside its codegen stage BEFORE the exchange, then equi-join + pair count",
    "r_scd2_lookup" ->
      "point-in-time lookup: the SCD2 build's user_id shuffle feeds the join's equi-anchor; the validity-interval predicate rides as residual — no range explosion",
    "f_schema_merge" ->
      "mergeSchema two-generation read: one unioned file scan with the evolved column NULL-filled for v=1 rows, then partial+final aggregate",
    "x_bpe_train" ->
      "BPE training: corpus touched once (word-frequency aggregate); each merge iteration runs at |vocab| with a TakeOrderedAndProject argmax — driver state is O(iterations) merge rows",
    "x_pipeline_tokenize" ->
      "composed encode-and-pack: persisted input feeds vocab aggregate + broadcast-vocab encode + prefix-sum packing; final doc_id equi-join — no new shuffle structure",
    "x_stream_join_outer" ->
      "left-outer stream-stream join: watermark eviction IS the null-padding trigger; state bounded by the 10-min event-time band",
    "x_stream_join_full" ->
      "full-outer stream-stream join: both sides' state evictions surface as null-padded rows, each on its own watermark clock",
    "x_stream_session_timer" ->
      "event-time timers on transformWithState: ListState holds open sessions, a timer wake-up re-checks the watermark before any emission",
    "r_scd2_chain" ->
      "recursive CTE (UnionLoopExec): per-level frontier equi-join against the SCD2 dim, frontier shrinks as chains end, depth = longest chain",
    "x_embed_pq" ->
      "product quantization encode: one shuffle-free projection — both subspace nearest-codeword argmaxes against broadcast literal codebooks in a single codegen stage",
    "x_sim_pq_adc" ->
      "ADC search: literal-LUT score projection over the persisted coded corpus, per-query window rank (bruteTopK's documented test-scale shape)",
    "x_cdc_upsert" ->
      "MERGE round trip: hash-partitioned state table, newest-slice merge reads ONLY touched partitions (PartitionFilters) and rewrites them in place (SinkSpec pins untouched partitions file-identical); final read is the compacted current state",
    "r_join_interval" ->
      "anchor-free overlap join: manufactured bin key (sequence explode inside the scan's codegen stage), shuffled equi-join on the bin with the true overlap + max-start-bin claim as residual — the naive form is a cartesian; this is a plain hash join",
    "x_sketch_rollup" ->
      "mergeable-sketch store: the rollup side aggregates the persisted KB-scale sketch table (hll_union_agg partial/final) — the base-events scan in this plan exists only to feed the bounded oracle's exact columns",
    "x_quantile_rollup" ->
      "quantile-sketch store: custom KLL TypedImperativeAggregates run partial/final over the persisted store; kll_quantile extraction is per rollup-output row — the exchange carries sketch bytes, never values",
    "x_sketch_setops" ->
      "theta set algebra: three union aggregates over the persisted day-grain sketch table in ONE pass (conditional halves + total), intersect/a-not-b/estimate as row-local scalar ops on the 1-row result",
    "x_freq_rollup" ->
      "frequent-items store: Misra-Gries union aggregate over the persisted per-language sketch table (candidate sets travel WITH the counters — per-group top-k never merges into global top-k), freq_top_items explodes the 1-row merged result; the token scan feeds only the oracle's exact side",
    "x_stream_decontam" ->
      "decontamination at ingest: per-micro-batch banded probe of the FROZEN eval MinHash index (parquet-staged before any train data flows) — candidates are an equi-join on (band, key) between batch signatures and stored index rows, O(batch) per batch, never a history rescan")

  private val defaultSfDir = "/root/testdata/sf0.001"

  private def formattedPlan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.localBuilder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (args.length >= 3) dumpQueries(spark, args(0), args(1),
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        args.lift(3).getOrElse(defaultSfDir))
      else writePlansMd(spark, args.headOption.getOrElse(defaultSfDir),
        args.lift(1).getOrElse("PLANS.md"))
    } finally spark.stop()
  }

  private def dumpQueries(spark: SparkSession, outDir: String, tag: String,
      names: Seq[String], sfDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
        formattedPlan(spark, sfDir, name))
      println(s"wrote $outDir/${name}_$tag.txt")
    }
  }

  private def writePlansMd(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sections = headliners.map { case (name, note) =>
      val plan = formattedPlan(spark, sfDir, name)
      s"""## $name
         |
         |$note
         |
         |```
         |${plan.trim}
         |```
         |""".stripMargin
    }
    val header =
      s"""# PLANS — physical plans of the headline queries
         |
         |Generated by `sbt "runMain graft.tools.PlanDump"` at sf dir
         |`$sfDir`. Regenerate after plan-affecting changes; review the
         |diff like code.
         |""".stripMargin
    Files.writeString(Paths.get(out),
      (header +: sections).mkString("\n"))
    println(s"wrote $out")
  }
}
