package graft

import org.apache.spark.sql.execution.ExplainMode

/** Global plan-shape guard over the ENTIRE declared query inventory:
  * no query may plan a `CartesianProduct`, and `BroadcastNestedLoopJoin`
  * may appear only at the documented deliberate tiny-side broadcasts.
  * This is the executable form of the scaling contract (SCALING.md) —
  * a regression that re-introduces an O(n·m) pairing fails CI before it
  * reaches the bench. The same sweep pins conf purity: `spark.conf`
  * reads the same before and after every query's construction.
  *
  * Two plan sources per query, because one is not enough:
  *  - the final frame's explain (what a consumer would execute);
  *  - every batch execution fired DURING construction, captured by
  *    `Capture.during` — iterative operators (connected
  *    components, IVF training) run real jobs whose plans are invisible
  *    in the returned frame once `localCheckpoint` truncates lineage.
  */
class PlanGuardSpec extends SparkSpec {

  /** Queries whose plan legitimately contains a BNLJ, all with a
    * provably tiny broadcast side (see Bench.planMetrics notes):
    * ANN query sets, lang-ID profile grid, IVF centroid grid, TF-IDF
    * scalar corpus count, the CSV quarantine count (a broadcast of
    * ONE global-aggregate row cross-joined onto the per-priority
    * aggregate — ≤ |priorities| rows streamed), the domain-mix n_min
    * scalar (1 row, cross-joined onto the |groups|-row rate table),
    * the unigram-LM OOV-floor scalar (1 row onto the token stream),
    * the encode pass's 1-row `<unk>`-id frame, the NB classifier's
    * 1-row vocabulary-size / corpus-count scalars and |langs|-row
    * grid, and the funnel's 1-row stage-1 count. */
  private val bnljAllowed = Set(
    "x_sim_topk", "x_sim_ann_lsh", "x_sim_ivf", "x_dedup_embed",
    // inherits x_sim_ivf's centroid-grid broadcast through
    // ivfAssignments; its own probe/LUT joins are broadcast EQUI-joins
    "x_sim_ivf_pq",
    // inherits both the centroid grid (through ivfAssignments) and
    // x_sim_topk's broadcast query grid (the exact ground truth it
    // grades against); the per-probe grading itself is one left
    // EQUI-join + one aggregate
    "x_ann_recall_curve",
    // inherits x_sim_topk's broadcast query grid for its candidate
    // pool; every greedy step is left-anti + equi-joins + a window
    "x_mmr_rerank",
    // inherits x_sim_ivf_pq's centroid-grid broadcast through its
    // IVF+PQ candidate pool; refine + greedy steps are equi-joins
    "x_mmr_serving",
    "x_lang_id", "x_tfidf_topterms", "f_csv_ingest",
    // domainMix/domainUpsample cross the 1-row n_min/n_max scalar onto
    // the |groups|-row rate table
    "x_domain_mix", "x_domain_upsample", "x_ngram_lm",
    "x_encode_ids", "x_nb_classify", "x_quality_filter", "r_funnel",
    // BM25's 1-row (n_corpus, avgdl) stats scalar crossed onto the
    // per-(doc, term) contribution table
    "x_bm25_rank",
    // PMI's 1-row T and B scalars crossed onto the >=minCount bigram
    // table
    "x_colloc_pmi",
    // inherits x_quality_filter's OOV-floor scalar through its first stage
    "x_pipeline_prepare",
    // inherits x_encode_ids' 1-row <unk>-id scalar through its encode stage
    "x_pipeline_tokenize",
    // DSIR's 1-row t_raw / t_tgt LM totals crossed onto the
    // <=nBuckets-row log-ratio table
    "x_select_dsir",
    // inherits x_lang_id's |langs|-row prediction grid and
    // x_ngram_lm's 1-row OOV-floor scalar through its stages
    "x_pipeline_ccnet")

  test("no declared query plans a CartesianProduct; BNLJ only where documented") {
    // Per-query try/catch: a query that fails analysis is reported by
    // NAME as its own offender instead of aborting the whole audit —
    // the round-5 events-loader bug surfaced here as one opaque
    // mid-audit crash that hid which queries were broken.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val confBefore = spark.conf.getAll
        try {
          val (finalPlan, cap) = Capture.during(spark)(fn(spark, sf)
            .queryExecution.explainString(ExplainMode.fromString("formatted")))
          val allPlans = finalPlan +: cap.executions.map(_.executedPlan.toString)
          val cartesian = allPlans.exists(_.contains("CartesianProduct"))
          val bnlj = !bnljAllowed.contains(name) &&
            allPlans.exists(_.contains("BroadcastNestedLoopJoin"))
          // operators must not change session-global conf: a change
          // races with every concurrent query on the session
          val confAfter = spark.conf.getAll
          val confDiff = (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
            .filter(k => confBefore.get(k) != confAfter.get(k))
            .map(k => s"$k: ${confBefore.get(k)} -> ${confAfter.get(k)}")
          (if (cartesian) Seq(s"$name: CartesianProduct") else Nil) ++
            (if (bnlj) Seq(s"$name: undocumented BroadcastNestedLoopJoin") else Nil) ++
            (if (confDiff.nonEmpty)
              Seq(s"$name: changed session conf ${confDiff.mkString(", ")}")
            else Nil)
        } catch {
          case e: Exception =>
            Seq(s"$name: failed to plan — ${e.getClass.getSimpleName}: " +
              e.getMessage.linesIterator.take(1).mkString)
        }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
