package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Conventions, Tables}
import graft.streaming.StreamOps

/** Tier S — streaming queries (SURVEY.md §2.2 `x_stream_*`).
  *
  * Window semantics are identical in batch and streaming, so the first
  * three run the shared [[StreamOps]] operators on the bounded events
  * table and hash-match gaps-and-islands / epoch-arithmetic DuckDB
  * oracles. The stateful group — `x_stream_dedup` (watermarked dedup
  * over a deliberately doubled stream), `x_stream_state`
  * (flatMapGroupsWithState totals), `x_stream_hwm`
  * (transformWithState on RocksDB), `x_stream_join` (stream-stream
  * join with event-time bounds) — run REAL streaming queries to memory
  * sinks; one bounded microbatch makes each equal to a batch query,
  * which is its oracle. Multi-batch semantics (eviction, state
  * carry-over, join buffering) are pinned by StreamingSpec
  * MemoryStream tests. `x_stream_latedata` (watermark eviction) pins
  * its microbatch order — one file per trigger in mtime order — so the
  * watermark trajectory is deterministic and the eviction outcome is
  * expressible as a batch closure filter (see
  * [[StreamOps.lateDataWindowed]]).
  */
object TierS {

  private def events(s: SparkSession, d: String) = Tables(s, d, "events")

  val queries: Map[String, Q] = Map(
    "x_stream_tumbling" -> ((s, d) =>
      StreamOps.tumbling(events(s, d)).orderBy("w_start", "event_type")),
    "x_stream_sliding" -> ((s, d) =>
      StreamOps.sliding(events(s, d)).orderBy("w_start", "event_type")),
    "x_stream_session" -> ((s, d) =>
      StreamOps.sessionized(events(s, d)).orderBy("user_id", "s_start")),
    "x_stream_latedata" -> ((s, d) =>
      StreamOps.lateDataWindowed(s, d).orderBy("w_start", "event_type")),
    "x_stream_dedup" -> ((s, d) =>
      StreamOps.streamDedupRun(s, d).orderBy("event_id")),
    "x_stream_state" -> ((s, d) =>
      StreamOps.streamUserTotalsRun(s, d).orderBy("user_id")),
    "x_stream_hwm" -> ((s, d) =>
      StreamOps.streamHighWaterRun(s, d).orderBy("user_id")),
    "x_stream_join" -> ((s, d) =>
      StreamOps.streamStreamJoinRun(s, d).orderBy("a_id", "b_id")),
    "x_stream_join_outer" -> ((s, d) =>
      // Spark ascending sort puts NULL first; the oracle pins the same
      // order with NULLS FIRST on b_id
      StreamOps.streamStreamLeftJoinRun(s, d).orderBy("a_id", "b_id")),
    "x_stream_join_full" -> ((s, d) =>
      StreamOps.streamStreamFullJoinRun(s, d).orderBy("a_id", "b_id")),
    "x_stream_session_timer" -> ((s, d) =>
      StreamOps.streamTimerSessionRun(s, d).orderBy("user_id", "s_start")),
    "x_stream_static_join" -> ((s, d) =>
      StreamOps.streamStaticJoinRun(s, d).orderBy("event_id")),
    "x_stream_upsert" -> ((s, d) =>
      // streaming MERGE sink: each micro-batch foreachBatch-merges
      // into the partition-pruned CDC state table; result must equal
      // the full-log replay (the shared CDC oracle)
      StreamOps.streamingUpsertRun(s, d).orderBy("user_id")),
    "x_stream_cow_merge" -> ((s, d) =>
      // streaming ingestion into the generational table: each
      // micro-batch COW-merges (stats-pruned rewrite, file-granular
      // commit referencing untouched files), with time travel and
      // pinned snapshots holding mid-stream; result must equal the
      // last-batch-wins replay of the three change batches
      StreamOps.streamingCowMergeRun(s, d)),
    "x_incr_agg" -> ((s, d) =>
      // materialized-view maintenance: per-type (n, total) merged from
      // micro-batch partials; scaled-integer accumulation makes the
      // merged state equal the one-shot batch aggregate exactly
      StreamOps.incrementalAggRun(s, d).orderBy("event_type")),
    "x_stream_sketch" -> ((s, d) =>
      // the sketch store maintained BY STREAMING: per-batch HLL
      // partials union-merged into the persisted (day, type) store
      // (generation swap); rollup from the maintained store must equal
      // the one-shot batch rollup — shares x_sketch_rollup's oracle
      StreamOps.sketchStoreMaintainRun(s, d).orderBy("event_type")),
    "x_stream_decontam" -> ((s, d) =>
      // decontamination AT INGEST: each train micro-batch is gated
      // against the frozen eval MinHash index before landing; the
      // per-doc landed verdict must equal batch-mode decontamination
      // over the full corpus (x_contamination's chain, same params)
      StreamOps.streamDecontamRun(s, d).orderBy("doc_id")),
    "x_dedup_incr_cluster" -> ((s, d) =>
      // near-dup cluster state maintained AT INGEST: each crawl
      // micro-batch probes the accumulated band index for its new
      // pairs, then only the touched components re-resolve (bounded
      // frontier CC); the final label generation must equal batch
      // connected components over the whole corpus (x_dedup_cluster's
      // oracle, shared BY DESIGN)
      StreamOps.incrClusterRun(s, d).orderBy("doc_id")),
    "x_ingest_incremental" -> ((s, d) =>
      StreamOps.incrementalIngestRun(s, d).orderBy("user_id")),
    "x_ingest_scd" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the HISTORY view over the same checkpointed bronze: SCD2
      // effective-dating replayed over incrementally ingested changes;
      // exactly-once ingest makes it equal SCD2 over the raw table
      StreamOps.incrementalScdRun(s, d)
        .select(col("user_id"), col("event_type"),
          Conventions.tsStr(col("eff_from")).as("eff_from_s"),
          Conventions.tsStr(col("eff_to")).as("eff_to_s"),
          col("is_current"), col("eff_from"))
        .orderBy("user_id", "eff_from")
        .drop("eff_from")
    }))

  val oracle: Map[String, String] = Map(
    // shared with x_cdc_apply/x_cdc_upsert BY DESIGN: the streamed
    // micro-batch merges must equal the full-log replay exactly —
    // replay equivalence is the merge correctness contract
    "x_stream_upsert" ->
      """WITH log AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         event_type, value
        |  FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(1) OVER (PARTITION BY user_id) AS n_versions
        |      FROM log)
        |SELECT user_id, op, event_type, value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       CAST(n_versions AS BIGINT) AS n_versions
        |FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin,
    // last-batch-wins replay of the three change batches (batch 3
    // overlaps batch 1's lower range, so ordering is load-bearing):
    // the streamed sequence of COW merges must equal the one-shot
    // upsert with per-key winner = highest batch
    "x_stream_cow_merge" ->
      """WITH mx AS (SELECT max(event_id) AS m FROM events),
        |t AS (SELECT event_id, user_id, event_type, value,
        |             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |      FROM events),
        |s AS (
        |  SELECT 1 AS batch, event_id, user_id, 'u1' AS event_type,
        |         value * 2 AS value, ts_s
        |  FROM t, mx
        |  WHERE event_id BETWEEN m // 10 AND m // 5 AND event_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, event_id, user_id, 'u2', value + 10, ts_s
        |  FROM t, mx
        |  WHERE event_id BETWEEN m // 2 AND m // 2 + m // 10
        |    AND event_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, event_id + 10000000, user_id, 'ins', value, ts_s
        |  FROM t, mx
        |  WHERE event_id <= m // 20 AND event_id % 13 = 0
        |  UNION ALL
        |  SELECT 3, event_id, user_id, 'u3', value * 3, ts_s
        |  FROM t, mx
        |  WHERE event_id BETWEEN m // 10 AND m // 7 AND event_id % 3 = 0),
        |w AS (SELECT event_id, user_id, event_type, value, ts_s,
        |             row_number() OVER (PARTITION BY event_id
        |                                ORDER BY batch DESC) AS rn
        |      FROM s)
        |SELECT event_id, user_id, event_type, value, ts_s
        |FROM w WHERE rn = 1
        |UNION ALL
        |SELECT t.event_id, t.user_id, t.event_type, t.value, t.ts_s
        |FROM t WHERE NOT EXISTS
        |  (SELECT 1 FROM s WHERE s.event_id = t.event_id)
        |ORDER BY event_id""".stripMargin,
    // shared with x_dedup_cluster BY DESIGN: incrementally maintained
    // cluster state must equal batch connected components over the
    // full corpus's MinHash pair graph — star edges are
    // connectivity-equivalent and min-id representatives agree under
    // merge, so the final generation IS the batch result
    "x_dedup_incr_cluster" -> TierX.clusterOracle,
    // batch-mode decontamination over the FULL corpus (the
    // x_contamination chain, shared CTE BY DESIGN): the streaming
    // gate's per-batch hits against the frozen eval index must union
    // to exactly this set — banding is per-document independent and
    // the index is frozen, so landed = train minus batch-mode hits
    "x_stream_decontam" ->
      s"""WITH ${TierX.crossContamCte},
        |hits AS (SELECT DISTINCT d1 FROM jx
        |         WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8)
        |SELECT d.doc_id, d.lang, (h.d1 IS NULL) AS landed
        |FROM documents d
        |JOIN sp ON d.doc_id = sp.doc_id
        |LEFT JOIN hits h ON d.doc_id = h.d1
        |WHERE sp.is_train
        |ORDER BY d.doc_id""".stripMargin,
    // the one-shot batch aggregate: the maintained partial-merge state
    // must equal it bit-for-bit (scaled-integer totals are order-free)
    "x_incr_agg" ->
      s"""SELECT event_type, count(1) AS n, ${moneySumSql("value")} AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // shared with x_sketch_rollup BY DESIGN: the streamed sketch-store
    // maintenance must answer rollups exactly like the one-shot batch
    // store build — exactly-once ingest + the HLL union monoid
    "x_stream_sketch" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS dt, event_type, user_id
        |           FROM events)
        |SELECT event_type,
        |       count(DISTINCT dt) AS n_sketches,
        |       count(1) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       TRUE AS approx_ok
        |FROM e GROUP BY event_type
        |UNION ALL
        |SELECT '__all__' AS event_type,
        |       count(DISTINCT concat(CAST(dt AS VARCHAR), '|', event_type))
        |         AS n_sketches,
        |       count(1) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       TRUE AS approx_ok
        |FROM e
        |ORDER BY event_type""".stripMargin,
    "x_stream_tumbling" ->
      s"""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, count(1) AS n, ${moneySumSql("value")} AS total
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "x_stream_sliding" ->
      s"""WITH x AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |wnd AS (SELECT
        |          make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900 * 1000000) AS w_start,
        |          event_type, value
        |        FROM x, range(4) t(k))
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
        |       count(1) AS n, ${moneySumSql("value")} AS total
        |FROM wnd GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "x_stream_session" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM x),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_s FROM l),
        |g AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                         ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        |       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
        |       count(1) AS n
        |FROM g GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    // deterministic watermark trajectory (file A = all but the late
    // slice, carries max ts; file B = the slice, arrives second): the
    // final watermark is max - 1 h, every slice row is behind a closed
    // window (dropped as late), and append mode emits exactly the
    // closed windows with on-time counts — windows inside the last
    // hour stay open in state and are withheld
    "x_stream_latedata" ->
      """WITH x AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |mx AS (SELECT max(ts) AS m FROM x)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, count(1) AS n
        |FROM x, mx
        |WHERE NOT (ts >= m - INTERVAL 10 HOUR AND ts < m - INTERVAL 8 HOUR)
        |  AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    // the stream arrives DOUBLED (self-union); watermarked dedup state
    // must restore exactly one copy per event_id
    "x_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events ORDER BY event_id""".stripMargin,
    // single microbatch -> one cumulative row per user; totals
    // accumulate in integer cents, so the double division is
    // bit-identical across engines
    "x_stream_state" ->
      """SELECT user_id, count(1) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // one microbatch -> transformWithState emits each user's batch max
    "x_stream_hwm" ->
      """SELECT user_id, max(value) AS high_water
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // one bounded microbatch -> the stream-stream join equals its batch
    // form (the 10-min bound is the state-eviction contract)
    "x_stream_join" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
        |       a.event_type AS a_type,
        |       strftime(CAST(a.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS a_ts_s,
        |       strftime(CAST(b.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS b_ts_s
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
        | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
        | AND a.event_id < b.event_id
        |ORDER BY a_id, b_id""".stripMargin,
    // the outer complement: matched rows equal the inner join; an
    // unmatched a row is emitted null-padded ONLY if its whole match
    // window [a_ts, a_ts + 10 min] lies behind the final watermark
    // (max ts - 1 h) — rows inside the horizon stay in state and
    // appear in neither branch
    "x_stream_join_outer" ->
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
        |j AS (SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
        |             a.event_type AS a_type,
        |             CAST(a.ts AS TIMESTAMP) AS a_ts,
        |             CAST(b.ts AS TIMESTAMP) AS b_ts
        |      FROM events a LEFT JOIN events b
        |        ON a.user_id = b.user_id
        |       AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
        |       AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
        |       AND a.event_id < b.event_id)
        |SELECT a_id, b_id, user_id, a_type,
        |       strftime(a_ts, '%Y-%m-%d %H:%M:%S') AS a_ts_s,
        |       strftime(b_ts, '%Y-%m-%d %H:%M:%S') AS b_ts_s
        |FROM j, mx
        |WHERE b_id IS NOT NULL
        |   OR a_ts + INTERVAL 10 MINUTE < m - INTERVAL 1 HOUR
        |ORDER BY a_id, b_id NULLS FIRST""".stripMargin,
    // full-outer: both sides' evictions are visible — unmatched a once
    // its match window [a_ts, a_ts + 10 min] is behind the watermark,
    // unmatched b once b_ts itself is (any future a has a_ts ≥
    // watermark > b_ts, violating b_ts ≥ a_ts)
    "x_stream_join_full" ->
      """WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS m FROM events),
        |j AS (SELECT a.event_id AS a_id, b.event_id AS b_id,
        |             COALESCE(a.user_id, b.user_id) AS user_id,
        |             a.event_type AS a_type,
        |             CAST(a.ts AS TIMESTAMP) AS a_ts,
        |             CAST(b.ts AS TIMESTAMP) AS b_ts
        |      FROM events a FULL JOIN events b
        |        ON a.user_id = b.user_id
        |       AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
        |       AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
        |       AND a.event_id < b.event_id)
        |SELECT a_id, b_id, user_id, a_type,
        |       strftime(a_ts, '%Y-%m-%d %H:%M:%S') AS a_ts_s,
        |       strftime(b_ts, '%Y-%m-%d %H:%M:%S') AS b_ts_s
        |FROM j, mx
        |WHERE (a_id IS NOT NULL AND b_id IS NOT NULL)
        |   OR (b_id IS NULL AND a_ts + INTERVAL 10 MINUTE < m - INTERVAL 1 HOUR)
        |   OR (a_id IS NULL AND b_ts < m - INTERVAL 1 HOUR)
        |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin,
    // stream-static: one bounded microbatch makes the streaming join
    // row-identical to its batch form
    "x_stream_static_join" ->
      """WITH dim AS (SELECT event_type,
        |         CAST(row_number() OVER (ORDER BY event_type) - 1
        |              AS BIGINT) AS et_id
        |       FROM (SELECT DISTINCT event_type FROM events) t)
        |SELECT e.event_id, e.user_id, e.event_type, d.et_id,
        |       strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       e.value
        |FROM events e JOIN dim d USING (event_type)
        |ORDER BY event_id""".stripMargin,
    // timer-driven sessions: the same gaps-and-islands derivation as
    // x_stream_session, PLUS the watermark-closure filter — only
    // sessions whose close time (last event + gap) is behind the final
    // watermark were provably un-extendable and thus emitted
    "x_stream_session_timer" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |mx AS (SELECT max(ts) AS m FROM x),
        |l AS (SELECT user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM x),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_s FROM l),
        |g AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                         ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        |s AS (SELECT user_id, min(ts) AS s_start, max(ts) AS last_ts,
        |        count(1) AS n
        |      FROM g GROUP BY user_id, sid)
        |SELECT user_id, strftime(s_start, '%Y-%m-%d %H:%M:%S') AS s_start,
        |       strftime(last_ts + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
        |       n
        |FROM s, mx
        |WHERE last_ts + INTERVAL 30 MINUTE < m - INTERVAL 1 HOUR
        |ORDER BY user_id, s_start""".stripMargin,
    // the two checkpointed ingest passes must reconstruct the full
    // events table exactly once in bronze; compaction + star refresh
    // over bronze then equals this batch recompute over the raw table
    "x_ingest_incremental" ->
      """WITH latest AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(1) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events),
        |dim AS (
        |  SELECT event_type,
        |         CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS et_id
        |  FROM (SELECT DISTINCT event_type FROM events) t)
        |SELECT l.user_id, d.et_id, l.event_type, l.value,
        |       strftime(CAST(l.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       CAST(l.n_versions AS BIGINT) AS n_versions
        |FROM latest l JOIN dim d USING (event_type)
        |WHERE l.rn = 1
        |ORDER BY l.user_id""".stripMargin,
    // exactly-once bronze ≡ the raw events table, so the composed
    // ingest→SCD2 equals the batch SCD2 — literally the same oracle
    "x_ingest_scd" -> TierR.oracle("r_scd2"))
}
