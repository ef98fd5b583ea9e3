package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

import graft.{Conventions, Tables}
import graft.Conventions.{moneySum, moneySumOver}

/** Tier R — core relational surface (SURVEY.md §2.2).
  *
  * The reference delegates all aggregate/window/sort analytics to its BI
  * layer (reference README.md:5 promises xG/xGOT/SGA comparisons via
  * Looker over `looker_data`); this tier implements that implied surface
  * as native Catalyst plans.
  *
  * Scale design notes:
  *  - aggregates run partial+final (map-side combine) — the shuffle
  *    carries one row per (group × partition), not per input row;
  *  - money sums use exact decimal accumulation ([[Conventions.moneySum]])
  *    so results are independent of partition/merge order;
  *  - joins against small sides are broadcast; large-large joins shuffle
  *    on their equi-keys and AQE handles skew;
  *  - the range join keeps an equi-key (user_id) so Spark plans a hash
  *    join with a residual range predicate, never a cartesian product.
  */
object TierR {
  import Conventions.r4

  // ---- aggregation family ----------------------------------------------

  /** TPC-H Q1-like: filter + grouped multi-aggregate over lineitem. */
  private val rAggGroup: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        r4(avg("l_quantity")).as("avg_qty"),
        r4(avg("l_extendedprice")).as("avg_price"),
        r4(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Distinct aggregate: suppliers per return flag. */
  private val rAggDistinct: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").as("n_supp"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** HLL++ approximate distinct with a BOUNDED oracle: the raw sketch
    * estimate is engine-specific (DuckDB can't re-derive Spark's
    * HLL++), so the query emits the exact count plus a boolean
    * `approx_ok` = |approx−exact|/exact ≤ 5%, and the oracle asserts
    * exact counts with approx_ok = TRUE — the hash match then proves
    * the tolerance held, not just that rows exist. */
  private val rAggApproxDistinct: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct("l_suppkey").as("n_supp"),
        approx_count_distinct("l_suppkey").as("approx_supp"))
      .select(
        col("l_returnflag"), col("n_supp"),
        (abs(col("approx_supp") - col("n_supp")).cast("double")
          / col("n_supp") <= 0.05).as("approx_ok"))
      .orderBy("l_returnflag")

  /** Exact percentiles (linear interpolation — Spark `percentile` and
    * DuckDB `quantile_cont` share the definition) per order priority. */
  /** Quantile binning (feature discretization): the global exact
    * quartile boundaries — rounded to 4 decimals, the engine-portable
    * contract [[rAggPercentile]] already pins — land as plan literals
    * (a 1-row driver scalar, like the ANN probe vectors), and every
    * order bins by strict comparison: one row-local projection + one
    * tiny aggregate. At 100 TB the boundary pass swaps `percentile` →
    * `approx_percentile` (t-digest, the [[rAggApproxPercentile]]
    * bounded-oracle pattern); the binning pass is unchanged. */
  private val rQuantileBin: Q = (s, d) => {
    val o = Tables(s, d, "orders")
    val b = o.agg(
      round(expr("percentile(o_totalprice, 0.25)"), 4).as("q1"),
      round(expr("percentile(o_totalprice, 0.5)"), 4).as("q2"),
      round(expr("percentile(o_totalprice, 0.75)"), 4).as("q3")).head()
    o.withColumn("bin",
        when(col("o_totalprice") < b.getDouble(0), 0)
          .when(col("o_totalprice") < b.getDouble(1), 1)
          .when(col("o_totalprice") < b.getDouble(2), 2)
          .otherwise(3))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_price"),
        r4(avg(col("o_totalprice"))).as("avg_price"))
      .orderBy("bin")
  }

  private val rAggPercentile: Q = (s, d) =>
    Tables(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r4(expr("percentile(o_totalprice, 0.95)")).as("p95"),
        r4(min("o_totalprice")).as("lo"),
        r4(max("o_totalprice")).as("hi"))
      .orderBy("o_orderpriority")

  /** T-digest-style approximate percentile with a BOUNDED oracle, same
    * pattern as [[rAggApproxDistinct]]: `percentile_approx`'s sketch is
    * engine-specific, so the query emits the exact interpolated
    * quantiles plus `approx_ok` = relative error ≤ 5% against them;
    * the oracle asserts the exact values with approx_ok TRUE. */
  private val rAggApproxPercentile: Q = (s, d) =>
    Tables(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r4(expr("percentile(o_totalprice, 0.95)")).as("p95"),
        expr("percentile_approx(o_totalprice, 0.5, 1000)").as("a50"),
        expr("percentile_approx(o_totalprice, 0.95, 1000)").as("a95"))
      .select(
        col("o_orderpriority"), col("p50"), col("p95"),
        (abs(col("a50") - col("p50")) / col("p50") <= 0.05 &&
          abs(col("a95") - col("p95")) / col("p95") <= 0.05).as("approx_ok"))
      .orderBy("o_orderpriority")

  /** Statistical aggregates: sample stddev/variance and correlation. */
  private val rAggStats: Q = (s, d) =>
    Tables(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        r4(stddev_samp(col("o_totalprice"))).as("sd"),
        r4(var_samp(col("o_totalprice"))./(lit(1e6))).as("var_m"),
        r4(corr(col("o_totalprice"), col("o_custkey"))).as("price_cust_corr"))
      .orderBy("o_orderpriority")

  /** Native argmax/argmin aggregate surface (`max_by` / `min_by`,
    * DuckDB `arg_max`/`arg_min`): which order is the priciest/cheapest
    * per priority. Both engines leave ties UNSPECIFIED, so the
    * ordering key is a composite BIGINT — price in exact micro-units
    * shifted by 10⁷ with the orderkey packed into the low digits
    * (inverted for max so ties resolve to the SMALLEST key on both
    * sides) — determinism by construction, not by engine luck. */
  private val rAggArgmax: Q = (s, d) => {
    val micro = round(col("o_totalprice") * 1e6).cast("long")
    val kMax = micro * 10000000L + (lit(9999999L) - col("o_orderkey"))
    val kMin = micro * 10000000L + col("o_orderkey")
    Tables(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_orderkey"), kMax).as("best_order"),
        r4(max(col("o_totalprice"))).as("best_price"),
        min_by(col("o_orderkey"), kMin).as("worst_order"),
        r4(min(col("o_totalprice"))).as("worst_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Boolean + bitwise aggregate surface: predicate counting
    * (count_if), universal/existential reducers (bool_and/bool_or),
    * and the order-free bit reducers (bit_and/bit_or/bit_xor) — all
    * associative-commutative, so partial aggregation is exact. */
  private val rAggBoolbit: Q = (s, d) =>
    Tables(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count_if(col("o_totalprice") > 100000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_totalprice") > 400000).as("any_jumbo"),
        bit_and(col("o_orderkey")).as("key_and"),
        bit_or(col("o_orderkey")).as("key_or"),
        bit_xor(col("o_orderkey")).as("key_xor"))
      .orderBy("o_orderpriority")

  private def ordersCustNation(s: SparkSession, d: String): DataFrame = {
    val o = Tables(s, d, "orders")
    val c = Tables(s, d, "customer")
    val n = Tables(s, d, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
  }

  /** Multi-dimensional aggregates (ROLLUP / CUBE / GROUPING SETS) share
    * one SQL template over a registered temp view. (The DataFrame
    * `rollup().agg(grouping(...))` path trips Spark's ambiguous-self-join
    * detection when the grouping columns also appear in ORDER BY, so the
    * SQL front-end — same Catalyst plan — is used instead.) */
  private def groupingQuery(s: SparkSession, d: String, spec: String): DataFrame = {
    ordersCustNation(s, d)
      .select("n_name", "o_orderpriority", "o_totalprice")
      .createOrReplaceTempView("graft_ocn")
    s.sql(
      s"""SELECT n_name, o_orderpriority,
         |       CAST(grouping(n_name) AS INT) AS g_nation,
         |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
         |       count(1) AS n_orders,
         |       CAST(sum(CAST(round(o_totalprice * 1e6) AS DECIMAL(28,0))) AS DOUBLE) / 1e6 AS total
         |FROM graft_ocn
         |GROUP BY $spec
         |ORDER BY g_nation, g_prio, n_name ASC NULLS FIRST,
         |         o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** Hierarchical subtotals via ROLLUP(nation, priority). */
  private val rAggRollup: Q = (s, d) =>
    groupingQuery(s, d, "ROLLUP (n_name, o_orderpriority)")

  /** [[rAggRollup]] entirely on the DECLARATIVE surface: base tables as
    * temp views, the join chain AND the rollup in one `spark.sql`
    * statement (the DataFrame form builds the join with the API and
    * only the grouping in SQL). A broadcast hint on nation reproduces
    * the DataFrame form's dim broadcast; TierRSpec pins plan-shape and
    * value identity between the two surfaces. */
  private val rAggRollupSql: Q = (s, d) => {
    Seq("orders", "customer", "nation")
      .foreach(t => Tables(s, d, t).createOrReplaceTempView(t))
    s.sql(
      """SELECT /*+ BROADCAST(n) */
        |       n_name, o_orderpriority,
        |       CAST(grouping(n_name) AS INT) AS g_nation,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       count(1) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 1e6) AS DECIMAL(28,0))) AS DOUBLE) / 1e6 AS total
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |ORDER BY g_nation, g_prio, n_name ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  /** All subtotal combinations via CUBE(nation, priority). */
  private val rAggCube: Q = (s, d) =>
    groupingQuery(s, d, "CUBE (n_name, o_orderpriority)")

  /** Explicit GROUPING SETS. */
  private val rAggGsets: Q = (s, d) =>
    groupingQuery(s, d, "GROUPING SETS ((n_name), (o_orderpriority), ())")

  // ---- join family ------------------------------------------------------

  /** Left outer join: every customer with its order count (0 included).
    * The aggregate runs before the join, so the join carries one row per
    * customer key, not per order. */
  private val rJoinLeft: Q = (s, d) => {
    val perCust = Tables(s, d, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    val c = Tables(s, d, "customer")
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .orderBy("c_custkey")
  }

  /** Left semi join = EXISTS: customers holding an urgent order. */
  private val rJoinSemi: Q = (s, d) => {
    val urgent = Tables(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    Tables(s, d, "customer")
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left anti join = NOT EXISTS: customers with no urgent order. */
  private val rJoinAnti: Q = (s, d) => {
    val urgent = Tables(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    Tables(s, d, "customer")
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Full outer join of two per-nation aggregates. */
  private val rJoinFull: Q = (s, d) => {
    val cn = Tables(s, d, "customer")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
    val sn = Tables(s, d, "supplier")
      .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
    cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full")
      .select(
        coalesce(cn("c_nationkey"), sn("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** Range (theta) join with an equi anchor: same-user event pairs within
    * a 5-minute band. The user_id equi-key keeps this a hash/sort-merge
    * join with a residual range filter — never a cartesian product — so it
    * scales with events-per-user, not events². */
  private val rJoinRange: Q = (s, d) => {
    val e = Tables(s, d, "events")
    val e1 = e.select(
      col("user_id"), col("event_id").as("id1"), col("ts").as("ts1"))
    val e2 = e.select(
      col("user_id").as("uid2"), col("event_id").as("id2"),
      col("ts").as("ts2"))
    e1.join(
        e2,
        e1("user_id") === e2("uid2") &&
          col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTE"))
      .select(col("user_id"), col("id1"), col("id2"))
      .orderBy("user_id", "id1", "id2")
  }

  /** Overlap join WITHOUT the equi anchor [[rJoinRange]] relies on
    * (see [[graft.operators.IntervalJoin]]): purchase "attention
    * windows" `[ts, ts+120s)` that overlap across the WHOLE corpus —
    * there is no user anchor, so the naive predicate-only form plans
    * as a nested-loop/cartesian. The operator manufactures the equi
    * key by binning (W = 120 s = the interval length, so fan-out ≤ 2
    * bins/row) and the plan is a plain hash equi-join on the bin with
    * the true overlap as a residual filter; each pair is claimed
    * exactly once at the bin holding `max(s1, s2)`, so no dedup
    * shuffle. The oracle IS the naive predicate join (DuckDB's IEJoin
    * handles it at sf0.01). */
  private val rJoinInterval: Q = (s, d) => {
    val p = Tables(s, d, "events")
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"),
        col("ts").cast("long").as("s0"),
        (col("ts").cast("long") + 120L).as("e0"))
    graft.operators.IntervalJoin
      .overlapPairs(p, "event_id", "s0", "e0", binWidth = 120L)
      .orderBy("id1", "id2")
  }

  /** As-of join (composed, see [[graft.operators.AsOfJoin]]): attribute
    * each purchase to the user's most recent preceding-or-simultaneous
    * click. */
  private val rJoinAsof: Q = (s, d) => {
    val e = Tables(s, d, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    graft.operators.AsOfJoin
      .asofJoin(purchases, clicks, "user_id", "ts", "event_id", "click_id")
      .select(col("user_id"), col("purchase_id"), col("click_id"))
      .orderBy("user_id", "purchase_id")
  }

  /** Nearest-within-tolerance as-of: each purchase aligned to the
    * click minimizing |Δt|, both directions, 600 s tolerance. */
  private val rJoinAsofNear: Q = (s, d) => {
    val e = Tables(s, d, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    graft.operators.AsOfJoin
      .asofNearest(purchases, clicks, "user_id", "ts", "event_id",
        "click_id", toleranceSec = 600L)
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("dt_s"))
      .orderBy("user_id", "purchase_id")
  }

  /** Equi-width 20-bin histogram of order totals: global min/max as
    * bounded driver scalars (the x_zorder_prune pattern — no 1-row
    * broadcast cross-join in the plan), bucket arithmetic row-local. */
  private val rHistogram: Q = (s, d) => {
    val o = Tables(s, d, "orders")
    val mm = o.agg(min("o_totalprice"), max("o_totalprice")).head()
    // degenerate inputs: an empty table aggregates to (null, null) —
    // emit zero rows with the full schema; a constant column (mx == mn)
    // would divide by zero in the bucket expression — collapse to one
    // bucket covering the single value
    if (mm.isNullAt(0)) {
      val empty = o.limit(0)
      empty.select(lit(0L).as("bucket"), lit(0L).as("n"),
        lit(0d).as("bucket_total"), lit(0d).as("lo"), lit(0d).as("hi"))
        .limit(0)
    } else {
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val nb = 20
    val bucket =
      if (mx == mn) lit(0L)
      else least(
        floor((col("o_totalprice") - mn) * nb / (mx - mn)),
        lit(nb - 1.0)).cast("long")
    o.select(bucket.as("bucket"), col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        Conventions.moneySum(col("o_totalprice")).as("bucket_total"))
      .withColumn("lo", round(lit(mn) + col("bucket") * (mx - mn) / nb, 4))
      .withColumn("hi",
        round(lit(mn) + (col("bucket") + 1) * (mx - mn) / nb, 4))
      .orderBy("bucket")
    }
  }

  // ---- window family ----------------------------------------------------

  /** Ranking windows: top-3 orders per customer by price. */
  private val rWindowRank: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, d, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** [[rWindowRank]] on the DECLARATIVE surface: the same three ranking
    * functions over one named WINDOW in a single `spark.sql` statement.
    * Identical window specs collapse to ONE Window node exactly as the
    * DataFrame form's shared WindowSpec does (pinned by TierRSpec). */
  private val rWindowRankSql: Q = (s, d) => {
    Tables(s, d, "orders").createOrReplaceTempView("graft_orders_wr")
    s.sql(
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER w AS BIGINT) AS rn,
        |         CAST(rank() OVER w AS BIGINT) AS rk,
        |         CAST(dense_rank() OVER w AS BIGINT) AS drk
        |  FROM graft_orders_wr
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey)) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)
  }

  /** Frame-spec window: running revenue per supplier in ship order.
    * Decimal accumulation keeps the running values exact. */
  private val rWindowRunning: Q = (s, d) => {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, d, "lineitem")
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        moneySumOver(
          col("l_extendedprice") * (lit(1) - col("l_discount")), w)
          .as("running_rev"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_rev")
  }

  /** Analytic lag/lead: per-customer order-date gaps. */
  private val rWindowLag: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables(s, d, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        Conventions.dstr(col("o_orderdate")).as("order_date"),
        Conventions.dstr(lag("o_orderdate", 1).over(w)).as("prev_date"),
        Conventions.dstr(lead("o_orderdate", 1).over(w)).as("next_date"),
        datediff(
          to_date(col("o_orderdate")),
          to_date(lag("o_orderdate", 1).over(w))).cast("long").as("gap_days"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---- sort / set / scalar families -------------------------------------

  /** Global top-k: planned as TakeOrderedAndProject — each partition keeps
    * only k rows, so the driver merge sees k×partitions rows, not the
    * full table. */
  private val rSortTopk: Q = (s, d) =>
    Tables(s, d, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private def urgentKeys(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")

  private def bigSpenderKeys(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders").filter(col("o_totalprice") > 300000)
      .select("o_custkey")

  /** INTERSECT (set semantics). */
  private val rSetIntersect: Q = (s, d) =>
    urgentKeys(s, d).intersect(bigSpenderKeys(s, d)).orderBy("o_custkey")

  /** EXCEPT (set semantics). */
  private val rSetExcept: Q = (s, d) =>
    urgentKeys(s, d).except(bigSpenderKeys(s, d)).orderBy("o_custkey")

  /** String expression suite over part names. */
  private val rStrFns: Q = (s, d) =>
    Tables(s, d, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 5).as("pfx"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brandtype"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        trim(lower(col("p_type"))).as("ltype"))
      .orderBy("p_partkey")

  /** Datetime expression suite over order dates. */
  private val rDateFns: Q = (s, d) =>
    Tables(s, d, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        Conventions.dstr(date_trunc("month", col("o_orderdate")))
          .as("month_start"),
        Conventions.dstr(add_months(to_date(col("o_orderdate")), 3))
          .as("plus3m"),
        datediff(to_date(lit("2002-01-01")), to_date(col("o_orderdate")))
          .cast("long").as("days_to_2002"))
      .orderBy("o_orderkey")

  /** Math expression suite over lineitem prices. */
  private val rMathFns: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        r4(sqrt(col("l_extendedprice"))).as("sqrt_price"),
        r4(log(col("l_extendedprice"))).as("ln_price"),
        r4(pow(col("l_discount"), 2)).as("disc_sq"),
        floor(col("l_quantity")).as("floor_qty"),
        ceil(col("l_tax") * 100).as("ceil_tax_pct"),
        r4(abs(col("l_extendedprice") - col("l_quantity") * 1000))
          .as("abs_diff"))
      .orderBy(
        "l_orderkey", "l_linenumber", "sqrt_price", "ln_price",
        "floor_qty", "ceil_tax_pct")

  /** Array function suite over tokenized documents (ArrayType ops). */
  private val rArrayFns: Q = (s, d) => {
    val toks = split(col("text"), " ")
    Tables(s, d, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        array_contains(toks, "spark").as("has_spark"),
        size(array_distinct(toks)).cast("long").as("n_unique"),
        element_at(toks, 1).as("first_tok"),
        array_join(slice(toks, 1, 3), "_").as("first3"))
      .orderBy("doc_id")
  }

  /** JSON + MapType suite: parse props both as a struct path and as a
    * MAP<STRING,INT>, surface map keys/values. */
  private val rMapJsonFns: Q = (s, d) => {
    val m = from_json(col("props"), MapType(StringType, IntegerType))
    Tables(s, d, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        element_at(map_keys(m), 1).as("key_name"),
        element_at(m, "k").as("k_from_map"),
        size(map_keys(m)).cast("long").as("n_keys"))
      .orderBy("event_id")
  }

  /** Type-2 slowly-changing dimension over the events log: each user's
    * event_type run-collapsed into effective-dated intervals (see
    * [[graft.operators.ChangeCapture.scd2]]). Timestamps surface as
    * second-resolution strings for cross-engine hashing; ordering and
    * interval arithmetic stay at full precision. */
  private val rScd2: Q = (s, d) =>
    graft.operators.ChangeCapture.scd2(
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      keyCols = Seq("user_id"),
      orderCols = Seq("ts", "event_id"),
      attrCols = Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        Conventions.tsStr(col("eff_from")).as("eff_from_s"),
        Conventions.tsStr(col("eff_to")).as("eff_to_s"),
        col("is_current"),
        col("eff_from"))
      .orderBy("user_id", "eff_from")
      .drop("eff_from")

  /** Recursive-CTE walk of the SCD2 version chains — Spark 4's
    * `WITH RECURSIVE` (planned as `UnionLoopExec`), the declarative
    * sequential-recursion surface a SQL user porting hierarchy/chain
    * queries hits first. Each user's effective-dated intervals form a
    * linear chain (`eff_to` = successor's `eff_from`), so the
    * recursion is acyclic by construction and legal under Spark's
    * UNION ALL-only recursive-CTE rule; the explicit `ver < 25` guard
    * bounds the depth deterministically (each UnionLoop level is one
    * scheduled mini-job, so the guard is also the wall-clock knob; far
    * under the default `spark.sql.cteRecursionLevelLimit` of 100). The oracle derives
    * the same version numbers through a window `row_number` — two
    * formulations, one answer.
    *
    * Scale shape: each recursion level is one equi-join of the frontier
    * (≤ |users| rows) against the dimension on `user_id` — the frontier
    * SHRINKS as chains end; nothing is ever quadratic. */
  private val rScd2Chain: Q = (s, d) => {
    // Version-chain walk over the SCD2 dimension. Through round 14 the
    // Spark side ran this as a WITH RECURSIVE chain join (anchor at
    // min(eff_from), frontier-broadcast step on eff_from = eff_to,
    // depth cap 25) — up to 25 sequential broadcast-join levels, ~85
    // Spark jobs, and a localCheckpoint to keep UnionLoopExec from
    // re-executing the dimension build per level. But [[ChangeCapture
    // .scd2]]'s contract makes the walk order-derivable WITHOUT
    // recursion: intervals per key tile the time axis gaps-free
    // (eff_to(k) = eff_from(k+1), last eff_to NULL — ChangeCaptureSpec
    // pins it), so following eff_from = eff_to from the earliest
    // interval visits the key's intervals exactly in eff_from order,
    // and the chain position IS row_number() over eff_from. The DuckDB
    // oracle has ALWAYS stated the query this way (ver = row_number,
    // WHERE ver <= 25) — five rounds of oracle equality against the
    // recursive form already certify the equivalence; this just makes
    // the Spark plan match the oracle's shape: the dimension build
    // plus ONE window pass and the declared sort, no per-level
    // barriers, no checkpoint. The depth cap carries over as ver <= 25
    // (the recursion emitted the anchor at ver 1 and stepped only
    // while c.ver < 25, i.e. rows with ver ≤ 25).
    graft.operators.ChangeCapture.scd2(
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      keyCols = Seq("user_id"),
      orderCols = Seq("ts", "event_id"),
      attrCols = Seq("event_type"))
      .select(col("user_id"), col("event_type"), col("eff_from"),
        col("eff_to"),
        // eff_to tiebreak: scd2's tiling contract makes eff_from unique
        // per key, but if two intervals ever shared an eff_from the
        // bare order would be nondeterministic across runs — eff_to
        // (strictly after eff_from, NULL last) pins it without
        // changing the result in the gaps-free case the oracle states
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("eff_from"), col("eff_to")))
          .cast("long").as("ver"))
      .filter(col("ver") <= 25)
      .select(col("user_id"), col("ver"), col("event_type"),
        Conventions.tsStr(col("eff_from")).as("eff_from_s"),
        Conventions.tsStr(col("eff_to")).as("eff_to_s"))
      .orderBy("user_id", "ver")
  }

  /** Point-in-time (as-of) lookup against the SCD2 dimension — the
    * consumption side of [[rScd2]]'s build: each purchase event joins
    * the status interval (non-purchase event_type run) that was in
    * effect AT its timestamp. The join is an equi-join on user_id with
    * the interval predicate as a residual filter, so it shuffles once
    * on the key like any hash join; purchases before a user's first
    * status change keep a NULL status (left join). */
  private val rScd2Lookup: Q = (s, d) => {
    val ev = Tables(s, d, "events")
    val dim = graft.operators.ChangeCapture.scd2(
      ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      keyCols = Seq("user_id"),
      orderCols = Seq("ts", "event_id"),
      attrCols = Seq("event_type"))
      .select(col("user_id").as("d_user_id"), col("event_type").as("status"),
        col("eff_from"), col("eff_to"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    facts.join(dim,
        facts("user_id") === dim("d_user_id") &&
          dim("eff_from") <= facts("ts") &&
          (dim("eff_to").isNull || facts("ts") < dim("eff_to")),
        "left")
      .select(col("event_id"), col("user_id"),
        Conventions.tsStr(col("ts")).as("ts_s"),
        col("value"), col("status"),
        Conventions.tsStr(col("eff_from"))
          .as("status_since_s"))
      .orderBy("event_id")
  }

  /** RANGE-frame window (vs [[rWindowRunning]]'s ROWS frame): per
    * supplier, revenue within the trailing 7-day VALUE window of each
    * ship date. The frame is keyed on integer epoch days, so the bound
    * arithmetic is exact in any engine; peers (same-day rows) all see
    * the same total — the semantic difference from a ROWS frame that
    * this query exists to pin. */
  private val rWindowRangeFrame: Q = (s, d) => {
    val epochDay = datediff(col("l_shipdate"), lit("1970-01-01"))
    val w = Window.partitionBy("l_suppkey").orderBy(col("day"))
      .rangeBetween(-6, Window.currentRow)
    Tables(s, d, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        epochDay.as("day"),
        col("l_extendedprice"), col("l_discount"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("day"),
        Conventions.moneySumOver(
          col("l_extendedprice") * (lit(1) - col("l_discount")), w)
          .as("rev_7d"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "day", "rev_7d")
  }

  /** First-order Markov transition matrix over the event stream: for
    * each user the lead-1 next event type, then corpus-wide
    * P(next | current) with 1e-4 fixed-point probabilities (exact
    * integer counts, one IEEE division — cross-engine deterministic).
    * One shuffle on user_id for the lead window, one (from, to)
    * aggregate — grouping cardinality |types|², flat at any volume. */
  private val rTransitions: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"),
        lead("event_type", 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy("from_type")))
      .withColumn("p",
        round(col("n").cast("double") / col("n_from"), 4))
      .select("from_type", "to_type", "n", "n_from", "p")
      .orderBy("from_type", "to_type")
  }

  /** Distribution windows: cume_dist / percent_rank / ntile quartiles
    * over order prices per priority — the remaining ranking-window
    * surface beyond row_number/rank. All three are rational functions
    * of exact integer ranks, deterministic given the (price, orderkey)
    * total order; doubles round 4. */
  private val rWindowDist: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(s, d, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"),
        round(cume_dist().over(w), 4).as("cd"),
        round(percent_rank().over(w), 4).as("pr"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
  }

  /** Time-series resampling with gap fill: each user's day-by-day
    * activity over the full observed span, missing days filled with a
    * zero count and the last seen value carried forward. The day grid
    * is a generator (`sequence` over the span — row-local explode, no
    * driver loop); the carry-forward is `last(ignoreNulls)` over an
    * unbounded-preceding frame on the (user, day) ordering. One shuffle
    * on user_id serves both the grid join and the fill window. */
  private val rResample: Q = (s, d) => {
    val ev = Tables(s, d, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("day"),
        col("value"))
    val daily = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"),
        Conventions.moneySum(col("value")).as("day_value"))
    val span = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val grid = span.select(col("user_id"),
      explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(coalesce(last(col("day_value"), ignoreNulls = true).over(w),
          lit(0d)), 4).as("value_ff"))
      .orderBy("user_id", "day")
  }

  // ---- behavioral analytics over the event log ---------------------------

  /** Ordered-funnel analysis: view → click → purchase per user, each
    * stage's event strictly after the previous stage's FIRST qualifying
    * event. Three conditional-min aggregates chained by user_id joins —
    * every shuffle keys on user_id, so the co-partitioning is reused
    * stage to stage, and no window ever spans more than one user's
    * events. Stage counts + conversion vs stage 1 (the 1-row stage-1
    * count re-enters as a broadcast scalar). */
  private val rFunnel: Q = (s, d) => {
    val ev = Tables(s, d, "events").select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    def stage(df: org.apache.spark.sql.DataFrame, n: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n.toLong).as("stage"), lit(name).as("event_type"),
          col("n_users"))
    val first = s1.agg(count(lit(1)).as("n_first"))
    stage(s1, 1, "view")
      .unionByName(stage(s2, 2, "click"))
      .unionByName(stage(s3, 3, "purchase"))
      .crossJoin(broadcast(first))
      .withColumn("pct_of_first",
        round(col("n_users").cast("double") / col("n_first"), 4))
      .select("stage", "event_type", "n_users", "pct_of_first")
      .orderBy("stage")
  }

  /** Weekly retention cohorts: users bucketed by first-activity week,
    * counted by distinct activity in each later week. Week ids are
    * integer epoch-day arithmetic (div 7) — no interpolation, no
    * timezone/format dependence, exact in any engine. Two user_id
    * aggregates + one (cohort, offset) aggregate; grouping cardinality
    * is cohorts × offsets, flat at any event volume. */
  private val rRetention: Q = (s, d) => {
    val wk = (floor(datediff(to_date(col("ts")), lit("1970-01-01")) / 7))
      .cast("long")
    val ev = Tables(s, d, "events").select(col("user_id"), wk.as("week"))
    val cohorts = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Interval merge (gaps-and-islands over half-open activity
    * intervals): each event opens [t, t+300 s); overlapping or touching
    * intervals per user coalesce into one island — the canonical
    * sessionize-by-coverage shape (calendar busy-time, sensor uptime,
    * ad-exposure stitching). A new island starts exactly when an
    * event's start exceeds the running max end of every earlier
    * interval (running max, not lag(e): an early long interval must
    * swallow later short ones).
    *
    * All arithmetic is integer epoch-µs (`unix_micros`), so the result
    * is bit-exact cross-engine. Both windows and the final aggregate
    * hash on user_id — one shuffle, reused across the two window
    * passes; per-user windows never exceed one user's events, so the
    * shape is flat at any corpus size. */
  private val rIntervalMerge: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val ev = Tables(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"))
      .withColumn("e", col("t") + lit(300000000L))
    ev
      .withColumn("prev_max_e",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("t") > col("prev_max_e"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum("new_island").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(
        min("t").as("start_us"), max("e").as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderBy("user_id", "island")
  }

  /** Spark's NATIVE `session_window` aggregation surface, in batch
    * mode: each event opens [ts, ts+120 s) and overlapping windows
    * merge — semantically the same coalescing as [[rIntervalMerge]]
    * (different gap, so the two queries don't alias), but planned
    * through Catalyst's dedicated SessionWindow machinery
    * (UpdatingSessionsExec) rather than hand-rolled running-max
    * windows. Running BOTH surfaces against the same islands oracle
    * cross-validates the engine's session implementation against the
    * first-principles formulation — a Spark session_window bug could
    * not hash-match.
    *
    * The money-convention value sum rides along so the merge is
    * checked on a carried aggregate, not just counts. One shuffle on
    * (user_id) for session assembly — flat at any scale. */
  private val rSessionWindowFn: Q = (s, d) =>
    Tables(s, d, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "120 seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.Conventions.moneySum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** The IGNORE NULLS window navigation surface (SQL:2008; Spark 3.2+
    * `lag`/`lead` overloads): nearest non-null neighbor value looking
    * back and forward — the gap-bridging primitive sensor/telemetry
    * interpolation is built from (and distinct from [[rResample]]'s
    * `last(…, ignoreNulls)` carry-forward: lag/lead skip nulls while
    * COUNTING only non-null rows toward the offset). Nulls are
    * injected deterministically ('error' events), values pass through
    * with no arithmetic, so results are exact cross-engine. One
    * user_id shuffle for both windows. */
  private val rWindowFill: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables(s, d, "events")
      .withColumn("v",
        when(col("event_type") === "error", lit(null))
          .otherwise(col("value")))
      .select(
        col("user_id"), col("event_id"), col("v"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"),
        lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_v"))
      .orderBy("user_id", "event_id")
  }

  /** Time-weighted linear interpolation of missing values — the
    * numeric gap-fill a sensor/metrics pipeline runs where
    * [[rWindowFill]] only navigates to the neighbors: null readings
    * (the 'error' events) are replaced by the line between the nearest
    * non-null observations, weighted by event-time distance. Boundary
    * nulls take the single available neighbor; all-null series stay
    * null; a zero time gap (simultaneous observations) takes the
    * midpoint instead of dividing by zero. One shuffle on the key,
    * four IGNORE NULLS window navigations over it — no joins, no
    * candidate pairs, per-partition state is one carried value per
    * direction. Interpolated values round at 1e-6 so the double
    * arithmetic replays across engines; observed values pass through
    * untouched. */
  private val rInterpLinear: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables(s, d, "events")
      .withColumn("t", unix_micros(col("ts")))
      .withColumn("v",
        when(col("event_type") === "error", lit(null))
          .otherwise(col("value")))
    val m = base.select(
      col("user_id"), col("event_id"), col("t"), col("v"),
      lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"),
      lag(when(col("v").isNotNull, col("t")), 1, null, ignoreNulls = true)
        .over(w).as("prev_t"),
      lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_v"),
      lead(when(col("v").isNotNull, col("t")), 1, null, ignoreNulls = true)
        .over(w).as("next_t"))
    m.select(
      col("user_id"), col("event_id"), col("v"),
      when(col("v").isNotNull, col("v"))
        .when(col("prev_v").isNull && col("next_v").isNull, lit(null))
        .when(col("prev_v").isNull, col("next_v"))
        .when(col("next_v").isNull, col("prev_v"))
        .when(col("next_t") === col("prev_t"),
          round((col("prev_v") + col("next_v")) / 2, 6))
        .otherwise(round(
          col("prev_v") + (col("next_v") - col("prev_v"))
            * (col("t") - col("prev_t")).cast("double")
            / (col("next_t") - col("prev_t")), 6))
        .as("v_filled"),
      (col("v").isNull &&
        (col("prev_v").isNotNull || col("next_v").isNotNull))
        .as("filled"))
      .orderBy("user_id", "event_id")
  }

  val queries: Map[String, Q] = Map(
    "r_interp_linear" -> rInterpLinear,
    "r_interval_merge" -> rIntervalMerge,
    "r_session_window_fn" -> rSessionWindowFn,
    "r_window_fill" -> rWindowFill,
    "r_funnel" -> rFunnel,
    "r_retention" -> rRetention,
    "r_window_range_frame" -> rWindowRangeFrame,
    "r_transitions" -> rTransitions,
    "r_window_dist" -> rWindowDist,
    "r_resample" -> rResample,
    "r_agg_group" -> rAggGroup,
    "r_scd2" -> rScd2,
    "r_scd2_lookup" -> rScd2Lookup,
    "r_scd2_chain" -> rScd2Chain,
    "r_agg_distinct" -> rAggDistinct,
    "r_agg_listagg" -> ((s, d) =>
      // Spark 4 ordered-set aggregate surface: LISTAGG(DISTINCT …)
      // WITHIN GROUP — deterministic because the within-group order is
      // total over the distinct values
      Tables(s, d, "orders").groupBy("o_orderpriority")
        .agg(expr("listagg(DISTINCT o_orderstatus, ',') " +
          "WITHIN GROUP (ORDER BY o_orderstatus)").as("statuses"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),
    "r_variant_json" -> ((s, d) =>
      // Spark 4 VARIANT surface for semi-structured data: parse once,
      // typed-path extraction + schema introspection — the modern
      // alternative to fixed-schema from_json (f_explode_json)
      Tables(s, d, "events")
        .select(col("event_id"), expr("parse_json(props)").as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("schema_of_variant(v)").as("v_schema"))
        .filter(col("k") > 50)
        .orderBy("event_id")),
    "r_join_lateral" -> ((s, d) => {
      // correlated LATERAL subquery (top-2 orders per customer):
      // Catalyst decorrelates the ORDER BY … LIMIT body into a
      // broadcast hash join + per-key rank — the declarative twin of
      // r_window_rank's shape, no nested-loop execution
      Tables(s, d, "customer").createOrReplaceTempView("graft_lat_cust")
      Tables(s, d, "orders").createOrReplaceTempView("graft_lat_ord")
      s.sql("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
              |FROM graft_lat_cust c, LATERAL (
              |  SELECT o_orderkey, o_totalprice FROM graft_lat_ord
              |  WHERE o_custkey = c.c_custkey
              |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
              |ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""
        .stripMargin)
    }),
    "r_agg_approx_distinct" -> rAggApproxDistinct,
    "r_agg_approx_percentile" -> rAggApproxPercentile,
    "r_agg_percentile" -> rAggPercentile,
    "r_quantile_bin" -> rQuantileBin,
    "r_agg_stats" -> rAggStats,
    "r_agg_argmax" -> rAggArgmax,
    "r_agg_boolbit" -> rAggBoolbit,
    "r_agg_rollup" -> rAggRollup,
    "r_agg_rollup_sql" -> rAggRollupSql,
    "r_agg_cube" -> rAggCube,
    "r_agg_gsets" -> rAggGsets,
    "r_join_left" -> rJoinLeft,
    "r_join_semi" -> rJoinSemi,
    "r_join_anti" -> rJoinAnti,
    "r_join_full" -> rJoinFull,
    "r_join_range" -> rJoinRange,
    "r_join_interval" -> rJoinInterval,
    "r_join_asof" -> rJoinAsof,
    "r_join_asof_near" -> rJoinAsofNear,
    "r_histogram" -> rHistogram,
    "r_window_rank" -> rWindowRank,
    "r_window_rank_sql" -> rWindowRankSql,
    "r_window_running" -> rWindowRunning,
    "r_window_lag" -> rWindowLag,
    "r_sort_topk" -> rSortTopk,
    "r_set_intersect" -> rSetIntersect,
    "r_set_except" -> rSetExcept,
    "r_str_fns" -> rStrFns,
    "r_date_fns" -> rDateFns,
    "r_math_fns" -> rMathFns,
    "r_array_fns" -> rArrayFns,
    "r_map_json_fns" -> rMapJsonFns)

  val oracle: Map[String, String] = Map(
    // integer epoch-µs interval coalescing — running-max-end island
    // detection re-derived with the same explicit ROWS frames
    "r_interval_merge" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         epoch_us(ts) + 300000000 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, t, e,
        |         max(e) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND 1 PRECEDING) AS prev_max_e
        |  FROM ev),
        |i AS (
        |  SELECT user_id, t, e,
        |         CAST(sum(CASE WHEN prev_max_e IS NULL OR t > prev_max_e
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY t, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING
        |                    AND CURRENT ROW) AS BIGINT) AS island
        |  FROM m)
        |SELECT user_id, island, min(t) AS start_us, max(e) AS end_us,
        |       count(1) AS n_events, max(e) - min(t) AS dur_us
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,
    // Spark's native session_window re-derived from first principles:
    // the islands formulation with the MERGING boundary — probed
    // empirically on Spark 4.1.2, an event at exactly prev_end still
    // joins the session (touching windows coalesce, same boundary as
    // r_interval_merge) — so a SessionWindow implementation bug on
    // the Spark side cannot hash-match
    "r_session_window_fn" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS t,
        |         epoch_us(ts) + 120000000 AS e
        |  FROM events),
        |m AS (
        |  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING
        |                         AND 1 PRECEDING) AS prev_max_e
        |  FROM ev),
        |i AS (
        |  SELECT user_id, t, e, value,
        |         CAST(sum(CASE WHEN prev_max_e IS NULL OR t > prev_max_e
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY t, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING
        |                    AND CURRENT ROW) AS BIGINT) AS island
        |  FROM m)
        |SELECT user_id, min(t) AS start_us, max(e) AS end_us,
        |       count(1) AS n_events, ${moneySumSql("value")} AS sum_value
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id, start_us""".stripMargin,
    // the same SQL:2008 IGNORE NULLS navigation, DuckDB's native form;
    // values pass through untouched so the match is exact
    // same null rule and window as r_window_fill, then the identical
    // double expression tree: prev + (next - prev) * dt / span, rounded
    // 1e-6; boundary nulls take the lone neighbor, zero-gap takes the
    // midpoint
    "r_interp_linear" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         CASE WHEN event_type = 'error' THEN NULL
        |              ELSE value END AS v
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, t, v,
        |    lag(v IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, event_id) AS prev_v,
        |    lag(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, event_id) AS prev_t,
        |    lead(v IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, event_id) AS next_v,
        |    lead(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, event_id) AS next_t
        |  FROM ev)
        |SELECT user_id, event_id, v,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN prev_v IS NULL AND next_v IS NULL THEN NULL
        |       WHEN prev_v IS NULL THEN next_v
        |       WHEN next_v IS NULL THEN prev_v
        |       WHEN next_t = prev_t THEN round((prev_v + next_v) / 2, 6)
        |       ELSE round(prev_v + (next_v - prev_v)
        |              * CAST(t - prev_t AS DOUBLE)
        |              / (next_t - prev_t), 6) END AS v_filled,
        |  (v IS NULL AND (prev_v IS NOT NULL OR next_v IS NOT NULL))
        |    AS filled
        |FROM m ORDER BY user_id, event_id""".stripMargin,
    "r_window_fill" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         CASE WHEN event_type = 'error' THEN NULL
        |              ELSE value END AS v
        |  FROM events)
        |SELECT user_id, event_id, v,
        |       lag(v IGNORE NULLS) OVER
        |         (PARTITION BY user_id ORDER BY t, event_id) AS prev_v,
        |       lead(v IGNORE NULLS) OVER
        |         (PARTITION BY user_id ORDER BY t, event_id) AS next_v
        |FROM ev ORDER BY user_id, event_id""".stripMargin,
    "r_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts) AS t3
        |       FROM events e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
        |n AS (SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
        |             count(1) AS n_users FROM s1
        |      UNION ALL SELECT 2, 'click', count(1) FROM s2
        |      UNION ALL SELECT 3, 'purchase', count(1) FROM s3),
        |f AS (SELECT count(1) AS n_first FROM s1)
        |SELECT stage, event_type, n_users,
        |       round(CAST(n_users AS DOUBLE) / n_first, 4) AS pct_of_first
        |FROM n, f ORDER BY stage""".stripMargin,
    "r_retention" ->
      """WITH ev AS (SELECT user_id,
        |              CAST(datediff('day', DATE '1970-01-01',
        |                CAST(ts AS DATE)) // 7 AS BIGINT) AS week
        |            FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "r_window_range_frame" ->
      """WITH t AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |             datediff('day', DATE '1970-01-01',
        |               CAST(l_shipdate AS DATE)) AS day,
        |             l_extendedprice, l_discount FROM lineitem)
        |SELECT l_suppkey, l_orderkey, l_linenumber, day,
        |       CAST(sum(CAST(round((l_extendedprice * (1 - l_discount))
        |                * 1e6) AS DECIMAL(28,0)))
        |            OVER (PARTITION BY l_suppkey ORDER BY day
        |                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) / 1e6 AS rev_7d
        |FROM t
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, day, rev_7d""".stripMargin,
    "r_window_dist" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |       round(cume_dist() OVER w, 4) AS cd,
        |       round(percent_rank() OVER w, 4) AS pr,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin,
    "r_resample" ->
      s"""WITH ev AS (SELECT user_id,
        |              CAST(datediff('day', DATE '1970-01-01',
        |                CAST(ts AS DATE)) AS BIGINT) AS day,
        |              value FROM events),
        |daily AS (SELECT user_id, day, count(1) AS n_events,
        |            ${moneySumSql("value")} AS day_value
        |          FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |         FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day
        |         FROM span),
        |f AS (SELECT g.user_id, g.day,
        |        CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
        |        round(COALESCE(last_value(d.day_value IGNORE NULLS) OVER
        |          (PARTITION BY g.user_id ORDER BY g.day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |          0), 4) AS value_ff
        |      FROM grid g LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, day, n_events, value_ff
        |FROM f ORDER BY user_id, day""".stripMargin,
    "r_transitions" ->
      """WITH s AS (SELECT user_id, event_type AS from_type,
        |             lead(event_type, 1) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS to_type
        |           FROM events),
        |c AS (SELECT from_type, to_type, count(1) AS n FROM s
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
        |         AS n_from,
        |       round(CAST(n AS DOUBLE)
        |             / sum(n) OVER (PARTITION BY from_type), 4) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "r_agg_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "r_agg_approx_percentile" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |       TRUE AS approx_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "r_agg_percentile" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |       round(min(o_totalprice), 4) AS lo,
        |       round(max(o_totalprice), 4) AS hi
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // quartile boundaries re-derived with the same round-4 contract
    // r_agg_percentile pins cross-engine; strict < on equal doubles
    // bins identically in both engines
    "r_quantile_bin" ->
      s"""WITH q AS (SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
        |                  round(quantile_cont(o_totalprice, 0.5), 4) AS q2,
        |                  round(quantile_cont(o_totalprice, 0.75), 4) AS q3
        |           FROM orders)
        |SELECT CAST(CASE WHEN o_totalprice < q.q1 THEN 0
        |                 WHEN o_totalprice < q.q2 THEN 1
        |                 WHEN o_totalprice < q.q3 THEN 2
        |                 ELSE 3 END AS INT) AS bin,
        |       count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS total_price,
        |       round(avg(o_totalprice), 4) AS avg_price
        |FROM orders CROSS JOIN q
        |GROUP BY 1 ORDER BY bin""".stripMargin,
    "r_agg_stats" ->
      """SELECT o_orderpriority,
        |       round(stddev_samp(o_totalprice), 4) AS sd,
        |       round(var_samp(o_totalprice) / 1e6, 4) AS var_m,
        |       round(corr(o_totalprice, o_custkey), 4) AS price_cust_corr
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // identical boolean/bitwise reducers; DuckDB shares every name
    "r_agg_boolbit" ->
      """SELECT o_orderpriority,
        |       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
        |       bool_and(o_totalprice > 0) AS all_positive,
        |       bool_or(o_totalprice > 400000) AS any_jumbo,
        |       bit_and(o_orderkey) AS key_and,
        |       bit_or(o_orderkey) AS key_or,
        |       bit_xor(o_orderkey) AS key_xor
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // arg_max/arg_min on the same composite micro-unit key — engine
    // tie rules never consulted
    "r_agg_argmax" ->
      """WITH k AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        CAST(round(o_totalprice * 1e6) AS BIGINT) * 10000000
        |          AS base
        |      FROM orders)
        |SELECT o_orderpriority,
        |       arg_max(o_orderkey, base + (9999999 - o_orderkey))
        |         AS best_order,
        |       round(max(o_totalprice), 4) AS best_price,
        |       arg_min(o_orderkey, base + o_orderkey) AS worst_order,
        |       round(min(o_totalprice), 4) AS worst_price,
        |       count(1) AS n
        |FROM k GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "r_agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
        |       ${moneySumSql("l_quantity")} AS sum_qty,
        |       ${moneySumSql("l_extendedprice")} AS sum_base_price,
        |       ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
        |       ${moneySumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(1) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "r_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, count(1) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "r_agg_listagg" ->
      """SELECT o_orderpriority,
        |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |         AS statuses,
        |       count(1) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // DuckDB's JSON extraction mirrors the typed variant path; the
    // inferred variant schema is constant over the uniform {"k": int}
    // corpus, asserted as the literal
    "r_variant_json" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |       'OBJECT<k: BIGINT>' AS v_schema
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin,
    "r_join_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    // the *_sql declarative twins share their DataFrame form's oracle
    // verbatim — same output contract, same hash
    "r_agg_rollup_sql" ->
      s"""SELECT n_name, o_orderpriority,
        |       CAST(GROUPING(n_name) AS INT) AS g_nation,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |       count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS total
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |ORDER BY g_nation, g_prio, n_name ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    "r_window_rank_sql" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER w AS rn, rank() OVER w AS rk,
        |         dense_rank() OVER w AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "r_agg_rollup" ->
      s"""SELECT n_name, o_orderpriority,
        |       CAST(GROUPING(n_name) AS INT) AS g_nation,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |       count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS total
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |ORDER BY g_nation, g_prio, n_name ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    "r_agg_cube" ->
      s"""SELECT n_name, o_orderpriority,
        |       CAST(GROUPING(n_name) AS INT) AS g_nation,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |       count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS total
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY CUBE (n_name, o_orderpriority)
        |ORDER BY g_nation, g_prio, n_name ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    "r_agg_gsets" ->
      s"""SELECT n_name, o_orderpriority,
        |       CAST(GROUPING(n_name) AS INT) AS g_nation,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |       count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS total
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        |ORDER BY g_nation, g_prio, n_name ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST""".stripMargin,
    "r_join_left" ->
      """SELECT c_custkey, c_name, coalesce(cnt, 0) AS n_orders
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(1) AS cnt FROM orders GROUP BY o_custkey) oc
        |ON c_custkey = oc.o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "r_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "r_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "r_join_full" ->
      """SELECT coalesce(cn.k, sn.k) AS nationkey,
        |       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS k, count(1) AS n_cust FROM customer GROUP BY 1) cn
        |FULL OUTER JOIN (SELECT s_nationkey AS k, count(1) AS n_supp FROM supplier GROUP BY 1) sn
        |ON cn.k = sn.k
        |ORDER BY nationkey""".stripMargin,
    "r_join_range" ->
      """SELECT e1.user_id AS user_id, e1.event_id AS id1, e2.event_id AS id2
        |FROM events e1 JOIN events e2
        |ON e1.user_id = e2.user_id
        |AND CAST(e2.ts AS TIMESTAMP) > CAST(e1.ts AS TIMESTAMP)
        |AND CAST(e2.ts AS TIMESTAMP) <= CAST(e1.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
        |ORDER BY e1.user_id, id1, id2""".stripMargin,
    // the naive inequality join — correct by definition, cartesian at
    // scale; the engine's binned form must match it row-for-row
    "r_join_interval" ->
      """WITH p AS (SELECT event_id,
        |                  CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |                  CAST(floor(epoch(ts)) AS BIGINT) + 120 AS e
        |           FROM events WHERE event_type = 'purchase')
        |SELECT a.event_id AS id1, b.event_id AS id2,
        |       greatest(a.s, b.s) AS overlap_start,
        |       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_len
        |FROM p a JOIN p b
        |ON a.s < b.e AND b.s < a.e AND a.event_id < b.event_id
        |ORDER BY id1, id2""".stripMargin,
    "r_join_asof" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |                  CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |cl AS (SELECT user_id, event_id AS click_id,
        |              CAST(ts AS TIMESTAMP) AS ts
        |       FROM events WHERE event_type = 'click')
        |SELECT p.user_id AS user_id, p.purchase_id, cl.click_id
        |FROM p ASOF LEFT JOIN cl
        |ON p.user_id = cl.user_id AND p.ts >= cl.ts
        |ORDER BY p.user_id, purchase_id""".stripMargin,
    // nearest re-derived candidate-exhaustively (LATERAL min) with the
    // engine's explicit tie order (|dt|, r.ts, id); the composition's
    // per-side monotonicity makes the two equivalent
    "r_join_asof_near" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |                  CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |cl AS (SELECT user_id, event_id AS click_id,
        |              CAST(ts AS TIMESTAMP) AS ts
        |       FROM events WHERE event_type = 'click')
        |SELECT p.user_id AS user_id, p.purchase_id, c.click_id, c.dt_s
        |FROM p LEFT JOIN LATERAL (
        |  SELECT cl.click_id,
        |         abs(epoch_us(cl.ts) - epoch_us(p.ts)) // 1000000 AS dt_s
        |  FROM cl
        |  WHERE cl.user_id = p.user_id
        |    AND abs(epoch_us(cl.ts) - epoch_us(p.ts)) <= 600 * 1000000
        |  ORDER BY abs(epoch_us(cl.ts) - epoch_us(p.ts)), cl.ts,
        |           cl.click_id
        |  LIMIT 1) c ON TRUE
        |ORDER BY user_id, purchase_id""".stripMargin,
    // bounds re-derived as scalars, same IEEE bucket arithmetic and
    // the same top-bucket clamp
    "r_histogram" ->
      s"""WITH mm AS (SELECT min(o_totalprice) AS mn,
        |        max(o_totalprice) AS mx FROM orders),
        |b AS (SELECT CAST(least(
        |        floor((o_totalprice - mn) * 20 / (mx - mn)), 19.0)
        |        AS BIGINT) AS bucket,
        |        o_totalprice, mn, mx
        |      FROM orders, mm)
        |SELECT bucket, count(1) AS n,
        |       ${moneySumSql("o_totalprice")} AS bucket_total,
        |       round(max(mn) + bucket * (max(mx) - max(mn)) / 20, 4) AS lo,
        |       round(max(mn) + (bucket + 1) * (max(mx) - max(mn)) / 20, 4)
        |         AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "r_window_rank" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER w AS rn, rank() OVER w AS rk,
        |         dense_rank() OVER w AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "r_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS DECIMAL(28,0)))
        |            OVER (PARTITION BY l_suppkey
        |                  ORDER BY l_shipdate, l_orderkey, l_linenumber
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) / 1e6 AS running_rev
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_rev""".stripMargin,
    "r_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       strftime(lag(o_orderdate, 1) OVER w, '%Y-%m-%d') AS prev_date,
        |       strftime(lead(o_orderdate, 1) OVER w, '%Y-%m-%d') AS next_date,
        |       date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |                 CAST(o_orderdate AS DATE)) AS gap_days
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "r_sort_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "r_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY o_custkey""".stripMargin,
    "r_set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY o_custkey""".stripMargin,
    "r_str_fns" ->
      """SELECT p_partkey,
        |       upper(p_name) AS uname,
        |       length(p_name) AS name_len,
        |       substring(p_name, 1, 5) AS pfx,
        |       regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
        |       concat_ws('-', p_brand, p_type) AS brandtype,
        |       string_split(p_name, ' ')[1] AS first_word,
        |       trim(lower(p_type)) AS ltype
        |FROM part ORDER BY p_partkey""".stripMargin,
    "r_date_fns" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mo,
        |       CAST(day(o_orderdate) AS INT) AS dom,
        |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "r_math_fns" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(sqrt(l_extendedprice), 4) AS sqrt_price,
        |       round(ln(l_extendedprice), 4) AS ln_price,
        |       round(pow(l_discount, 2), 4) AS disc_sq,
        |       CAST(floor(l_quantity) AS BIGINT) AS floor_qty,
        |       CAST(ceil(l_tax * 100) AS BIGINT) AS ceil_tax_pct,
        |       round(abs(l_extendedprice - l_quantity * 1000), 4) AS abs_diff
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, sqrt_price, ln_price,
        |         floor_qty, ceil_tax_pct""".stripMargin,
    "r_array_fns" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       list_contains(string_split(text, ' '), 'spark') AS has_spark,
        |       len(list_distinct(string_split(text, ' '))) AS n_unique,
        |       string_split(text, ' ')[1] AS first_tok,
        |       array_to_string(list_slice(string_split(text, ' '), 1, 3), '_') AS first3
        |FROM documents ORDER BY doc_id""".stripMargin,
    "r_map_json_fns" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |       json_keys(props)[1] AS key_name,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_from_map,
        |       CAST(len(json_keys(props)) AS BIGINT) AS n_keys
        |FROM events ORDER BY event_id""".stripMargin,
    // run-collapse (null-safe lag-compare) then effective-dating via
    // lead — the standard SCD2 build replayed over the raw change log
    "r_scd2" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                  event_type FROM events),
        |l AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM x),
        |c AS (SELECT * FROM l WHERE prev IS NULL OR event_type <> prev),
        |e AS (SELECT user_id, event_type, ts AS eff_from,
        |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS eff_to FROM c)
        |SELECT user_id, event_type,
        |       strftime(eff_from, '%Y-%m-%d %H:%M:%S') AS eff_from_s,
        |       strftime(eff_to, '%Y-%m-%d %H:%M:%S') AS eff_to_s,
        |       eff_to IS NULL AS is_current
        |FROM e ORDER BY user_id, eff_from""".stripMargin,
    // the engine walks the chain RECURSIVELY (WITH RECURSIVE, UNION
    // ALL); the oracle derives the same version numbers through a
    // window row_number — two formulations, one answer. ver <= 25
    // mirrors the engine's explicit recursion-depth guard
    "r_scd2_chain" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                  event_type FROM events),
        |l AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM x),
        |c AS (SELECT * FROM l WHERE prev IS NULL OR event_type <> prev),
        |e AS (SELECT user_id, event_type, ts AS eff_from,
        |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS eff_to,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS ver
        |      FROM c)
        |SELECT user_id, CAST(ver AS BIGINT) AS ver, event_type,
        |       strftime(eff_from, '%Y-%m-%d %H:%M:%S') AS eff_from_s,
        |       strftime(eff_to, '%Y-%m-%d %H:%M:%S') AS eff_to_s
        |FROM e WHERE ver <= 25 ORDER BY user_id, ver""".stripMargin,
    // the SCD2 build replayed over the non-purchase log, then each
    // purchase left-joined to its containing validity interval
    "r_scd2_lookup" ->
      """WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                  event_type, value FROM events),
        |l AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |      FROM x WHERE event_type <> 'purchase'),
        |c AS (SELECT * FROM l WHERE prev IS NULL OR event_type <> prev),
        |e AS (SELECT user_id, event_type AS status, ts AS eff_from,
        |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS eff_to FROM c),
        |f AS (SELECT event_id, user_id, ts, value FROM x
        |      WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id,
        |       strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |       f.value, e.status,
        |       strftime(e.eff_from, '%Y-%m-%d %H:%M:%S') AS status_since_s
        |FROM f LEFT JOIN e ON f.user_id = e.user_id
        |       AND e.eff_from <= f.ts
        |       AND (e.eff_to IS NULL OR f.ts < e.eff_to)
        |ORDER BY f.event_id""".stripMargin)
}
