package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.Tables

/** Tier F — reference-fidelity operators (SURVEY.md §2.2).
  *
  * Each query re-expresses one operator of the reference pipeline
  * (`/root/reference/fotmob-dag.py`, `/root/reference/sql/create_looker_data_table.sql`)
  * on the testdata tables, as an idiomatic Catalyst-optimizable plan.
  * Scale notes per query: dims are broadcast, fact-side work stays
  * shuffle-partitioned on the join/group keys.
  */
object TierF {

  /** P5/P7 (fotmob-dag.py:103-118,149-153): scan + aliased projection.
    * Column pruning reaches the parquet scan — ReadSchema lists only the
    * five selected columns. */
  private val fScanProject: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"),
        col("l_returnflag").as("flag"))
      .orderBy("order_key", "line_no", "qty", "price", "flag")

  /** P6 (fotmob-dag.py:121): conditional scalar rewrite via CASE WHEN. */
  private val fFilterClean: Q = (s, d) =>
    Tables(s, d, "nation")
      .select(
        col("n_nationkey"),
        when(col("n_name") === "NATION_0", lit("NATION_ZERO"))
          .otherwise(col("n_name")).as("n_name_clean"),
        col("n_regionkey"))
      .orderBy("n_nationkey")

  /** D1/D3/D4 (fotmob-dag.py:124-137): single-column distinct.
    * Planned as a partial+final hash aggregate — map-side combine shrinks
    * the shuffle to (#distinct × #partitions) rows. */
  private val fDistinctKey: Q = (s, d) =>
    Tables(s, d, "orders")
      .select("o_orderpriority")
      .dropDuplicates()
      .orderBy("o_orderpriority")

  /** D5 (fotmob-dag.py:140): multi-column distinct. */
  private val fDistinctMulti: Q = (s, d) =>
    Tables(s, d, "lineitem")
      .select("l_returnflag", "l_linestatus")
      .dropDuplicates()
      .orderBy("l_returnflag", "l_linestatus")

  /** D1 (fotmob-dag.py:124-125): distinct + dense 0-based surrogate key.
    * `row_number` over an explicit order — never
    * `monotonically_increasing_id`, which is partition-dependent.
    * The unpartitioned window only ever sees the already-deduped dimension
    * rows (tiny), not the fact table, so the single-partition sort is fine
    * at any scale. */
  private val fSurrogateKey: Q = (s, d) =>
    Tables(s, d, "orders")
      .select("o_orderpriority")
      .dropDuplicates()
      .withColumn(
        "priority_id",
        (row_number().over(Window.orderBy("o_orderpriority")) - 1).cast("long"))
      .orderBy("priority_id")

  /** D2 (fotmob-dag.py:128-129): union of two projections + dedup. */
  private val fUnionDedup: Q = (s, d) => {
    val cust = Tables(s, d, "customer")
      .select(col("c_name").as("name"), col("c_nationkey").as("nationkey"))
    val supp = Tables(s, d, "supplier")
      .select(col("s_name").as("name"), col("s_nationkey").as("nationkey"))
    cust.unionByName(supp).dropDuplicates().orderBy("name", "nationkey")
  }

  /** D1-D5 + J1 + P7 (fotmob-dag.py:124-153): the full transform pipeline —
    * build dimensions from natural keys, join them back to the fact rows.
    * Dims are broadcast (a handful of rows after dedup), so the fact table
    * never shuffles. */
  private val fStarBuild: Q = (s, d) => {
    val li = Tables(s, d, "lineitem")
    val rfDim = li.select("l_returnflag").dropDuplicates()
      .withColumn(
        "rf_id",
        (row_number().over(Window.orderBy("l_returnflag")) - 1).cast("long"))
    val lsDim = li.select("l_linestatus").dropDuplicates()
      .withColumn(
        "ls_id",
        (row_number().over(Window.orderBy("l_linestatus")) - 1).cast("long"))
    li.join(broadcast(rfDim), Seq("l_returnflag"))
      .join(broadcast(lsDim), Seq("l_linestatus"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("rf_id"), col("ls_id"), col("l_quantity").as("qty"))
      .orderBy("l_orderkey", "l_linenumber", "rf_id", "ls_id", "qty")
  }

  /** J2/P8 (create_looker_data_table.sql:21-25): 5-way star join +
    * denormalizing projection. nation/region are broadcast; the
    * lineitem⋈orders⋈customer joins shuffle on their keys (at 100 TB both
    * sides are large) and AQE may still convert to broadcast when a side
    * turns out small. */
  private val fStarJoin: Q = (s, d) => {
    val li = Tables(s, d, "lineitem")
    val o = Tables(s, d, "orders")
    val c = Tables(s, d, "customer")
    val n = Tables(s, d, "nation")
    val r = Tables(s, d, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        li("l_orderkey").as("order_key"),
        li("l_linenumber").as("line_no"),
        c("c_name").as("customer"),
        n("n_name").as("nation"),
        r("r_name").as("region"),
        round(li("l_extendedprice") * (lit(1) - li("l_discount")), 4)
          .as("revenue"))
      .orderBy("order_key", "line_no", "revenue", "customer", "nation", "region")
  }

  /** J1 composite-key join (fotmob-dag.py:148): join fact rows to a
    * per-(returnflag, linestatus) aggregate on the two-column key. */
  private val fJoinComposite: Q = (s, d) => {
    val li = Tables(s, d, "lineitem")
    val agg = li.groupBy("l_returnflag", "l_linestatus")
      .agg(round(avg("l_quantity"), 4).as("avg_qty"))
    li.join(broadcast(agg), Seq("l_returnflag", "l_linestatus"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"), col("avg_qty"))
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "avg_qty")
  }

  /** J2/P8 via the DECLARATIVE surface (create_looker_data_table.sql:1-26):
    * the same 5-way star join as [[fStarJoin]], expressed as `spark.sql`
    * over temp views — the reference's own query shape (a flat SELECT over
    * chained JOINs) runs verbatim-style against this engine. Broadcast
    * hints reproduce the DataFrame form's dim broadcasts, so the two
    * surfaces compile to the same physical plan (pinned by TierFSpec:
    * node-count identity AND row/hash identity). */
  private val fStarJoinSql: Q = (s, d) => {
    Seq("lineitem", "orders", "customer", "nation", "region")
      .foreach(t => Tables(s, d, t).createOrReplaceTempView(t))
    s.sql("""
      SELECT /*+ BROADCAST(n), BROADCAST(r) */
        l.l_orderkey AS order_key,
        l.l_linenumber AS line_no,
        c.c_name AS customer,
        n.n_name AS nation,
        r.r_name AS region,
        round(l.l_extendedprice * (1 - l.l_discount), 4) AS revenue
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey  = o.o_orderkey
      JOIN customer c ON o.o_custkey   = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      ORDER BY order_key, line_no, revenue, customer, nation, region""")
  }

  /** S3 on the CSV path (SURVEY §2.1 source surface): declared-schema CSV
    * ingestion with quarantine, exercised END-TO-END — write the orders
    * table out as CSV with deliberately corrupted numeric cells (keys
    * divisible by 100 get a non-numeric `o_totalprice`), read it back via
    * [[graft.sources.Sources.readCsvPermissive]], aggregate the clean rows
    * and count the quarantined ones. The corruption is data-derived, so
    * the oracle recomputes both sides from the parquet source with no
    * baked-in constants. The parsed frame is persisted: it feeds two
    * consumers (clean aggregate + quarantine count), and caching is also
    * what legalizes a `_corrupt_record`-only subplan (Spark disallows
    * that directly over a raw CSV scan). */
  private val fCsvIngest: Q = (s, d) => {
    // the result lazily reads the CSV tree: reclaimed at JVM exit
    val tmp = graft.operators.Maintenance.scratchDir("graft_csv")
    Tables(s, d, "orders")
      .select(
        col("o_orderkey").cast("string").as("o_orderkey"),
        col("o_custkey").cast("string").as("o_custkey"),
        when(col("o_orderkey") % 100 === 0, lit("NOT_A_PRICE"))
          .otherwise(col("o_totalprice").cast("string")).as("o_totalprice"),
        col("o_orderpriority"))
      .write.option("header", "true").mode("overwrite").csv(tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", org.apache.spark.sql.types.LongType),
      StructField("o_custkey", org.apache.spark.sql.types.LongType),
      StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
      StructField("o_orderpriority", org.apache.spark.sql.types.StringType)))
    val parsed = graft.sources.Sources.readCsvPermissive(s, tmp, schema).persist()
    val clean = parsed.filter(col("_corrupt_record").isNull)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_good"),
        graft.Conventions.moneySum(col("o_totalprice")).as("sum_price"))
    val quarantined = parsed.filter(col("_corrupt_record").isNotNull)
      .groupBy().agg(count(lit(1)).as("n_quarantined"))
    clean.crossJoin(broadcast(quarantined)).orderBy("o_orderpriority")
  }

  /** K1/K2 companion on ORC (fotmob-dag.py:179-183's warehouse write,
    * re-aimed at Spark's second native columnar format): write the
    * orders table to an ORC layout once per JVM, read it back through
    * the vectorized ORC source with a pushed filter, and aggregate.
    * Oracle-checked against the SAME aggregate over the parquet
    * original, so the round-trip must preserve every value exactly. */
  private val fOrcIngest: Q = (s, d) => {
    val dir = graft.sources.Sinks.ensureOrcOrders(s, d)
    s.read.orc(dir)
      // pushed into the ORC scan (PushedFilters; pinned by SinkSpec)
      .filter(col("o_totalprice") > 1000d)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        graft.Conventions.moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** K1/K2 companion on JSON-lines (completing the source matrix:
    * parquet, CSV, ORC, JSONL — the landing format of event feeds and
    * API dumps). Write-once per JVM, read back through a DECLARED
    * schema — never runtime inference, which costs a full extra pass
    * at 100 TB — then filter + aggregate. Oracle-checked against the
    * same aggregate over the parquet original, so the round-trip must
    * preserve every value exactly (including float totalprice through
    * JSON text representation). */
  private val fJsonIngest: Q = (s, d) => {
    val dir = graft.sources.Sinks.ensureJsonOrders(s, d)
    val schema = StructType(Seq(
      StructField("o_orderkey", org.apache.spark.sql.types.LongType),
      StructField("o_orderstatus", org.apache.spark.sql.types.StringType),
      StructField("o_orderpriority", org.apache.spark.sql.types.StringType),
      StructField("o_totalprice", org.apache.spark.sql.types.DoubleType)))
    s.read.schema(schema).json(dir)
      .filter(col("o_totalprice") > 1000d)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        graft.Conventions.moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Schema evolution across dataset generations: two parquet
    * generations of orders (the later one adds `o_totalprice`) read
    * through `mergeSchema=true` — pre-evolution rows surface NULL for
    * the added column and the aggregate handles both generations in one
    * pass. The reader-side contract every long-lived warehouse layout
    * eventually needs; generation counts + null accounting are
    * oracle-checked against the unsplit original. */
  private val fSchemaMerge: Q = (s, d) => {
    val dir = graft.sources.Sinks.ensureEvolvedOrders(s, d)
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L))
          .as("n_pre_evolution"),
        graft.Conventions.moneySum(coalesce(col("o_totalprice"), lit(0d)))
          .as("sum_price_evolved"))
      .orderBy("o_orderstatus")
  }

  /** S3/P1 (fotmob-dag.py:39-44,74-77): JSON document parse + nested field
    * access. `from_json` with a declared schema, then struct-path
    * projection — the Spark shape of the reference's dict indexing. */
  private val fExplodeJson: Q = (s, d) =>
    Tables(s, d, "events")
      .select(
        col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))).as("p"))
      .select(col("event_id"), col("p.k").as("k"))
      .filter(col("k") > 50)
      .orderBy("event_id")

  val queries: Map[String, Q] = Map(
    "f_scan_project" -> fScanProject,
    "f_filter_clean" -> fFilterClean,
    "f_distinct_key" -> fDistinctKey,
    "f_distinct_multi" -> fDistinctMulti,
    "f_surrogate_key" -> fSurrogateKey,
    "f_union_dedup" -> fUnionDedup,
    "f_star_build" -> fStarBuild,
    "f_star_join" -> fStarJoin,
    "f_join_composite" -> fJoinComposite,
    "f_explode_json" -> fExplodeJson,
    "f_star_join_sql" -> fStarJoinSql,
    "f_csv_ingest" -> fCsvIngest,
    "f_orc_ingest" -> fOrcIngest,
    "f_json_ingest" -> fJsonIngest,
    "f_schema_merge" -> fSchemaMerge)

  val oracle: Map[String, String] = Map(
    "f_scan_project" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_no,
        |       l_quantity AS qty, l_extendedprice AS price, l_returnflag AS flag
        |FROM lineitem ORDER BY order_key, line_no, qty, price, flag""".stripMargin,
    "f_filter_clean" ->
      """SELECT n_nationkey,
        |       CASE WHEN n_name = 'NATION_0' THEN 'NATION_ZERO' ELSE n_name END AS n_name_clean,
        |       n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "f_distinct_key" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    "f_distinct_multi" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",
    "f_surrogate_key" ->
      """SELECT o_orderpriority,
        |       CAST(row_number() OVER (ORDER BY o_orderpriority) - 1 AS BIGINT) AS priority_id
        |FROM (SELECT DISTINCT o_orderpriority FROM orders) t
        |ORDER BY priority_id""".stripMargin,
    "f_union_dedup" ->
      """SELECT name, nationkey FROM (
        |  SELECT c_name AS name, c_nationkey AS nationkey FROM customer
        |  UNION
        |  SELECT s_name AS name, s_nationkey AS nationkey FROM supplier) t
        |ORDER BY name, nationkey""".stripMargin,
    "f_star_build" ->
      """WITH rf AS (
        |  SELECT l_returnflag,
        |         CAST(row_number() OVER (ORDER BY l_returnflag) - 1 AS BIGINT) AS rf_id
        |  FROM (SELECT DISTINCT l_returnflag FROM lineitem) t),
        |ls AS (
        |  SELECT l_linestatus,
        |         CAST(row_number() OVER (ORDER BY l_linestatus) - 1 AS BIGINT) AS ls_id
        |  FROM (SELECT DISTINCT l_linestatus FROM lineitem) t)
        |SELECT l.l_orderkey, l.l_linenumber, rf.rf_id, ls.ls_id, l.l_quantity AS qty
        |FROM lineitem l
        |JOIN rf ON l.l_returnflag = rf.l_returnflag
        |JOIN ls ON l.l_linestatus = ls.l_linestatus
        |ORDER BY l.l_orderkey, l.l_linenumber, rf.rf_id, ls.ls_id, qty""".stripMargin,
    "f_star_join" ->
      """SELECT l.l_orderkey AS order_key, l.l_linenumber AS line_no,
        |       c.c_name AS customer, n.n_name AS nation, r.r_name AS region,
        |       round(l.l_extendedprice * (1 - l.l_discount), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o   ON l.l_orderkey  = o.o_orderkey
        |JOIN customer c ON o.o_custkey   = c.c_custkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |ORDER BY order_key, line_no, revenue, customer, nation, region""".stripMargin,
    "f_join_composite" ->
      """WITH agg AS (
        |  SELECT l_returnflag, l_linestatus, round(avg(l_quantity), 4) AS avg_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_linestatus, a.avg_qty
        |FROM lineitem l
        |JOIN agg a ON l.l_returnflag = a.l_returnflag AND l.l_linestatus = a.l_linestatus
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_linestatus, avg_qty""".stripMargin,
    "f_explode_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin,
    // same result as f_star_join — the SQL surface must be value-identical
    // to the DataFrame surface
    "f_star_join_sql" ->
      """SELECT l.l_orderkey AS order_key, l.l_linenumber AS line_no,
        |       c.c_name AS customer, n.n_name AS nation, r.r_name AS region,
        |       round(l.l_extendedprice * (1 - l.l_discount), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o   ON l.l_orderkey  = o.o_orderkey
        |JOIN customer c ON o.o_custkey   = c.c_custkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |ORDER BY order_key, line_no, revenue, customer, nation, region""".stripMargin,
    // the corruption predicate (o_orderkey % 100 = 0) is re-derived from
    // the parquet source — quarantine count and clean aggregate both
    // data-dependent, no baked-in constants
    "f_csv_ingest" ->
      s"""WITH bad AS (
        |  SELECT count(1) AS n_quarantined FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT o_orderpriority, count(1) AS n_good,
        |       ${moneySumSql("o_totalprice")} AS sum_price,
        |       bad.n_quarantined
        |FROM orders, bad
        |WHERE o_orderkey % 100 <> 0
        |GROUP BY o_orderpriority, bad.n_quarantined
        |ORDER BY o_orderpriority""".stripMargin,
    "f_orc_ingest" ->
      s"""SELECT o_orderstatus, count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS sum_price
        |FROM orders WHERE o_totalprice > 1000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the JSONL round-trip must be value-exact vs the parquet original
    "f_json_ingest" ->
      s"""SELECT o_orderpriority, count(1) AS n_orders,
        |       ${moneySumSql("o_totalprice")} AS sum_price
        |FROM orders WHERE o_totalprice > 1000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the evolved layout re-derived: even keys are generation v=1
    // (no price column -> NULL under the merged schema)
    "f_schema_merge" ->
      s"""SELECT o_orderstatus, count(1) AS n_orders,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_pre_evolution,
        |       ${moneySumSql(
             "CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE o_totalprice END")}
        |         AS sum_price_evolved
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
}
