package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Warehouse sink surface (SURVEY.md §2.1 K1/K2).
  *
  * The reference writes its six star-schema tables with pandas-gbq's
  * default `if_exists='fail'` (`fotmob-dag.py:179-183`) — write-once —
  * while the BI view is `CREATE OR REPLACE` (`create_looker_data_table
  * .sql:1`) — overwrite. The same asymmetry here, on parquet:
  *
  *  - [[writeTable]]: `SaveMode.ErrorIfExists` — a re-run against an
  *    existing table fails loudly instead of silently duplicating;
  *  - [[overwriteTable]]: CTAS-style replace for derived views;
  *  - [[writePartitioned]]: hive-style partition directories so
  *    downstream scans prune partitions at the source (`PartitionFilters`
  *    in the scan node) — the first lever for 100 TB layouts;
  *  - [[writeBucketed]]: pre-shuffled bucket layout via `bucketBy` +
  *    `saveAsTable`; equal-bucketed tables join with NO exchange on
  *    either side (asserted in SinkSpec).
  */
object Sinks {

  /** K1 semantics: write-once base table. */
  def writeTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.ErrorIfExists).parquet(path)

  /** K2 semantics: CREATE OR REPLACE for derived/BI tables. */
  def overwriteTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Partitioned layout: one directory per partition-column value;
    * filters on those columns prune whole directories at planning time. */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Partitioned orders layout for the `x_part_prune` demonstration
    * query, written once per JVM per scale factor (overwrite-safe — a
    * torn earlier write is replaced). Returns the layout path.
    *
    * o_orderpriority is the partition key: 5 values → 5 directories,
    * the lowest-cardinality natural key in the star schema, so the
    * layout itself stays small-file-safe at any scale. */
  def ensurePartitionedOrders(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_part/" +
        s"orders_${graft.CachePaths.tag(sfDir)}"
      if (!writtenLayouts.contains(dir)) {
        writePartitioned(
          graft.Tables(spark, sfDir, "orders"), dir, Seq("o_orderpriority"))
        writtenLayouts += dir
      }
      dir
    }

  private val writtenLayouts = scala.collection.mutable.Set[String]()

  /** Z-ordered lineitem layout for the `x_zorder_prune` demonstration
    * query: (l_partkey, l_suppkey) range-binned to 3 bits each, bins
    * Morton-interleaved into 64 Z-tiles ([[graft.operators.Layout]]),
    * hive-partitioned by tile. Written once per JVM per scale factor.
    *
    * `repartition(zb)` before the write makes each tile ONE task's
    * output (one file per directory), not #tasks small files — the
    * shape that stays healthy when the tile count and row count both
    * grow 1000×. */
  def ensureZOrderedLineitem(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    synchronized {
      import org.apache.spark.sql.functions._
      val dir = s"${sys.props("java.io.tmpdir")}/graft_zorder/" +
        s"lineitem_${graft.CachePaths.tag(sfDir)}"
      if (!writtenLayouts.contains(dir)) {
        val li = graft.Tables(spark, sfDir, "lineitem")
        val mm = li.agg(
          min("l_partkey"), max("l_partkey"),
          min("l_suppkey"), max("l_suppkey")).head()
        val withTile = li.withColumn("zb",
          graft.operators.Layout.zTile(
            col("l_partkey"), col("l_suppkey"),
            lit(mm.getLong(0)), lit(mm.getLong(1)),
            lit(mm.getLong(2)), lit(mm.getLong(3)), bits = 3))
        withTile.repartition(col("zb"))
          .write.mode(SaveMode.Overwrite).partitionBy("zb").parquet(dir)
        writtenLayouts += dir
      }
      dir
    }

  /** ORC copy of the orders table for the `f_orc_ingest` round-trip
    * query, written once per JVM per scale factor. ORC is the second
    * columnar warehouse format Spark ships a native vectorized
    * reader/writer for — the round-trip proves the engine's source
    * matrix isn't parquet-only, with the same pushdown machinery
    * (PushedFilters in the ORC scan is asserted by SinkSpec). */
  def ensureOrcOrders(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_orc/" +
        s"orders_${graft.CachePaths.tag(sfDir)}"
      if (!writtenLayouts.contains(dir)) {
        graft.Tables(spark, sfDir, "orders")
          .write.mode(SaveMode.Overwrite).orc(dir)
        writtenLayouts += dir
      }
      dir
    }

  /** JSON-lines copy of the orders table for the `f_json_ingest`
    * round-trip query, written once per JVM per scale factor. JSONL is
    * the third native source format after CSV and ORC — the landing
    * format of most event feeds and API dumps before they're compacted
    * to parquet. The read back goes through a DECLARED schema (never
    * runtime inference, which costs a full extra pass over 100 TB and
    * can mistype sparse columns), which also lets the scan prune to
    * the projected fields instead of materializing every attribute. */
  def ensureJsonOrders(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_json/" +
        s"orders_${graft.CachePaths.tag(sfDir)}"
      if (!writtenLayouts.contains(dir)) {
        graft.Tables(spark, sfDir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_orderpriority",
            "o_totalprice")
          .write.mode(SaveMode.Overwrite).json(dir)
        writtenLayouts += dir
      }
      dir
    }

  /** Schema-evolved orders layout for the `f_schema_merge` query,
    * written once per JVM per scale factor: generation v=1 holds the
    * narrow original schema (key, status, priority — even order keys),
    * generation v=2 adds the later `o_totalprice` column (odd keys) —
    * the layout every long-lived dataset grows into as its producer
    * evolves. Readers opt into `mergeSchema=true` and see the union
    * schema with NULLs for the pre-evolution rows. */
  def ensureEvolvedOrders(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    synchronized {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_evolved/" +
        s"orders_${graft.CachePaths.tag(sfDir)}"
      if (!writtenLayouts.contains(dir)) {
        val o = graft.Tables(spark, sfDir, "orders")
        o.filter(org.apache.spark.sql.functions.col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_orderstatus", "o_orderpriority")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/v=1")
        o.filter(org.apache.spark.sql.functions.col("o_orderkey") % 2 =!= 0)
          .select("o_orderkey", "o_orderstatus", "o_orderpriority",
            "o_totalprice")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/v=2")
        writtenLayouts += dir
      }
      dir
    }

  /** Bucketed orders/customer pair for the `x_join_bucket`
    * demonstration query, written once per JVM per scale factor. Both
    * tables bucket (and sort) on the join key with the same bucket
    * count, so the join — and the aggregate that follows on the same
    * key — run with ZERO exchanges. Returns the (orders, customer)
    * table names. */
  def ensureBucketedPair(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (String, String) = synchronized {
    val tag = graft.CachePaths.tag(sfDir)
    val (ot, ct) = (s"b_orders_$tag", s"b_customer_$tag")
    if (!writtenLayouts.contains(ot)) {
      writeBucketed(
        graft.Tables(spark, sfDir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        ot, 8, Seq("o_custkey"))
      writeBucketed(
        graft.Tables(spark, sfDir, "customer")
          .select("c_custkey", "c_name", "c_nationkey"),
        ct, 8, Seq("c_custkey"))
      writtenLayouts += ot
    }
    (ot, ct)
  }

  /** Where [[writeBucketed]] puts its files: one scratch directory per
    * JVM, reclaimed at exit, so bucketed copies never land in the
    * working directory's `spark-warehouse/`. */
  private lazy val bucketedRoot =
    graft.operators.Maintenance.scratchDir("graft_bucketed")

  /** Bucketed layout registered in the session catalog: rows are
    * hash-distributed into `nBuckets` files per partition by
    * `bucketCols`, and sorted within buckets — joins/aggregations on the
    * bucket keys skip the shuffle entirely. The table is external, its
    * files under [[bucketedRoot]]. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      nBuckets: Int,
      bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .option("path", s"$bucketedRoot/$table")
      .saveAsTable(table)
}
