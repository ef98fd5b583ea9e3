package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loader for the driver-generated testdata parquet tables
  * (TESTDATA.md / FIXTURES.md §2).
  *
  * Each table is a single parquet file under the scale-factor dir; schemas
  * are declared in the parquet footers, so `spark.read.parquet` needs no
  * explicit `StructType` — but every consumer projects the columns it needs
  * so Catalyst prunes the scan (`ReadSchema` in `.explain`).
  *
  * At cluster scale these would be directories of many files (one per
  * partition); nothing here assumes a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // No session confs are required to read the testdata: the jar floor is
  // pinned to Spark 4.1+ (/opt/spark/jars), which reads parquet
  // TIMESTAMP(NANOS) natively as timestamp_ntz, and normalizeTs dispatches
  // on the loaded dtype anyway (it still accepts the legacy LongType shape
  // should a reader ever surface it). The former requiredConfs map
  // (spark.sql.legacy.parquet.nanosAsLong) was dead on 4.1.2 and is gone.

  /** Normalize `events.ts` to a µs-precision session-UTC TimestampType —
    * matching how DuckDB casts TIMESTAMP_NS to TIMESTAMP in the oracle —
    * regardless of how the runtime surfaced the parquet TIMESTAMP(NANOS)
    * column:
    *  - `LongType` (nanosAsLong path): floor-truncate ns→µs with integer
    *    `div` (not double division — ns epoch values exceed 2^53);
    *  - `TimestampNTZType` (Spark ≥4.1 native path): nanos were already
    *    floor-truncated to µs by the reader, so a plain cast to
    *    TimestampType (session UTC) is exact. */
  def normalizeTs(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"unexpected dtype for $colName: $other")
    }
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df, "ts")
    else df
  }
}

/** Shared conventions that keep Spark results hash-identical to the DuckDB
  * oracle (SURVEY.md §2.2 determinism rules):
  *
  *  - money sums: scaled-integer decimal accumulation (see [[moneySum]])
  *    — exact and therefore order-independent, so partial aggregation /
  *    shuffle order can't change the result, and tie-free under the
  *    Spark-vs-DuckDB double→decimal rounding difference;
  *  - doubles that are per-row deterministic (ratios, avgs over big
  *    divisors, cosines) are `round(_, 4)`;
  *  - surrogate keys: `row_number() over (order by natural_key) - 1`, cast
  *    to long (DuckDB row_number is BIGINT, Spark's is INT);
  *  - every query ends with an ORDER BY over a unique key;
  *  - temporal outputs are formatted as strings (`yyyy-MM-dd`) so DATE vs
  *    TIMESTAMP physical types can't mismatch.
  */
object Conventions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Exact, engine-portable money sum.
    *
    * Monetary inputs have ≤2 decimal digits, so products of two (price ×
    * (1−discount)) have ≤4 and of three ≤6: `expr * 1e6` is integral up to
    * fp noise ≪ 0.5, which makes round() tie-free and identical across
    * engines (Spark rounds decimal-string HALF_UP, DuckDB rounds binary
    * half-to-even — they only disagree on exact .5 ties, which scaling
    * eliminates). The integer sum in decimal is exact and therefore
    * independent of partition/merge order; the final double cast and
    * divide are deterministic.
    *
    * DuckDB oracle equivalent:
    * `CAST(sum(CAST(round(expr * 1e6) AS DECIMAL(28,0))) AS DOUBLE) / 1e6`.
    */
  def moneySum(e: Column): Column =
    (sum(round(e * lit(1000000d)).cast("decimal(28,0)")).cast("double")
      / lit(1000000d))

  /** Window variant of [[moneySum]] — same scaled-integer decimal trick. */
  def moneySumOver(
      e: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column =
    (sum(round(e * lit(1000000d)).cast("decimal(28,0)")).over(w)
      .cast("double") / lit(1000000d))

  /** Deterministic 4-decimal rounding for per-row doubles. */
  def r4(e: Column): Column = round(e, 4)

  /** yyyy-MM-dd string for a date/timestamp column. */
  def dstr(e: Column): Column = date_format(e, "yyyy-MM-dd")

  /** yyyy-MM-dd HH:mm:ss string for a timestamp column — the DuckDB
    * oracles' `strftime(ts, '%Y-%m-%d %H:%M:%S')`. */
  def tsStr(e: Column): Column = date_format(e, "yyyy-MM-dd HH:mm:ss")
}
