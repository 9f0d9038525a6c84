package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, FloatType, LongType, TimestampNTZType, TimestampType}

/** Canonical loaders for the test star schema (see FIXTURES.md).
  *
  * All tables are single parquet files per scale-factor directory. Each
  * loader is a plain parquet scan whose schema is read from one footer
  * on the driver ([[ParquetSchema]]), so building a loader starts no
  * Spark job. Catalyst's column pruning and predicate pushdown reach the
  * scan untouched — at cluster scale these become multi-file scans,
  * since nothing here forces materialization.
  *
  * `events.ts` has drifted across driver fixture generations:
  * originally TIMESTAMP(NANOS, isAdjustedToUTC=false) — which Spark's
  * vectorized reader rejects by default ([PARQUET_TYPE_ILLEGAL]), hence
  * `spark.sql.legacy.parquet.nanosAsLong=true` (long nanos since epoch)
  * recovered to µs TIMESTAMP_NTZ via integer division (`ts div 1000` —
  * exact; a double division would lose sub-microsecond precision at
  * 2024-era epochs) — and currently timestamp[us] without tz, which
  * Spark reads directly as TIMESTAMP_NTZ. The loaders dispatch on the
  * read schema so EITHER encoding works; any other physical type fails
  * fast with a one-line fixture-drift diagnosis instead of 57 opaque
  * downstream analysis errors.
  *
  * The flag is DELIBERATELY set session-globally (not saved/restored):
  * the scan consults it lazily at execution and re-planning time, so a
  * restore after the lazy `spark.read` would make previously-returned
  * DataFrames fail on their next action. Every graft session reads this
  * fixture set, where long-nanos is the intended interpretation of every
  * nano-precision parquet column; sessions that need the default
  * fail-fast behavior back must unset the flag themselves.
  */
object Tables {

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSchema.read(spark, s"$dir/$name.parquet")

  /** Fail fast if driver-regenerated data drifts from FIXTURES.md. */
  private def assertCols(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    val missing = cols.filterNot(have)
    require(missing.isEmpty, s"table $table missing expected columns: $missing (has ${df.columns.mkString(",")})")
    df
  }

  def region(spark: SparkSession, dir: String): DataFrame =
    assertCols(read(spark, dir, "region"), "region", Seq("r_regionkey", "r_name"))

  def nation(spark: SparkSession, dir: String): DataFrame =
    assertCols(read(spark, dir, "nation"), "nation", Seq("n_nationkey", "n_name", "n_regionkey"))

  def customer(spark: SparkSession, dir: String): DataFrame =
    assertCols(read(spark, dir, "customer"), "customer",
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))

  def supplier(spark: SparkSession, dir: String): DataFrame =
    assertCols(read(spark, dir, "supplier"), "supplier",
      Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))

  def part(spark: SparkSession, dir: String): DataFrame =
    assertCols(read(spark, dir, "part"), "part",
      Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))

  /** Fixture-drift guard for date-carrying columns: name the physical
    * type found and the fix, instead of dozens of opaque analysis errors
    * downstream (the events.ts lesson, round 4). */
  private def unexpectedDateish(table: String, colName: String, dt: DataType): Nothing =
    throw new IllegalArgumentException(
      s"$table.$colName read as $dt; expected TimestampNTZType " +
        "(timestamp[us]/[ms] without tz — the current fixtures), " +
        "TimestampType or DateType. Fixture drift — compare the generated " +
        "parquet against FIXTURES.md before touching any query.")

  /** Normalize a date-carrying column to TIMESTAMP_NTZ across the
    * physical encodings a fixture regeneration plausibly emits
    * (timestamp[us]/[ms] with or without tz metadata, date32) — the same
    * drift insurance as events.ts. The driver has regenerated fixtures
    * with changed physical types twice; o_orderdate/l_shipdate are the
    * next most likely casualties (r5 verdict item 4). */
  private def normDateish(df: DataFrame, table: String, colName: String): DataFrame =
    df.schema(colName).dataType match {
      case TimestampNTZType => df
      // tz-adjusted or date32 fixtures: normalize to the same naive
      // micros wall-clock (UTC session pinned by Verify/Bench/TestSpark)
      case TimestampType | DateType =>
        df.withColumn(colName, col(colName).cast("timestamp_ntz"))
      case other => unexpectedDateish(table, colName, other)
    }

  def orders(spark: SparkSession, dir: String): DataFrame =
    normDateish(assertCols(read(spark, dir, "orders"), "orders",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")),
      "orders", "o_orderdate")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    normDateish(assertCols(read(spark, dir, "lineitem"), "lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")),
      "lineitem", "l_shipdate")

  /** Fixture-drift guard: name the physical type found and the fix. */
  private def unexpectedTs(dt: DataType): Nothing =
    throw new IllegalArgumentException(
      s"events.ts read as $dt; expected LongType (int64/TIMESTAMP(NANOS) fixtures " +
        "via nanosAsLong), TimestampNTZType (timestamp[us] fixtures) or " +
        "TimestampType. Fixture drift — compare the generated parquet against " +
        "FIXTURES.md before touching any query.")

  /** events with `ts` recovered to TIMESTAMP_NTZ (µs precision, UTC session). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = assertCols(read(spark, dir, "events"), "events",
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case TimestampNTZType => raw
      case TimestampType    => raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
      case other            => unexpectedTs(other)
    }
  }

  /** events with `ts` as raw long nanos (for callers that bucket on the
    * long — see BehaviorQueries' tz-free integer-arithmetic contract).
    * NTZ fixtures synthesize the long via `timestampdiff(MICROSECOND,
    * ntz-epoch, ts) * 1000` (integer µs since the naive epoch, no
    * timezone involved); a tz-adjusted TIMESTAMP fixture would go
    * through `unix_micros` (µs since the UTC epoch — also session-tz
    * free, matching DuckDB's `epoch_ns` on the same instant). Both
    * equal the original int64-nanos fixtures floored to µs.
    */
  def eventsRawNanos(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType =>
        raw.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case TimestampType =>
        raw.withColumn("ts", expr("unix_micros(ts) * 1000"))
      case other => unexpectedTs(other)
    }
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    assertCols(read(spark, dir, "documents"), "documents",
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** embeddings with `embedding` normalized to array<float> — the same
    * drift insurance as the events ts dispatch: a regenerated fixture
    * flipping list<float> to list<double> (a common writer default)
    * would otherwise break the FloatVecDot kernel's type check across
    * the whole ANN family at once.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    val raw = assertCols(read(spark, dir, "embeddings"), "embeddings",
      Seq("vec_id", "embedding", "label"))
    raw.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(FloatType, _) => raw
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalArgumentException(
        s"embeddings.embedding read as $other; expected array<float-compatible> " +
          "(fixture drift — compare against FIXTURES.md)")
    }
  }
}
