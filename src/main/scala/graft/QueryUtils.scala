package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.Tables

/** Cross-engine determinism helpers (SURVEY.md §7.2), and the one
  * definition of every idiom that more than one query family shares.
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * oracle SQL, so every declared query must be bit-deterministic across
  * engines:
  *  - money/quantity sums go through decimal(18,2) (exact, order-free)
  *    and come back out as double (identical nearest-double on both sides);
  *  - averages are exact-decimal-sum / count in double (one IEEE division);
  *  - inherently inexact stats (stddev, corr, cosine) are round(x, 4);
  *  - every query ends in a total ORDER BY with a unique tiebreak.
  *
  * A Spark idiom and its DuckDB twin sit side by side (`toks` /
  * `duckToks`, `dailyCenti` / `dailyCentiSql`, `hash60` / `hash60Sql`,
  * `dailyBars` / `dailyBarsSql`, ...): a query and its
  * oracle must use the pair together, and no other source file spells
  * the SQL half out (QueriesSpec enforces it), so a drifted copy cannot
  * silently desynchronize two families that each still match their own
  * oracle.
  */
object QueryUtils {
  /** The harness query signature: (session, sfDir) => result. */
  type QFn = (SparkSession, String) => DataFrame

  /** Order-independent exact sum of a double money column, as double. */
  def decSum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** [[decSum]] for a 4-decimal money product (price·(1−disc)). */
  def decSum4(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** Exact-sum average: decimal sum / count, one double division. */
  def decAvg(c: Column): Column =
    (sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1)))

  /** round to 4 for inherently order-dependent float aggregates. */
  def r4(c: Column): Column = round(c, 4)

  /** Plain double cast (the exact-integer → double step of ratio and
    * moment formulas). */
  def d(c: Column): Column = c.cast(DoubleType)

  /** Midnight of ISO date `d` as a timestamp literal (TPC-H date
    * bounds). */
  def ts(d: String): Column = lit(d + " 00:00:00").cast("timestamp")

  /** md5-derived 60-bit non-negative int of a key column — THE shared
    * deterministic-hash idiom (sampling, sharding, splits). Engine-
    * portable: DuckDB computes the same via [[hash60Sql]]. One
    * definition on purpose:
    * llm_sample_hash / llm_shard_assign / llm_split_train /
    * llm_curate_e2e must stay bit-identical to each other — a drifted
    * copy would silently desynchronize split assignment across
    * operators while each still matches its own oracle. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** DuckDB twin of [[hash60]] over the SQL expression `c`. */
  def hash60Sql(c: String): String =
    s"('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT"

  /** Whitespace token count of the `text` column, empty tokens dropped
    * (matches the DuckDB `len($duckToks)` oracle idiom). */
  def nTok: Column =
    graft.functions.TextNGrams.mkTokenCount(col("text")).cast("long")

  /** Whitespace tokens of the `text` column, empty tokens dropped —
    * the `TokenList` kernel; DuckDB twin [[duckToks]]. */
  def toks: Column = graft.functions.TextNGrams.mkTokenList(col("text"))

  /** DuckDB token array of `text`, identical filtering to [[toks]]. */
  val duckToks = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Sentence-ender count of `text`, min 1 per doc (the FK idiom). */
  def nSent: Column =
    greatest(lit(1L), (length(col("text"))
      - length(regexp_replace(col("text"), "[.!?]", ""))).cast("long"))

  /** DuckDB twin of [[nSent]]. */
  val nSentSql =
    """greatest(1, CAST(length(text)
      |      - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT))"""
      .stripMargin

  // ---- daily per-event-type aggregates over `events` -------------------
  // (event_type, day = day-of-month as long, aggregates); each fixed
  // daily sum below has a DuckDB CTE twin named `daily` (no leading
  // WITH) with the identical columns and values.

  /** `events` grouped by (event_type, day-of-month as long `day`),
    * aggregated by `aggs` — the shape every daily helper below shares. */
  def dailyAgg(s: SparkSession, dir: String, aggs: Column*): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
      .agg(aggs.head, aggs.tail: _*)

  /** Exact decimal(18,6)-summed daily value `x`. */
  def dailyDec(s: SparkSession, dir: String): DataFrame =
    dailyAgg(s, dir, sum(col("value").cast(DecimalType(18, 6))).as("x"))

  /** DuckDB twin of [[dailyDec]]. */
  val dailyDecSql =
    """daily AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    sum(CAST(value AS DECIMAL(18,6))) AS x
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Daily value sum `xc` in exact centi-units (long; squares of a
    * day's sum still fit int64). */
  def dailyCenti(s: SparkSession, dir: String): DataFrame =
    dailyAgg(s, dir, (sum(col("value").cast(DecimalType(18, 6))) * 100)
      .cast(DecimalType(18, 0)).cast("long").as("xc"))

  /** DuckDB twin of [[dailyCenti]]. */
  val dailyCentiSql =
    """daily AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS xc
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Daily value sum `xu` in exact micro-units (long). */
  def dailyMicro(s: SparkSession, dir: String): DataFrame =
    dailyAgg(s, dir, (sum(col("value").cast(DecimalType(18, 6))) * 1000000)
      .cast("long").as("xu"))

  /** DuckDB twin of [[dailyMicro]]. */
  val dailyMicroSql =
    """daily AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS xu
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Per-event-type daily bars in exact centi-units: high `hc`, low
    * `lc`, close `cc` (the day's last event by (ts, event_id)) and
    * volume `vol` (the day's event count). */
  def dailyBars(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("ts"),
        (col("value").cast(DecimalType(18, 6)) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("xc"))
      .withColumn("day", dayofmonth(col("ts")).cast("long"))
    val wd = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rd", row_number().over(wd))
      .groupBy("event_type", "day")
      .agg(max("xc").as("hc"), min("xc").as("lc"),
        max(when(col("rd") === 1, col("xc"))).as("cc"),
        count(lit(1)).as("vol"))
  }

  /** DuckDB twin of [[dailyBars]]: CTE `bars` (no leading WITH). */
  val dailyBarsSql =
    """bars AS (SELECT event_type, day,
      |    max(xc) AS hc, min(xc) AS lc,
      |    max(CASE WHEN rd = 1 THEN xc END) AS cc,
      |    CAST(count(*) AS BIGINT) AS vol
      |  FROM (SELECT event_type, event_id,
      |      CAST(day(ts) AS BIGINT) AS day,
      |      CAST(CAST(value AS DECIMAL(18,6)) * 100
      |        AS DECIMAL(18,0))::BIGINT AS xc,
      |      row_number() OVER (PARTITION BY event_type, day(ts)
      |        ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM events) x
      |  GROUP BY 1, 2)""".stripMargin

  /** Per-event-type centi values `xc` with a per-type total-order rank
    * `rn` (by xc, event_id) and the type's size `n`. Events are
    * corpus-scaled and event_type has ~5 values, so a plain partitioned
    * window would funnel the corpus through 5 single-task groups —
    * ranked via GlobalRank instead, every stage distributed. */
  def rankedCenti(s: SparkSession, dir: String): DataFrame =
    graft.operators.GlobalRank.withSeqAndCount(
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          (col("value").cast(DecimalType(18, 6)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("xc")),
      "rn", "n", Seq("event_type"),
      Seq(col("xc").asc, col("event_id").asc), groupsHint = 5)

  /** DuckDB twin of [[rankedCenti]]: CTE `r` (no leading WITH). */
  val rankedCentiSql =
    """r AS (SELECT event_type, event_id, xc,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY xc, event_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM (SELECT event_type, event_id,
      |      CAST(CAST(value AS DECIMAL(18,6)) * 100
      |        AS DECIMAL(18,0))::BIGINT AS xc
      |    FROM events) x)""".stripMargin

  /** Runtime guard for the bounded-broadcast-ledger idiom (r11 ADVICE):
    * passes `value` through while the enclosing frame stays within
    * `bound` rows, raises a loud error otherwise. The count rides an
    * unpartitioned window — legal ONLY over a bounded AGGREGATED
    * intermediate (the PlanGuard-permitted class; data-scaled inputs
    * must never flow through this) — and the guard is folded into the
    * value column itself. The bound is on the frame's TOTAL row count,
    * not a per-group domain size (the window is unpartitioned by
    * design — it must pull the whole frame into one task, which is
    * exactly why only bounded intermediates may flow through it);
    * callers guarding a per-group assumption must size `bound` as
    * groups × per-group domain. CALLER CONTRACT: the guarded column
    * must be LOAD-BEARING (consumed downstream, as agg_quadrant_corr
    * sums its ledger count) — Catalyst prunes a guarded column nothing
    * reads, guard included (pinned in QueryUtilsSpec). The contract is
    * ENFORCED per query by PlanGuardSpec (r12 ADVICE): every guard
    * built during a declared query's construction registers its marker
    * here, and the spec asserts the marker survives into the final or
    * a staged physical plan — a pruned guard fails the suite. On a
    * live column, a violated domain assumption fails at
    * materialization (broadcast build) time instead of silently
    * inflating an O(d²) join. */
  def boundedLedgerGuard(value: Column, bound: Int, what: String): Column = {
    synchronized { guardMarkers += what }
    val ndom = count(lit(1)).over(Window.partitionBy())
    when(ndom <= lit(bound), value)
      .otherwise(raise_error(lit(
        s"$what: bounded-ledger assumption exceeded (> $bound rows)")))
  }

  // Construction-time registry of guard markers: PlanGuardSpec drains
  // this around each declared query's build and asserts every marker
  // registered during the build is still present in an inspected plan
  // (guard-liveness — the load-bearing-column contract, enforced).
  private val guardMarkers = scala.collection.mutable.ArrayBuffer[String]()

  /** Markers of every [[boundedLedgerGuard]] constructed since the
    * last drain, oldest first; clears the registry. */
  def drainGuardMarkers(): Seq[String] =
    synchronized { val r = guardMarkers.toList; guardMarkers.clear(); r }
}
