package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.E — window functions.
  *
  * Determinism: every window ORDER BY carries a unique tiebreak key and
  * frames are explicit ROWS (or RANGE over an integer epoch column) —
  * never the default RANGE frame, whose peer-row semantics differ subtly
  * across engines. Moving averages are exact decimal-sum / count so the
  * doubles are bit-identical cross-engine.
  */
object WindowQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    "win_row_number" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    "win_rank_dense" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    }),

    // Global quartile/percent_rank/cume_dist WITHOUT the single-task
    // `Window.orderBy` (r5 verdict item 1): GlobalRank's two-pass
    // range-partitioned row_number replaces the unpartitioned window;
    // the ordering is unique (o_orderkey tiebreak), so rank = rn and
    // the three ANSI stats are closed forms over (rn, n) — identical
    // values, every stage distributed.
    "win_ntile_pct" -> ((s, dir) => {
      GlobalRank.withSeqAndCount(
          Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
          "__rk", "__n", Seq.empty,
          Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select(col("o_orderkey"), col("o_totalprice"),
          GlobalRank.ntileFromSeq("__rk", "__n", 4).cast("long").as("quartile"),
          GlobalRank.percentRankFromSeq(col("__rk"), col("__n")).as("pct_rank"),
          GlobalRank.cumeDistFromSeq(col("__rk"), col("__n")).as("cume"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    }),

    "win_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          lag("o_orderdate", 1).over(w).as("prev_date"),
          lead("o_orderdate", 1).over(w).as("next_date"),
          datediff(col("o_orderdate"), lag("o_orderdate", 1).over(w)).as("gap_days"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    "win_frame_rows" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 0)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          (sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast(DoubleType)
            / count(lit(1)).over(w)).as("mavg3"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    "win_frame_range" -> ((s, dir) => {
      // trailing 1 h per user over integer epoch-microseconds: portable
      // RANGE frame with no interval-dialect divergence
      val w = Window.partitionBy("user_id").orderBy("epoch_us")
        .rangeBetween(-3600L * 1000000L, 0)
      Tables.events(s, dir)
        .withColumn("epoch_us", expr("unix_micros(cast(ts as timestamp))"))
        .select(col("event_id"), col("user_id"), col("epoch_us"),
          sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType).as("trail_1h_sum"))
        .orderBy("event_id")
    }),

    "win_first_last" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          first("o_totalprice").over(w).as("first_price"),
          last("o_totalprice").over(w).as("last_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "win_running_total" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType).as("running_total"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    "win_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    })
  )

  private val winLagLead =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  lag(o_orderdate, 1) OVER w AS prev_date,
      |  lead(o_orderdate, 1) OVER w AS next_date,
      |  CAST(date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS INT) AS gap_days
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  val oracles: Map[String, String] = Map(
    "win_row_number" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |FROM orders ORDER BY o_custkey, rn""".stripMargin,

    "win_rank_dense" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "win_ntile_pct" ->
      """SELECT o_orderkey, o_totalprice,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin,

    "win_lag_lead" -> winLagLead,

    "win_frame_rows" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS mavg3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "win_frame_range" ->
      """SELECT event_id, user_id, epoch_us(date_trunc('microsecond', ts)) AS epoch_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_1h_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(date_trunc('microsecond', ts))
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "win_topk_per_group" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  )
}
