package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 fifteenth wave: inequality / concentration economics beside
  * Gini / Theil / HHI / Hoover / Pareto deciles — the Atkinson
  * welfare index, the Palma ratio, ABC inventory classification and
  * discrete quantile-ratio spread.
  *
  * Determinism: money stays exact centi longs; group membership and
  * class boundaries come from integer rank/threshold arithmetic
  * (ceil(p·n) as (a·n+b) DIV c, cumulative·100 vs threshold·total
  * cross-compares — never a float percent); Atkinson's per-row √x is
  * the IEEE-exact sqrt of an integer, 8dp-rounded then decimal-summed.
  */
object Round8oQueries extends graft.QueryFamily {

  /** Per-customer total order revenue in exact centi longs, with the
    * customer's nation (zero-order customers excluded — the revenue-
    * distribution population). */
  private def custRevenue(s: SparkSession, dir: String) =
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast(DecimalType(18, 0)).cast("long").as("rev"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk")),
        col("o_custkey") === col("c_custkey"))

  private val custRevenueSql =
    """cr AS (SELECT o.o_custkey, c.c_nationkey AS nk,
      |    CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS rev
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- Atkinson inequality index (ε = 1/2) -------------------------------
    // A = 1 − (Σ√xᵢ)² / (n·Σxᵢ) per nation over customer order
    // revenue — the welfare-weighted complement of agg_gini_revenue
    // (Atkinson states how much total income society could discard at
    // equal shares for equal welfare). √ of an exact centi long is
    // IEEE-correct on both engines; terms 8dp-round then decimal-sum;
    // one closed form per nation.
    "agg_atkinson" -> ((s, dir) =>
      custRevenue(s, dir)
        .groupBy("nk")
        .agg(count(lit(1)).as("n_cust"), sum("rev").as("srev"),
          sum(round(sqrt(d(col("rev"))), 8).cast(DecimalType(28, 8)))
            .as("ssqrt"))
        .select(col("nk").as("nationkey"), col("n_cust"),
          round(lit(1.0) - d(col("ssqrt")) * d(col("ssqrt"))
            / (d(col("n_cust")) * d(col("srev"))), 6).as("atkinson"))
        .orderBy("nationkey")),

    // ---- Palma ratio -----------------------------------------------------------
    // Top-10% revenue share over bottom-40% share per nation — the
    // tails-only inequality summary. Group sizes are exact integer
    // ranks under the (rev, custkey) total order (top n DIV 10,
    // bottom (4n) DIV 10); shares are exact centi sums, ratio one
    // division (NULL when the bottom mass is zero).
    "agg_palma_ratio" -> ((s, dir) => {
      val w = Window.partitionBy("nk")
        .orderBy(col("rev").asc, col("o_custkey").asc)
      val wn = Window.partitionBy("nk")
      custRevenue(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("nk")
        .agg(max("n").as("n_cust"),
          sum(when(col("rn") > col("n") - expr("n div 10"), col("rev"))
            .otherwise(0L)).as("top10"),
          sum(when(col("rn") <= expr("(4 * n) div 10"), col("rev"))
            .otherwise(0L)).as("bot40"))
        .select(col("nk").as("nationkey"), col("n_cust"),
          when(col("bot40") > 0,
            round(d(col("top10")) / d(col("bot40")), 6)).as("palma"))
        .orderBy("nationkey")
    }),

    // ---- ABC inventory classification ---------------------------------------
    // Parts classed by cumulative revenue share in descending-revenue
    // order: A while cum ≤ 80% of total, B while ≤ 95%, C after — the
    // warehouse-curation 80/15/5 rule. The global descending prefix
    // sum rides withRunningSums; class tests are exact integer
    // cross-compares (cum·100 vs threshold·total). Output: per-class
    // part counts and revenue share.
    "agg_abc_class" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("rev"))
      val r = GlobalRank.withRunningSums(rev,
        Seq((col("rev"), "cum", "tot")), Seq(),
        Seq(col("rev").desc, col("l_partkey").asc))
      r.withColumn("cls",
          when(col("cum") * 100 <= col("tot") * 80, lit("A"))
            .otherwise(when(col("cum") * 100 <= col("tot") * 95, lit("B"))
              .otherwise(lit("C"))))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("crev"),
          max("tot").as("tot"))
        .select(col("cls"), col("n_parts"),
          round(d(col("crev")) / d(col("tot")), 6).as("rev_share"))
        .orderBy("cls")
    }),

    // ---- discrete quantile-ratio spread ----------------------------------------
    // p90/p10 and p75/p25 of event value per type at the exact
    // discrete ranks ceil(p·n) (the agg_percentile_disc idiom — the
    // only floats are the data's own values; ratios NULL-guarded on a
    // zero denominator). The scale-free spread report.
    "agg_quantile_ratio" -> ((s, dir) => {
      // per-type rank over corpus-scaled events: GlobalRank, not a
      // 5-task partitioned window
      GlobalRank.withSeqAndCount(
        Tables.events(s, dir)
          .select(col("event_type"), col("value"), col("event_id")),
        "rn", "n", Seq("event_type"),
        Seq(col("value").asc, col("event_id").asc), groupsHint = 5)
        .groupBy("event_type")
        .agg(max("n").as("n"),
          max(when(col("rn") === expr("(n + 9) DIV 10"), col("value"))).as("p10"),
          max(when(col("rn") === expr("(n + 3) DIV 4"), col("value"))).as("p25"),
          max(when(col("rn") === expr("(3 * n + 3) DIV 4"), col("value"))).as("p75"),
          max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("value"))).as("p90"))
        .select(col("event_type"), col("n"), col("p10"), col("p90"),
          when(col("p10") =!= 0.0, round(col("p90") / col("p10"), 6))
            .as("ratio_9010"),
          when(col("p25") =!= 0.0, round(col("p75") / col("p25"), 6))
            .as("ratio_7525"))
        .orderBy("event_type")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_atkinson" -> s"""
      |WITH $custRevenueSql
      |SELECT CAST(nk AS BIGINT) AS nationkey,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  round(1.0 - CAST(sum(CAST(round(sqrt(CAST(rev AS DOUBLE)), 8)
      |      AS DECIMAL(28,8))) AS DOUBLE)
      |    * CAST(sum(CAST(round(sqrt(CAST(rev AS DOUBLE)), 8)
      |      AS DECIMAL(28,8))) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)), 6)
      |    AS atkinson
      |FROM cr GROUP BY nk ORDER BY nationkey""".stripMargin,

    "agg_palma_ratio" -> s"""
      |WITH $custRevenueSql,
      |rk AS (SELECT nk, rev,
      |    CAST(row_number() OVER (PARTITION BY nk
      |      ORDER BY rev, o_custkey) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY nk) AS BIGINT) AS n
      |  FROM cr)
      |SELECT CAST(nk AS BIGINT) AS nationkey, max(n) AS n_cust,
      |  CASE WHEN sum(CASE WHEN rn <= (4 * n) // 10 THEN rev ELSE 0 END) > 0
      |    THEN round(
      |      CAST(sum(CASE WHEN rn > n - n // 10 THEN rev ELSE 0 END)
      |        AS DOUBLE)
      |      / CAST(sum(CASE WHEN rn <= (4 * n) // 10 THEN rev ELSE 0 END)
      |        AS DOUBLE), 6)
      |  END AS palma
      |FROM rk GROUP BY nk ORDER BY nationkey""".stripMargin,

    "agg_abc_class" -> """
      |WITH rev AS (SELECT l_partkey,
      |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT rev,
      |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(sum(rev) OVER () AS BIGINT) AS tot
      |  FROM rev),
      |k AS (SELECT rev, tot,
      |    CASE WHEN cum * 100 <= tot * 80 THEN 'A'
      |         WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS cls
      |  FROM c)
      |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
      |  round(CAST(sum(rev) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
      |    AS rev_share
      |FROM k GROUP BY cls ORDER BY cls""".stripMargin,

    "agg_quantile_ratio" -> """
      |WITH r AS (SELECT event_type, value,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM events),
      |a AS (SELECT event_type, max(n) AS n,
      |    max(CASE WHEN rn = (n + 9) // 10 THEN value END) AS p10,
      |    max(CASE WHEN rn = (n + 3) // 4 THEN value END) AS p25,
      |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN value END) AS p75,
      |    max(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90
      |  FROM r GROUP BY event_type)
      |SELECT event_type, n, p10, p90,
      |  CASE WHEN p10 <> 0.0 THEN round(p90 / p10, 6) END AS ratio_9010,
      |  CASE WHEN p25 <> 0.0 THEN round(p75 / p25, 6) END AS ratio_7525
      |FROM a ORDER BY event_type""".stripMargin)
}
