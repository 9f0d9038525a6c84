package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 sixth wave: revenue decomposition and concentration
  * analytics — price/volume-mix decomposition between two years, the
  * discount-band revenue-per-unit lift curve, the 80/20 Pareto
  * customer cut and the repeat-purchase rate per brand.
  *
  * Determinism: revenues are exact centi longs (decimal sums),
  * quantities exact longs; every per-unit ratio and lift is a half-up
  * integer division of exact decimal products (no raw rounded
  * quotients); the 80% Pareto threshold is the integer cross-multiply
  * 5·cum ≥ 4·total, so 0.8 never materializes as a double; prefix
  * sums ride GlobalRank.withRunningSums (no single-partition window).
  */
object Round9fQueries extends graft.QueryFamily {

  /** lineitem ⋈ orders(year) ⋈ part(brand) with exact centi revenue
    * and integer quantity. */
  private def liBrandYear(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"),
        col("p_brand"))), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("yr"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("rc"),
        col("l_quantity").cast(DecimalType(18, 0)).cast("long").as("q"))

  private val liBrandYearSql =
    """li AS (SELECT p.p_brand AS brand, year(o.o_orderdate) AS yr,
      |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS DECIMAL(18,0))::BIGINT AS rc,
      |    CAST(CAST(l.l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- price / volume mix decomposition -----------------------------------------
    // ΔRev(brand, 1996→1997) split into a volume effect (1996 unit
    // economics at 1997 volume) and the residual price effect — the
    // two add back to the exact delta by construction. Brands active
    // in both years only.
    "agg_price_volume_mix" -> ((s, dir) =>
      liBrandYear(s, dir)
        .where(col("yr").isin(1996, 1997))
        .groupBy("brand")
        .agg(sum(when(col("yr") === 1996, col("rc"))).as("r0"),
          sum(when(col("yr") === 1996, col("q"))).as("q0"),
          sum(when(col("yr") === 1997, col("rc"))).as("r1"),
          sum(when(col("yr") === 1997, col("q"))).as("q1"))
        .where(col("q0") > 0 && col("q1") > 0)
        .withColumn("ve", expr(
          "(2 * CAST(r0 AS DECIMAL(38,0)) * q1 + q0) div (2 * q0) - r0"))
        .select(col("brand"),
          (d(col("r0")) / 100.0).as("rev_1996"),
          (d(col("r1")) / 100.0).as("rev_1997"),
          (d(col("ve")) / 100.0).as("volume_effect"),
          (d(col("r1") - col("r0") - col("ve")) / 100.0).as("price_effect"))
        .orderBy("brand")),

    // ---- discount-band revenue-per-unit lift ---------------------------------------
    // Per discount centi band: revenue per unit and its lift vs the
    // zero-discount band — both as exact half-up 6dp integers of
    // decimal cross-products (rᵦ·q₀)/(qᵦ·r₀), no raw quotient rounds.
    "agg_discount_band_lift" -> ((s, dir) => {
      val bands = Tables.lineitem(s, dir)
        .select(((col("l_discount").cast(DecimalType(18, 2)) * 100)
          .cast(DecimalType(18, 0)).cast("long")).as("band"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("rc"),
          col("l_quantity").cast(DecimalType(18, 0)).cast("long").as("q"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_lines"), sum("q").as("qb"), sum("rc").as("rbc"))
      val base = bands.where(col("band") === 0)
        .select(col("qb").as("q0"), col("rbc").as("r0c"))
      bands.crossJoin(broadcast(base))
        .select(col("band"), col("n_lines"),
          (d(expr("(2 * 10000 * CAST(rbc AS DECIMAL(38,0)) + qb) " +
            "div (2 * qb)")) / 1.0e6).as("rev_per_unit"),
          (d(expr("(2 * 1000000 * CAST(rbc AS DECIMAL(38,0)) * q0 " +
            "+ CAST(qb AS DECIMAL(38,0)) * r0c) " +
            "div (2 * CAST(qb AS DECIMAL(38,0)) * r0c)")) / 1.0e6)
            .as("lift_vs_zero"))
        .orderBy("band")
    }),

    // ---- 80/20 Pareto customer cut --------------------------------------------------
    // The smallest revenue-ranked customer prefix covering ≥80% of
    // total revenue: its size and base share. Prefix sums ride
    // withRunningSums under the total (rev desc, custkey) order; the
    // threshold test is the exact integer cross-multiply 5·cum ≥ 4·T.
    "agg_pareto_8020" -> ((s, dir) => {
      val rev = Tables.orders(s, dir).groupBy("o_custkey")
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("revc"))
      GlobalRank.withRunningSums(rev,
          Seq((col("revc"), "crun", "ctot")), Seq.empty,
          Seq(col("revc").desc, col("o_custkey").asc))
        // a customer is in the cut iff the prefix BEFORE it is < 80%.
        // The cross-multiply runs in DECIMAL(38,0): at the 100 TB
        // target ctot reaches ~2.3e18 centi, so 5·crun would silently
        // wrap a Long (non-ANSI) and corrupt the cut.
        .select(col("revc"), col("crun"), col("ctot"),
          (lit(5) * (col("crun").cast(DecimalType(38, 0))
            - col("revc").cast(DecimalType(38, 0)))).as("lhs5"),
          (lit(4) * col("ctot").cast(DecimalType(38, 0))).as("rhs4"))
        .select(col("revc"), col("crun"), col("ctot"),
          when(col("lhs5") < col("rhs4"), 1L).otherwise(0L).as("needed"))
        .agg(count(lit(1)).as("n_customers"), sum("needed").as("n_top"),
          max(when(col("needed") === 1L, col("crun"))).as("cov"),
          max("ctot").as("tot"))
        .select(col("n_customers"), col("n_top"),
          round(d(col("n_top")) / d(col("n_customers")), 6).as("top_share"),
          round(d(col("cov")) / d(col("tot")), 6).as("covered_share"))
    }),

    // ---- repeat-purchase rate -------------------------------------------------------
    // Per brand: (customer, part) pairs purchased in ≥2 distinct
    // orders as a share of all purchasing pairs — the loyalty signal.
    // One (cust, part)-keyed shuffle, integer counts.
    "agg_repeat_purchase" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"),
          col("p_brand"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("o_custkey"),
          col("l_partkey"))
        .agg(countDistinct("l_orderkey").as("n_orders"))
        .groupBy("brand")
        .agg(count(lit(1)).as("n_pairs"),
          count_if(col("n_orders") >= 2).as("n_repeat"))
        .select(col("brand"), col("n_pairs"), col("n_repeat"),
          round(d(col("n_repeat")) / d(col("n_pairs")), 6)
            .as("repeat_share"))
        .orderBy("brand")))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_price_volume_mix" -> s"""
      |WITH $liBrandYearSql,
      |g AS (SELECT brand,
      |    CAST(sum(CASE WHEN yr = 1996 THEN rc END) AS BIGINT) AS r0,
      |    CAST(sum(CASE WHEN yr = 1996 THEN q END) AS BIGINT) AS q0,
      |    CAST(sum(CASE WHEN yr = 1997 THEN rc END) AS BIGINT) AS r1,
      |    CAST(sum(CASE WHEN yr = 1997 THEN q END) AS BIGINT) AS q1
      |  FROM li WHERE yr IN (1996, 1997) GROUP BY 1),
      |v AS (SELECT brand, r0, r1,
      |    CAST((2 * CAST(r0 AS HUGEINT) * q1 + q0) // (2 * CAST(q0 AS HUGEINT))
      |      - r0 AS BIGINT) AS ve
      |  FROM g WHERE q0 > 0 AND q1 > 0)
      |SELECT brand, CAST(r0 AS DOUBLE) / 100.0 AS rev_1996,
      |  CAST(r1 AS DOUBLE) / 100.0 AS rev_1997,
      |  CAST(ve AS DOUBLE) / 100.0 AS volume_effect,
      |  CAST(r1 - r0 - ve AS DOUBLE) / 100.0 AS price_effect
      |FROM v ORDER BY brand""".stripMargin,

    "agg_discount_band_lift" -> """
      |WITH b AS (SELECT
      |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
      |      AS DECIMAL(18,0))::BIGINT AS band,
      |    CAST(count(*) AS BIGINT) AS n_lines,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT))
      |      AS BIGINT) AS qb,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS DECIMAL(18,0))::BIGINT) AS BIGINT) AS rbc
      |  FROM lineitem GROUP BY 1),
      |z AS (SELECT qb AS q0, rbc AS r0c FROM b WHERE band = 0)
      |SELECT band, n_lines,
      |  CAST((2 * 10000 * CAST(rbc AS HUGEINT) + qb)
      |    // (2 * CAST(qb AS HUGEINT)) AS DOUBLE) / 1e6 AS rev_per_unit,
      |  CAST((2 * 1000000 * CAST(rbc AS HUGEINT) * q0
      |      + CAST(qb AS HUGEINT) * r0c)
      |    // (2 * CAST(qb AS HUGEINT) * r0c) AS DOUBLE) / 1e6
      |    AS lift_vs_zero
      |FROM b, z ORDER BY band""".stripMargin,

    "agg_pareto_8020" -> """
      |WITH rev AS (SELECT o_custkey,
      |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS revc
      |  FROM orders GROUP BY 1),
      |c AS (SELECT revc,
      |    sum(revc) OVER (ORDER BY revc DESC, o_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crun,
      |    sum(revc) OVER () AS ctot
      |  FROM rev)
      |SELECT CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(CASE WHEN 5 * (crun - revc) < 4 * ctot THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_top,
      |  round(CAST(sum(CASE WHEN 5 * (crun - revc) < 4 * ctot THEN 1
      |      ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS top_share,
      |  round(CAST(max(CASE WHEN 5 * (crun - revc) < 4 * ctot
      |      THEN crun END) AS DOUBLE)
      |    / CAST(max(ctot) AS DOUBLE), 6) AS covered_share
      |FROM c""".stripMargin,

    "agg_repeat_purchase" -> """
      |WITH cp AS (SELECT p.p_brand AS brand, o.o_custkey, l.l_partkey,
      |    CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2, 3)
      |SELECT brand, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(*) FILTER (n_orders >= 2) AS BIGINT) AS n_repeat,
      |  round(CAST(count(*) FILTER (n_orders >= 2) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS repeat_share
      |FROM cp GROUP BY brand ORDER BY brand""".stripMargin)
}
