package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twentieth wave: supply-chain operations analytics over the
  * TPC-H-shaped tables — order-to-ship cycle time, backlog aging,
  * vendor concentration (single-sourcing risk) and the strongest
  * co-supplier pairs.
  *
  * Determinism: every duration is an exact integer day diff; aging
  * buckets are integer divisions; concentration shares are exact
  * integer/centi ratios 8dp-rounded before the per-bucket decimal
  * mean; the pair list sorts by an exact (count desc, keys) key.
  */
object Round8tQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- order-to-ship cycle time -------------------------------------------
    // Days from order date to the LAST line shipment per order, by
    // priority: count, exact-ratio mean and the discrete p50 at rank
    // (n+1) DIV 2 — the fulfillment-latency report. One order-keyed
    // aggregate, one priority-partitioned rank pass over order rows.
    "agg_order_cycle" -> ((s, dir) => {
      val cyc = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate"))
        .agg(max(to_date(col("l_shipdate"))).as("lastship"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          datediff(col("lastship"), to_date(col("o_orderdate")))
            .cast("long").as("cycle"))
      // per-priority rank over the per-ORDER cycle table (data-scaled):
      // GlobalRank (5 priorities), not a 5-task partitioned window
      GlobalRank.withSeqAndCount(cyc, "rn", "n", Seq("o_orderpriority"),
          Seq(col("cycle").asc, col("o_orderkey").asc), groupsHint = 5)
        .groupBy("o_orderpriority")
        .agg(max("n").as("n_orders"), sum("cycle").as("sc"),
          max(when(col("rn") === expr("(n + 1) DIV 2"), col("cycle")))
            .as("p50_days"))
        .select(col("o_orderpriority"), col("n_orders"),
          round(d(col("sc")) / d(col("n_orders")), 4).as("mean_days"),
          col("p50_days"))
        .orderBy("o_orderpriority")
    }),

    // ---- backlog aging --------------------------------------------------------
    // Non-finalized orders bucketed by 30-day age bands (age = days
    // from order date to the corpus max order date, band = age DIV 30
    // clamped at 12) per status: open-order counts and exact decimal
    // value — the working-capital exposure report. 1-row horizon
    // broadcast (the agg_rfm_segments idiom).
    "agg_backlog_aging" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val horizon = o.agg(max(to_date(col("o_orderdate"))).as("hmax"))
      o.where(col("o_orderstatus") =!= "F")
        .crossJoin(broadcast(horizon))
        .select(col("o_orderstatus"),
          least(expr(
            "CAST(datediff(hmax, CAST(o_orderdate AS DATE)) AS BIGINT) div 30"),
            lit(12L)).as("age_band"),
          col("o_totalprice"))
        .groupBy("o_orderstatus", "age_band")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("value"))
        .orderBy("o_orderstatus", "age_band")
    }),

    // ---- vendor concentration --------------------------------------------------
    // Single-sourcing risk profile: per part the supplier count and
    // the top supplier's revenue share (exact centi ratio), rolled up
    // by supplier-count band — how much of the catalog rides one
    // vendor. Shares 8dp-round then decimal-mean per band.
    "agg_vendor_concentration" -> ((s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .groupBy("l_partkey", "l_suppkey")
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("rev"))
      val per = ps.groupBy("l_partkey")
        .agg(count(lit(1)).as("n_supp"), max("rev").as("top"),
          sum("rev").as("tot"))
        .withColumn("share", round(d(col("top")) / d(col("tot")), 8))
      per.withColumn("band", least(col("n_supp"), lit(5L)))
        .groupBy("band")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("share").cast(DecimalType(28, 8))).as("ss"))
        .select(col("band").as("n_suppliers"), col("n_parts"),
          round(d(col("ss")) / d(col("n_parts")), 6).as("mean_top_share"))
        .orderBy("n_suppliers")
    }),

    // ---- strongest co-supplier pairs ----------------------------------------------
    // Supplier pairs by the number of orders they BOTH supply (the
    // weighted form of the graph family's distinct edge set), top-20
    // by the exact (n desc, sa, sb) key — order-keyed equi-self-join,
    // candidate volume Σ(lines per order)².
    "join_cosupplier_pairs" -> ((s, dir) => {
      // r15 (guide §2.4): one order-keyed aggregation + generate
      // replaces the equi-self-join (which shuffled the distinct
      // (order, supplier) stream twice); per-order supplier sets are
      // bounded by lines-per-order and each unordered pair surfaces
      // exactly once as (min, max) — per-pair order counts identical.
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey").distinct()
      li.groupBy("l_orderkey")
        .agg(collect_list(col("l_suppkey")).as("ss"))
        .select(explode(col("ss")).as("sa"), col("ss"))
        .select(col("sa"), explode(col("ss")).as("sb"))
        .where(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("sa"), col("sb"))
        .limit(20)
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_order_cycle" -> """
      |WITH cyc AS (SELECT o.o_orderkey, o.o_orderpriority,
      |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
      |      max(CAST(l.l_shipdate AS DATE))) AS BIGINT) AS cycle
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2, o.o_orderdate),
      |rk AS (SELECT o_orderpriority, cycle,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY cycle, o_orderkey) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
      |  FROM cyc)
      |SELECT o_orderpriority, max(n) AS n_orders,
      |  round(CAST(sum(cycle) AS DOUBLE) / CAST(max(n) AS DOUBLE), 4)
      |    AS mean_days,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN cycle END) AS p50_days
      |FROM rk GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_backlog_aging" -> """
      |WITH h AS (SELECT max(CAST(o_orderdate AS DATE)) AS hmax FROM orders)
      |SELECT o_orderstatus,
      |  least(CAST(date_diff('day', CAST(o_orderdate AS DATE), hmax)
      |    AS BIGINT) // 30, 12) AS age_band,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      |FROM orders CROSS JOIN h
      |WHERE o_orderstatus <> 'F'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "agg_vendor_concentration" -> """
      |WITH ps AS (SELECT l_partkey, l_suppkey,
      |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |per AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_supp,
      |    CAST(round(CAST(max(rev) AS DOUBLE) / CAST(sum(rev) AS DOUBLE), 8)
      |      AS DECIMAL(28,8)) AS share
      |  FROM ps GROUP BY 1)
      |SELECT least(n_supp, 5) AS n_suppliers,
      |  CAST(count(*) AS BIGINT) AS n_parts,
      |  round(CAST(sum(share) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS mean_top_share
      |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_cosupplier_pairs" -> """
      |WITH li AS (SELECT DISTINCT l_orderkey AS k, l_suppkey FROM lineitem)
      |SELECT a.l_suppkey AS sa, b.l_suppkey AS sb,
      |  CAST(count(*) AS BIGINT) AS n_orders
      |FROM li a JOIN li b ON a.k = b.k AND a.l_suppkey < b.l_suppkey
      |GROUP BY 1, 2 ORDER BY n_orders DESC, sa, sb LIMIT 20""".stripMargin)
}
