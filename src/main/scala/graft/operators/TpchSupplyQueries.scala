package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils.{QFn, ts}
import graft.sources.Tables

/** §2.N — the five TPC-H shapes that need the partsupp table
  * (Q2/Q9/Q11/Q16/Q20), schema-adapted: the driver schema has no
  * partsupp, but lineitem carries the (l_partkey, l_suppkey)
  * association, so the partsupp analog is DERIVED — one keyed
  * aggregation over lineitem per query group:
  *
  *   ps_supplycost_c = min over the pair's lines of
  *     round(l_extendedprice·100) div l_quantity   (unit cents,
  *     integer floor division — bit-identical on both engines)
  *   ps_availqty     = the pair's lifetime shipped quantity
  *
  * Every downstream comparison/product stays in integer arithmetic
  * (cents / 1e-4 units), so the DuckDB oracle hash-matches without
  * float tolerance. The derivation itself is the same
  * shuffle-on-(partkey, suppkey) a real partsupp scan would need for
  * these joins, so the 100 TB plan shape is faithful: derive once
  * (one lineitem shuffle), broadcast the filtered part/nation dims,
  * keep the correlated subqueries as keyed window/agg joins.
  */
object TpchSupplyQueries extends graft.QueryFamily {

  /** The derived partsupp analog (see object doc). */
  private def partsupp(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"),
        expr("CAST(round(l_extendedprice*100) AS BIGINT) div CAST(l_quantity AS BIGINT)")
          .as("unit_c"),
        col("l_quantity").cast("long").as("lq"))
      .groupBy("ps_partkey", "ps_suppkey")
      .agg(min("unit_c").as("ps_supplycost_c"), sum("lq").as("ps_availqty"))

  /** Shared DuckDB CTE mirroring [[partsupp]] (`//` = floor division,
    * same as Spark's `div` for the all-positive operands here). */
  private val psCte =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    min(CAST(round(l_extendedprice*100) AS BIGINT) // CAST(l_quantity AS BIGINT)) AS ps_supplycost_c,
      |    sum(CAST(l_quantity AS BIGINT)) AS ps_availqty
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- Q2: minimum-cost supplier --------------------------------------
    // For each size-15 part, the EUROPE suppliers offering it at the
    // regional minimum cost. The original's correlated min subquery
    // (re-scoped to the same region-filtered association) is a window
    // min over ps_partkey on the joined frame — one extra shuffle on
    // the partkey, never a per-row subquery. Dims (nation, region,
    // filtered part) broadcast; ps shuffles once on its group keys.
    "tpch_q2" -> ((s, dir) => {
      val eligible = partsupp(s, dir)
        .join(Tables.supplier(s, dir)
          .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey"),
          col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select("n_nationkey", "n_name", "n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)
          .where(col("r_name") === "EUROPE").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
      val parts = Tables.part(s, dir)
        .where(col("p_size") === 15).select("p_partkey", "p_name")
      val w = Window.partitionBy("ps_partkey")
      eligible.join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
        .withColumn("min_c", min("ps_supplycost_c").over(w))
        .where(col("ps_supplycost_c") === col("min_c"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          (col("ps_supplycost_c") / lit(100.0)).as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // ---- Q9: product-type profit ----------------------------------------
    // Profit on '%red%' parts by supplier nation and ship year, where
    // profit = revenue − supplycost·qty, entirely in 1e-4-dollar
    // integers until the final division. The filtered part list
    // broadcasts into the lineitem scan BEFORE the ps join, so the
    // pair-association shuffle only carries qualifying lines.
    "tpch_q9" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
        .where(col("p_name").like("%red%")).select("p_partkey")
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_shipdate")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(partsupp(s, dir)
          .select("ps_partkey", "ps_suppkey", "ps_supplycost_c"),
          col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .withColumn("profit_c4",
          expr("CAST(round(l_extendedprice*(1.0-l_discount)*10000) AS BIGINT)") -
            col("ps_supplycost_c") * expr("CAST(l_quantity AS BIGINT)") * lit(100L))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).as("o_year"))
        .agg((sum("profit_c4") / lit(10000.0)).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // ---- Q11: important stock identification ----------------------------
    // Per-part association value (supplycost·lifetime qty) for one
    // nation's suppliers, kept when above 0.1% of that nation's total.
    // The global total is a 1-row broadcast; the threshold compare is
    // integer (value·1000 > total), not a float fraction.
    "tpch_q11" -> ((s, dir) => {
      val natPs = partsupp(s, dir)
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
          col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
          .where(col("n_name") === "NATION_3").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .withColumn("value_c", col("ps_supplycost_c") * col("ps_availqty"))
      val total = natPs.agg(sum("value_c").as("total_c"))
      natPs.groupBy("ps_partkey")
        .agg(sum("value_c").as("part_value_c"))
        .crossJoin(broadcast(total))
        .where(col("part_value_c") * lit(1000L) > col("total_c"))
        .select(col("ps_partkey"),
          (col("part_value_c") / lit(100.0)).as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    }),

    // ---- Q16: parts/supplier relationship -------------------------------
    // Distinct suppliers per (brand, type, size) bucket over the
    // association, excluding one brand, the PROMO type family, and
    // "complaint" suppliers (negative balance — the schema's analog of
    // the comment scan). The NOT IN is an anti join on a broadcast-
    // sized exclusion list; count(DISTINCT) shuffles once on the
    // 3-part group key.
    "tpch_q16" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
        .where(col("p_brand") =!= "Brand#45" &&
          !col("p_type").like("PROMO%") &&
          col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val complainers = Tables.supplier(s, dir)
        .where(col("s_acctbal") < 0).select("s_suppkey")
      partsupp(s, dir).select("ps_partkey", "ps_suppkey")
        .join(broadcast(complainers),
          col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // ---- Q20: potential part promotion ----------------------------------
    // NATION_8 suppliers holding "excess stock" of a small% part:
    // pairs whose 1999 shipments are under half their lifetime volume.
    // The original's nested correlated subqueries become one filtered
    // keyed aggregation (1999 volume per pair) inner-joined to the
    // association — the inner join reproduces the NULL-comparison
    // exclusion of pairs with no 1999 shipments — then two semi-joins
    // up the chain. No per-row subquery anywhere.
    "tpch_q20" -> ((s, dir) => {
      val yr = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1999-01-01") &&
          col("l_shipdate") < ts("2000-01-01"))
        .groupBy(col("l_partkey").as("y_pk"), col("l_suppkey").as("y_sk"))
        .agg(sum(col("l_quantity").cast("long")).as("y_qty"))
      val smallParts = Tables.part(s, dir)
        .where(col("p_name").like("small%")).select("p_partkey")
      val qualSupp = partsupp(s, dir)
        .join(broadcast(smallParts),
          col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(yr, col("ps_partkey") === col("y_pk") &&
          col("ps_suppkey") === col("y_sk"))
        .where(col("ps_availqty") > lit(2L) * col("y_qty"))
        .select("ps_suppkey").distinct()
      Tables.supplier(s, dir)
        .join(qualSupp, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, dir)
          .where(col("n_name") === "NATION_8").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    })
  )

  val oracles: Map[String, String] = Map(

    "tpch_q2" -> s"""WITH $psCte,
      |e AS (SELECT ps_partkey, ps_suppkey, ps_supplycost_c, s_acctbal, s_name, n_name
      |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |  ps_supplycost_c / 100.0 AS supplycost
      |FROM e JOIN part ON ps_partkey = p_partkey
      |WHERE p_size = 15
      |  AND ps_supplycost_c = (SELECT min(e2.ps_supplycost_c) FROM e e2
      |    WHERE e2.ps_partkey = e.ps_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin,

    "tpch_q9" -> s"""WITH $psCte
      |SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
      |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*10000) AS BIGINT)
      |    - ps_supplycost_c * CAST(l_quantity AS BIGINT) * 100) AS BIGINT) / 10000.0 AS sum_profit
      |FROM lineitem
      |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "tpch_q11" -> s"""WITH $psCte,
      |np AS (SELECT ps_partkey, ps_supplycost_c * ps_availqty AS value_c
      |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3')
      |SELECT ps_partkey, CAST(sum(value_c) AS BIGINT) / 100.0 AS value
      |FROM np
      |GROUP BY ps_partkey
      |HAVING CAST(sum(value_c) AS BIGINT) * 1000 > (SELECT CAST(sum(value_c) AS BIGINT) FROM np)
      |ORDER BY value DESC, ps_partkey""".stripMargin,

    "tpch_q16" -> s"""WITH $psCte
      |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM ps JOIN part ON ps_partkey = p_partkey
      |WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1,4,7,10,13,16,19,22)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "tpch_q20" -> s"""WITH $psCte
      |SELECT s_suppkey, s_name, s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_8'
      |  AND s_suppkey IN (
      |    SELECT ps_suppkey FROM ps
      |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |      AND ps_availqty > 2 * (SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem
      |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |          AND l_shipdate >= TIMESTAMP '1999-01-01'
      |          AND l_shipdate < TIMESTAMP '2000-01-01'))
      |ORDER BY s_name""".stripMargin
  )
}
