package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils.{QFn, decSum4, ts}
import graft.sources.Tables

/** Headline composed-analytics queries — the classic TPC-H decision-
  * support shapes (Q3/Q5/Q10/Q18), adapted to the driver schema (no
  * o_shippriority / c_phone; o_orderdate and l_shipdate are timestamps).
  * These exercise the multi-join + selective-filter + agg + top-k
  * composition the single-operator queries cover only piecewise, and
  * they are the shapes BASELINE.md's join+agg+top-k envelope measures.
  *
  * Scale notes (100 TB):
  *  - every dimension join (customer, supplier, nation, region, orders
  *    at the filtered selectivity) is left to AQE: nation/region always
  *    broadcast; customer/supplier broadcast at bench SF and shuffle-
  *    join on the key at 100 TB — no pinned hints in either direction.
  *  - filters sit directly on the scan columns (shipdate, orderdate,
  *    returnflag, mktsegment) so parquet row-group pruning and
  *    PushedFilters carry them; at 100 TB the date predicates are the
  *    partition-pruning key.
  *  - the top-k tails are TakeOrderedAndProject (limit pushed into the
  *    sort), never a global sort of the aggregate.
  *  - money sums go through decimal(18,4) partials: price and discount
  *    each carry two decimal digits, so their product has exactly four
  *    and the (18,4) cast never rounds — immune to the HALF_UP (Spark)
  *    vs half-even (DuckDB) divergence a (18,2) cast hits on exact
  *    halves (measured: tpch_q6 off by 0.02 with (18,2)).
  */
object TpchQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Q3: shipping priority ------------------------------------------
    // Revenue of not-yet-shipped-by-cutoff lineitems for one market
    // segment's orders placed before the cutoff; top 10 open orders.
    "tpch_q3" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") < ts("1998-01-01"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") > ts("1998-01-01"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(decSum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc,
          col("l_orderkey").asc)
        .limit(10)
    }),

    // ---- Q5: local-supplier volume per nation ---------------------------
    // Revenue per ASIA nation for 1996 orders where the supplier and the
    // customer share the nation — the canonical 6-way star-with-cycle.
    "tpch_q5" -> ((s, dir) => {
      val reg = Tables.region(s, dir).where(col("r_name") === "ASIA")
      val nat = Tables.nation(s, dir)
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1997-01-01"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey") &&
          sup("s_nationkey") === cust("c_nationkey"))
        .join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .groupBy("n_name")
        .agg(decSum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // ---- Q10: returned-item reporting -----------------------------------
    // Customers who returned items in 1996Q3, ranked by lost revenue;
    // top 20 with their nation.
    "tpch_q10" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") >= ts("1996-07-01") &&
          col("o_orderdate") < ts("1996-10-01"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(nat, cust("c_nationkey") === nat("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(decSum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // ---- Q6: forecasting revenue change ---------------------------------
    // The pure scan-filter-sum: every predicate (date range, discount
    // band, quantity cap) sits on a scan column and reaches the parquet
    // reader as a PushedFilter; no shuffle at all before the single
    // global sum.
    "tpch_q6" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(decSum4(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // ---- Q14: promotion effect ------------------------------------------
    // Share of a month's revenue coming from PROMO parts — conditional
    // aggregation over one fact-dim join. The two decimal sums divide
    // once in double; nothing order-dependent survives.
    "tpch_q14" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1996-09-01") &&
          col("l_shipdate") < ts("1996-10-01"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val part = Tables.part(s, dir).select("p_partkey", "p_type")
      li.join(part, li("l_partkey") === part("p_partkey"))
        .agg(
          decSum4(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0))).as("promo_revenue"),
          decSum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_revenue"))
        .select(
          round(col("promo_revenue") * 100.0 / col("total_revenue"), 4)
            .as("promo_pct"),
          col("promo_revenue"), col("total_revenue"))
    }),

    // ---- Q19: discounted revenue, disjunctive predicates ----------------
    // OR-of-ANDs over (brand, size, quantity) bands — the shape that
    // tests disjunction handling: the per-band conjuncts can't all push
    // to the scan, but the join stays a single equi-join with the
    // residual disjunction evaluated post-match, and the common
    // quantity/size bounds DO push down.
    "tpch_q19" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val part = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
      val bands =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      li.join(part, li("l_partkey") === part("p_partkey"))
        .where(bands)
        .agg(decSum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // ---- Q18: large-volume customers ------------------------------------
    // Orders whose total quantity exceeds 300, with the customer and the
    // order's quantity sum; top 100 by price. Quantities are integer-
    // valued doubles, so their sums are exact in any order.
    "tpch_q18" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .where(col("sum_qty") > 300)
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
      big.join(ord, big("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
        .limit(100)
    })
  )

  val oracles: Map[String, String] = Map(

    "tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "tpch_q6" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "tpch_q14" ->
      """WITH j AS (SELECT p_type, l_extendedprice, l_discount
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |    AND l_shipdate < TIMESTAMP '1996-10-01'),
        |s AS (SELECT
        |    CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        |  FROM j)
        |SELECT round(promo_revenue * 100.0 / total_revenue, 4) AS promo_pct,
        |  promo_revenue, total_revenue
        |FROM s""".stripMargin,

    "tpch_q19" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q18" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
        |LIMIT 100""".stripMargin
  )
}
