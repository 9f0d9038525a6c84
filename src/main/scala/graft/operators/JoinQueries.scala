package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.C — joins.
  *
  * Scale notes (100 TB): every equi-join here shuffles on its key unless
  * one side is broadcast; dimension tables (region, nation, customer,
  * supplier at small SF) sit well under the auto-broadcast threshold, and
  * `join_broadcast`/`join_star_5way` pin the hint explicitly so the plan
  * stays BroadcastHashJoin even when stats are missing. The as-of join is
  * expressed as equi-join + one `max_by` aggregation (single shuffle) —
  * not join + window (two shuffles).
  */
object JoinQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    "join_inner_equi" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    }),

    "join_left_outer" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_last)
    }),

    "join_right_outer" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_last)
    }),

    "join_full_outer" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      // join condition includes a filter on the right side, so both
      // orphan directions are visible in the full-outer result
      c.join(o, c("c_custkey") === o("o_custkey") && o("o_totalprice") > 100000.0, "full")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey").asc_nulls_last, col("o_orderkey").asc_nulls_last)
    }),

    "join_left_semi" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .orderBy("c_custkey")
    }),

    "join_left_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    "join_cross" -> ((s, dir) => {
      Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")
        .orderBy("r_regionkey", "n_nationkey")
    }),

    "join_theta_self" -> ((s, dir) => {
      val n1 = Tables.nation(s, dir).select(
        col("n_nationkey").as("n1_key"), col("n_name").as("n1_name"),
        col("n_regionkey").as("n1_region"))
      val n2 = Tables.nation(s, dir).select(
        col("n_nationkey").as("n2_key"), col("n_name").as("n2_name"),
        col("n_regionkey").as("n2_region"))
      n1.join(n2, col("n1_key") < col("n2_key") && col("n1_region") === col("n2_region"))
        .select("n1_key", "n1_name", "n2_key", "n2_name", "n1_region")
        .orderBy("n1_key", "n2_key")
    }),

    "join_broadcast" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "inner")
        .select("c_custkey", "c_name", "n_name")
        .orderBy("c_custkey")
    }),

    "join_star_5way" -> ((s, dir) => {
      val r = Tables.region(s, dir)
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    }),

    "join_range_interval" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val x = e.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("uid2"), col("ts").as("e_ts"))
      p.join(x, col("user_id") === col("uid2")
          && col("e_ts") > col("p_ts")
          && col("e_ts") <= col("p_ts") + expr("INTERVAL 1 DAY"))
        .select("user_id", "purchase_id", "error_id")
        .orderBy("purchase_id", "error_id")
    }),

    "join_asof" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts").as("event_ts"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      // candidates, then one max_by aggregation (single shuffle; the
      // (o_orderdate, o_orderkey) struct ordering makes ties deterministic)
      e.join(o, e("user_id") === o("o_custkey") && o("o_orderdate") <= e("event_ts"))
        .groupBy("event_id", "user_id")
        .agg(max_by(
          struct(col("o_orderkey"), col("o_orderdate")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
        .select(col("event_id"), col("user_id"),
          col("best.o_orderkey").as("asof_orderkey"),
          col("best.o_orderdate").as("asof_orderdate"))
        .orderBy("event_id")
    }),

    // forward as-of: the FIRST order at-or-after each event (the "next
    // action" join of attribution pipelines) — min_by mirror of
    // join_asof, same single-shuffle candidates + one aggregation shape
    "join_asof_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts").as("event_ts"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      e.join(o, e("user_id") === o("o_custkey") && o("o_orderdate") >= e("event_ts"))
        .groupBy("event_id", "user_id")
        .agg(min_by(
          struct(col("o_orderkey"), col("o_orderdate")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
        .select(col("event_id"), col("user_id"),
          col("best.o_orderkey").as("next_orderkey"),
          col("best.o_orderdate").as("next_orderdate"))
        .orderBy("event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "join_inner_equi" ->
      """SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "join_left_outer" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS LAST""".stripMargin,

    "join_right_outer" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS LAST""".stripMargin,

    "join_full_outer" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer FULL JOIN orders
        |  ON c_custkey = o_custkey AND o_totalprice > 100000.0
        |ORDER BY c_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST""".stripMargin,

    "join_left_semi" ->
      """SELECT * FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "join_left_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,

    "join_theta_self" ->
      """SELECT n1.n_nationkey AS n1_key, n1.n_name AS n1_name,
        |  n2.n_nationkey AS n2_key, n2.n_name AS n2_name,
        |  n1.n_regionkey AS n1_region
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_nationkey < n2.n_nationkey AND n1.n_regionkey = n2.n_regionkey
        |ORDER BY n1_key, n2_key""".stripMargin,

    "join_broadcast" ->
      """SELECT c_custkey, c_name, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "join_star_5way" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "join_range_interval" ->
      """SELECT p.user_id, p.event_id AS purchase_id, x.event_id AS error_id
        |FROM events p JOIN events x
        |  ON p.user_id = x.user_id
        | AND p.event_type = 'purchase' AND x.event_type = 'error'
        | AND x.ts > p.ts AND x.ts <= p.ts + INTERVAL 1 DAY
        |ORDER BY purchase_id, error_id""".stripMargin,

    "join_asof" ->
      """SELECT event_id, user_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "join_asof_forward" ->
      """SELECT event_id, user_id, o_orderkey AS next_orderkey, o_orderdate AS next_orderdate
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin
  )
}
