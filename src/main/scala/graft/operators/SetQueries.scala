package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.G — set operations (bag and set semantics). */
object SetQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    // bag union: the two branches overlap (urgent AND >100k), so ALL
    // semantics are visible as duplicate rows
    "set_union_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val b = o.where(col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      a.unionAll(b).orderBy("o_orderkey", "o_orderpriority", "o_totalprice")
    }),

    "set_union_distinct" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      o.union(c).distinct().orderBy("custkey")
    }),

    "set_intersect" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      o.intersect(c).orderBy("custkey")
    }),

    "set_except" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      val o = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      c.except(o).orderBy("custkey")
    }),

    // multiset intersection: multiplicity = min of the two sides
    "set_intersect_all" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val b = o.where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      a.intersectAll(b).orderBy("custkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "set_union_all" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders WHERE o_totalprice > 100000.0
        |ORDER BY o_orderkey, o_orderpriority, o_totalprice""".stripMargin,

    "set_union_distinct" ->
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT c_custkey AS custkey FROM customer
        |ORDER BY custkey""".stripMargin,

    "set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer
        |ORDER BY custkey""".stripMargin,

    "set_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,

    "set_intersect_all" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT ALL
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin
  )
}
