package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.A scans, §2.B projection/filter, §2.F sorts/limits.
  *
  * Filters and projections here are deliberately plain `where`/`select`
  * chains so Catalyst pushes predicates and column pruning into the
  * parquet scan (verified via explain: PushedFilters / ReadSchema).
  */
object ScanFilterQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    // ---- A. scans -------------------------------------------------------
    "scan_lineitem_full" -> ((s, dir) => {
      Tables.lineitem(s, dir).orderBy("l_orderkey", "l_linenumber")
    }),

    "scan_projection" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_quantity", "l_shipdate")
    }),

    "scan_events_nanos" -> ((s, dir) => {
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    }),

    // ---- B. projection / filter / predicates ---------------------------
    "filter_simple" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz")
          && col("l_quantity") > 25)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "filter_compound" -> ((s, dir) => {
      Tables.orders(s, dir)
        .where((col("o_orderpriority").like("1-URG%") || col("o_orderpriority").like("2-HIGH%"))
          && col("o_orderstatus").isin("F", "O")
          && col("o_totalprice").between(10000.0, 150000.0)
          && !(col("o_custkey") % 10 === 0))
        .orderBy("o_orderkey")
    }),

    "filter_null_semantics" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("st", nullif(col("o_orderstatus"), lit("P")))
        .select(
          col("o_orderkey"), col("st"),
          col("st").isNull.as("st_is_null"),
          col("st").isNotNull.as("st_is_not_null"),
          (col("st") <=> lit("F")).as("st_nullsafe_f"),
          coalesce(col("st"), lit("X")).as("st_filled"))
        .orderBy("o_orderkey")
    }),

    "project_expressions" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4)).cast(DoubleType).as("revenue"),
          when(col("l_tax") >= 0.06, "high")
            .when(col("l_tax") >= 0.03, "mid")
            .otherwise("low").as("tax_band"),
          col("l_quantity").cast("int").as("qty_int"),
          (col("l_quantity") > 40).as("bulk"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- F. sorts / limits / top-k --------------------------------------
    "sort_multi_key" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("prio", nullif(col("o_orderpriority"), lit("5-LOW")))
        .select("o_orderkey", "o_orderstatus", "prio", "o_totalprice")
        .orderBy(col("o_orderstatus").asc, col("prio").asc_nulls_last,
          col("o_totalprice").desc, col("o_orderkey").asc)
    }),

    "limit_offset" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100).limit(50)
    }),

    "topk_global" -> ((s, dir) => {
      // TakeOrderedAndProjectExec: no full sort, per-partition top-k + merge
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
    })
  )

  val oracles: Map[String, String] = Map(
    "scan_lineitem_full" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",

    "scan_projection" ->
      "SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem ORDER BY l_orderkey, l_quantity, l_shipdate",

    "scan_events_nanos" ->
      """SELECT event_id, date_trunc('microsecond', ts) AS ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,

    "filter_simple" ->
      """SELECT * FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' AND l_quantity > 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "filter_compound" ->
      """SELECT * FROM orders
        |WHERE (o_orderpriority LIKE '1-URG%' OR o_orderpriority LIKE '2-HIGH%')
        |  AND o_orderstatus IN ('F','O')
        |  AND o_totalprice BETWEEN 10000.0 AND 150000.0
        |  AND NOT (o_custkey % 10 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "filter_null_semantics" ->
      """SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS st,
        |  NULLIF(o_orderstatus, 'P') IS NULL AS st_is_null,
        |  NULLIF(o_orderstatus, 'P') IS NOT NULL AS st_is_not_null,
        |  NULLIF(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F' AS st_nullsafe_f,
        |  COALESCE(NULLIF(o_orderstatus, 'P'), 'X') AS st_filled
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "project_expressions" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  CASE WHEN l_tax >= 0.06 THEN 'high' WHEN l_tax >= 0.03 THEN 'mid' ELSE 'low' END AS tax_band,
        |  CAST(l_quantity AS INT) AS qty_int,
        |  l_quantity > 40 AS bulk
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "sort_multi_key" ->
      """SELECT o_orderkey, o_orderstatus, NULLIF(o_orderpriority, '5-LOW') AS prio, o_totalprice
        |FROM orders
        |ORDER BY o_orderstatus ASC, prio ASC NULLS LAST, o_totalprice DESC, o_orderkey ASC""".stripMargin,

    "limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50 OFFSET 100""".stripMargin,

    "topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""".stripMargin
  )
}
