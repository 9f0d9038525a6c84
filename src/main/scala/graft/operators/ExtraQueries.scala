package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Second-wave analytics surface: median/deterministic-mode, unpivot
  * (melt), nth_value / ignore-nulls windows, exists/forall higher-order
  * predicates, and the stack row-generator.
  */
object ExtraQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    "agg_median_mode" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
          r4(median(col("value"))).as("med_value"),
          mode(col("k"), deterministic = true).as("mode_k"))
        .orderBy("event_type")
    }),

    "agg_unpivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice").as("total"),
          (col("o_totalprice") * 2).as("double_total"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("total"), col("double_total")), "metric", "v")
        .orderBy("o_orderkey", "metric")
    }),

    "win_nth_value" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .withColumn("prio", nullif(col("o_orderpriority"), lit("5-LOW")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          nth_value(col("o_orderkey"), 2).over(wf).as("second_order"),
          lag(col("prio"), 1, null, ignoreNulls = true).over(w).as("prev_prio"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    "fn_hof_exists" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .withColumn("dbl", transform(col("embedding"), x => x.cast("double")))
        .select(col("vec_id"),
          exists(col("dbl"), x => x > 2.0).as("has_big"),
          forall(col("dbl"), x => x < 10.0).as("all_small"),
          size(filter(col("dbl"), x => x > 0.0)).cast("long").as("n_pos"))
        .orderBy("vec_id")
    }),

    // column-name-based union: branches project in different orders and
    // unionByName aligns them (positional union would silently mix types)
    "set_union_byname" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val b = o.where(col("o_orderstatus") === "O")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      a.unionByName(b).orderBy("o_orderkey")
    }),

    "fn_bitwise" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          shiftleft(col("user_id"), 3).as("shl3"),
          shiftright(col("user_id"), 2).as("shr2"),
          col("user_id").bitwiseAND(lit(255L)).as("band"),
          col("user_id").bitwiseOR(lit(16L)).as("bor"),
          col("user_id").bitwiseXOR(lit(85L)).as("bxor"),
          bitwise_not(col("user_id")).as("bnot"),
          bit_count(col("user_id")).as("popcnt"))
        .orderBy("event_id")
    }),

    "fn_levenshtein" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"),
          levenshtein(col("p_name"), col("p_type")).cast("long").as("dist"),
          levenshtein(col("p_brand"), lit("Brand#1")).cast("long").as("dist_brand"))
        .orderBy("p_partkey")
    }),

    "fn_trig" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          r4(sin(col("l_discount"))).as("sin_d"),
          r4(cos(col("l_discount"))).as("cos_d"),
          r4(tan(col("l_discount"))).as("tan_d"),
          r4(atan2(col("l_discount"), lit(1.0))).as("atan2_d"),
          r4(degrees(col("l_discount"))).as("deg_d"),
          r4(radians(col("l_tax"))).as("rad_t"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // top-3 orders per customer via the custom TopKPerGroupExec physical
    // operator (bounded per-group heaps) — same semantics as
    // win_topk_per_group's window+filter form, different engine path
    "win_topk_custom" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice")
      graft.plans.GraftOps.topKPerGroup(o,
        Seq("o_custkey"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
        .orderBy(col("o_custkey").asc, col("o_totalprice").desc, col("o_orderkey").asc)
    }),

    "gen_stack" -> ((s, dir) => {
      Tables.orders(s, dir)
        .selectExpr("o_orderkey",
          "stack(2, 'half', o_totalprice / 2, 'total', o_totalprice) AS (metric, v)")
        .orderBy("o_orderkey", "metric")
    })
  )

  val oracles: Map[String, String] = Map(
    // DuckDB mode() keeps first-encountered on ties (order-dependent), so
    // the oracle computes the deterministic form directly: min value
    // among the most frequent — matching Spark's mode(e, deterministic).
    "agg_median_mode" ->
      """WITH med AS (
        |  SELECT event_type, round(median(value), 4) AS med_value FROM events GROUP BY 1),
        |km AS (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) k, count(*) n
        |  FROM events GROUP BY 1, 2),
        |mo AS (
        |  SELECT event_type, min(k) AS mode_k FROM (
        |    SELECT *, max(n) OVER (PARTITION BY event_type) mx FROM km)
        |  WHERE n = mx GROUP BY event_type)
        |SELECT med.event_type, med.med_value, mo.mode_k
        |FROM med JOIN mo USING (event_type) ORDER BY event_type""".stripMargin,

    "agg_unpivot" ->
      """SELECT o_orderkey, metric, v FROM (
        |  UNPIVOT (SELECT o_orderkey, o_totalprice AS total, o_totalprice * 2 AS double_total
        |           FROM orders)
        |  ON total, double_total INTO NAME metric VALUE v)
        |ORDER BY o_orderkey, metric""".stripMargin,

    "win_nth_value" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order,
        |  lag(NULLIF(o_orderpriority, '5-LOW') IGNORE NULLS) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_prio
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "fn_hof_exists" ->
      """SELECT vec_id,
        |  len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x > 2.0)) > 0 AS has_big,
        |  len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> NOT (x < 10.0))) = 0 AS all_small,
        |  len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x > 0.0)) AS n_pos
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "set_union_byname" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,

    "fn_bitwise" ->
      """SELECT event_id,
        |  user_id << 3 AS shl3,
        |  user_id >> 2 AS shr2,
        |  user_id & 255 AS band,
        |  user_id | 16 AS bor,
        |  xor(user_id, 85) AS bxor,
        |  ~user_id AS bnot,
        |  CAST(bit_count(user_id) AS INT) AS popcnt
        |FROM events ORDER BY event_id""".stripMargin,

    "fn_levenshtein" ->
      """SELECT p_partkey,
        |  levenshtein(p_name, p_type) AS dist,
        |  levenshtein(p_brand, 'Brand#1') AS dist_brand
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_trig" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sin(l_discount), 4) AS sin_d,
        |  round(cos(l_discount), 4) AS cos_d,
        |  round(tan(l_discount), 4) AS tan_d,
        |  round(atan2(l_discount, 1.0), 4) AS atan2_d,
        |  round(degrees(l_discount), 4) AS deg_d,
        |  round(radians(l_tax), 4) AS rad_t
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "win_topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey ASC, o_totalprice DESC, o_orderkey ASC""".stripMargin,

    "gen_stack" ->
      """SELECT o_orderkey, 'half' AS metric, o_totalprice / 2 AS v FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'total' AS metric, o_totalprice AS v FROM orders
        |ORDER BY o_orderkey, metric""".stripMargin
  )
}
