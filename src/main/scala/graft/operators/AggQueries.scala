package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.D — aggregations. Every query ends in a total ORDER BY; money goes
  * through exact decimal sums (see QueryUtils).
  */
object AggQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    "agg_global" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n_rows"),
        decSum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        decAvg(col("l_extendedprice")).as("avg_price"),
        min(col("l_shipdate")).as("min_shipdate"),
        max(col("l_shipdate")).as("max_shipdate"))
    }),

    // TPC-H Q1 shape: the flagship pricing summary.
    "agg_groupby_pricing" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          // 2dp × 2dp product has ≤4 decimals; decimal(18,4) captures it exactly
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast(DoubleType).as("sum_disc_price"),
          // three-factor product has ≤6 decimals
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
            .cast(DecimalType(24, 6))).cast(DoubleType).as("sum_charge"),
          decAvg(col("l_quantity")).as("avg_qty"),
          decAvg(col("l_extendedprice")).as("avg_price"),
          decAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "agg_count_distinct" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          count_distinct(col("o_custkey")).as("n_cust"),
          count_distinct(col("o_custkey"), col("o_orderstatus")).as("n_cust_status"))
        .orderBy("o_orderpriority")
    }),

    // oracle omitted: HLL++ estimates are engine-specific; the unit test
    // asserts ±5% of the exact distinct count instead.
    "agg_approx_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy("event_type")
    }),

    "agg_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("n"),
          decSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "agg_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "agg_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "agg_stats" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          r4(stddev_samp(col("value"))).as("sd_samp"),
          r4(stddev_pop(col("value"))).as("sd_pop"),
          r4(var_samp(col("value"))).as("v_samp"),
          r4(var_pop(col("value"))).as("v_pop"),
          r4(corr(col("value"), col("user_id").cast("double"))).as("corr_vu"),
          r4(covar_samp(col("value"), col("user_id").cast("double"))).as("covar_vu"))
        .orderBy("event_type")
    }),

    "agg_percentiles" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          r4(percentile(col("value"), lit(0.5))).as("p50"),
          r4(percentile(col("value"), lit(0.9))).as("p90"))
        .orderBy("event_type")
    }),

    "agg_collect_sorted" -> ((s, dir) => {
      // collect_set + array_sort exercised as before; the sorted array is
      // serialized to a comma-joined string in the final projection so the
      // driver's pandas comparator (which cannot sort list cells) can
      // hash-compare it. Long→string formatting is identical cross-engine.
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(array_join(array_sort(collect_set(col("user_id"))).cast("array<string>"), ",")
          .as("users"))
        .orderBy("event_type")
    }),

    "agg_string_agg" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(array_join(array_sort(collect_set(col("lang"))), ",").as("langs"))
        .orderBy("source")
    }),

    "agg_conditional" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          count_if(col("o_totalprice") > 100000.0).as("n_big"),
          decSum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("f_total"),
          bool_and(col("o_totalprice") > 1000.0).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000.0).as("any_huge"),
          max_by(col("o_orderkey"), col("o_totalprice")).as("best_order"),
          min_by(col("o_orderkey"), col("o_totalprice")).as("worst_order"))
        .orderBy("o_orderpriority")
    }),

    "agg_bitwise" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          bit_and(col("user_id")).as("ba"),
          bit_or(col("user_id")).as("bo"),
          bit_xor(col("user_id")).as("bx"))
        .orderBy("event_type")
    }),

    "agg_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("day")
    }),

    "agg_histogram" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy((floor(col("value") / 50) * 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // weighted median price per returnflag, weight = quantity (integer-
    // valued): the smallest price whose cumulative weight reaches half
    // the group total. Pure integer window arithmetic over a total
    // (price, orderkey, linenumber) order — no float boundary anywhere;
    // one window + one bounded aggregation.
    "agg_weighted_median" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      // per-flag cumulative weight over the corpus-scaled lineitem:
      // GlobalRank's distributed running sum (3 flags), not a 3-task
      // partitioned window
      GlobalRank.withRunningSums(li, Seq((col("w"), "cumw", "totw")),
          Seq("l_returnflag"),
          Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
            col("l_linenumber").asc), groupsHint = 3)
        .where(col("cumw") * 2 >= col("totw"))
        .groupBy("l_returnflag")
        .agg(min("l_extendedprice").as("weighted_median"),
          max("totw").as("total_weight"))
        .orderBy("l_returnflag")
    })
  )

  val oracles: Map[String, String] = Map(
    "agg_global" ->
      """SELECT count(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate
        |FROM lineitem""".stripMargin,

    "agg_groupby_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_count_distinct" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT (o_custkey, o_orderstatus)) AS n_cust_status
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_stats" ->
      """SELECT event_type,
        |  round(stddev_samp(value), 4) AS sd_samp,
        |  round(stddev_pop(value), 4) AS sd_pop,
        |  round(var_samp(value), 4) AS v_samp,
        |  round(var_pop(value), 4) AS v_pop,
        |  round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_vu,
        |  round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_vu
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_collect_sorted" ->
      """SELECT event_type,
        |  array_to_string(LIST(DISTINCT user_id ORDER BY user_id), ',') AS users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_string_agg" ->
      """SELECT source, STRING_AGG(DISTINCT lang, ',' ORDER BY lang) AS langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "agg_conditional" ->
      """SELECT o_orderpriority,
        |  CAST(count_if(o_totalprice > 100000.0) AS BIGINT) AS n_big,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS f_total,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_totalprice > 400000.0) AS any_huge,
        |  arg_max(o_orderkey, o_totalprice) AS best_order,
        |  arg_min(o_orderkey, o_totalprice) AS worst_order
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_bitwise" ->
      """SELECT event_type, bit_and(user_id) AS ba, bit_or(user_id) AS bo, bit_xor(user_id) AS bx
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_pivot" ->
      """SELECT date_trunc('day', ts) AS day,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(floor(value / 50) * 50 AS BIGINT) AS bucket, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "agg_weighted_median" ->
      """WITH c AS (SELECT l_returnflag, l_extendedprice,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM lineitem)
        |SELECT l_returnflag, min(l_extendedprice) AS weighted_median,
        |  CAST(max(totw) AS BIGINT) AS total_weight
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
