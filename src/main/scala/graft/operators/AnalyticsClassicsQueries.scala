package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — classic analytics-library shapes: RFM customer segmentation,
  * `grouping_id`/`grouping` over CUBE, ANY/ALL comparison subqueries
  * (Spark lacks the syntax — the scalar-bound rewrite IS the
  * implementation, and the DuckDB oracle keeps the literal ANY/ALL
  * form as the equivalence proof), and a day-of-week seasonality
  * profile.
  *
  * Determinism notes (§7.2 conventions):
  *  - all date arithmetic is integer day counts (Spark `datediff` ≡
  *    DuckDB `date_diff('day', …)` — both count date-boundary
  *    crossings);
  *  - `ntile` ranks order by (measure, key) — a total order, so the
  *    bucket boundaries are unambiguous, and both engines assign the
  *    remainder rows to the FIRST buckets (SQL-standard ntile);
  *  - shares are single divisions of exact integers (bit-identical
  *    cross-engine, shipped unrounded per the win_pct_change lesson);
  *  - Spark `weekday(ts) + 1` ≡ DuckDB `isodow(ts)` (Mon=1..Sun=7) —
  *    Spark's `dayofweek` (Sun=1) and DuckDB's `dayofweek` (Sun=0)
  *    disagree, the ISO numbering is the portable one.
  */
object AnalyticsClassicsQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- RFM customer segmentation --------------------------------------
    // recency (days since last order, vs the corpus max date), frequency
    // (order count), monetary (exact-decimal revenue) per customer, each
    // quintile-scored, reported per (r,f,m) segment cell. One keyed
    // shuffle builds the customer aggregate; each quintile rank is a
    // range-partitioned two-pass row_number over the CUSTOMER DIMENSION
    // (orders pre-aggregated first — the fact table is never globally
    // sorted, and no stage funnels the dim into one task).
    "agg_rfm_segments" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val mx = o.agg(max(col("o_orderdate")).as("corpus_max"))
      val per = o.groupBy("o_custkey")
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          decSum(col("o_totalprice")).as("monetary"))
        .crossJoin(broadcast(mx))
        .select(col("o_custkey"),
          datediff(col("corpus_max"), col("last_order")).cast("long")
            .as("recency_d"),
          col("freq"), col("monetary"))
      // three global quintile ranks WITHOUT single-task windows (r5
      // verdict item 1), all in ONE GlobalRank pass: the customer
      // aggregate is checkpointed (it feeds four consumers — exactly
      // the table a pipeline persists at 100 TB), then MELTED to one
      // row per (customer, dimension) with a single ascending sort key
      // (desc dimensions negate — exact for these doubles/longs, so
      // e.g. -freq asc ≡ freq desc with the same custkey tiebreak).
      // GlobalRank with part=dim ranks all three dimensions in one
      // range shuffle; the exact ntile closed form over (rn, n) gives
      // values identical to ntile(5) OVER (ORDER BY ...); a custkey
      // pivot folds the scores back. One rank pass instead of three —
      // and never a single-task window.
      val perCk = graft.tools.Materialize.eager("rfm.per", per)
      val melted = perCk.select(col("o_custkey"),
          explode(array(
            struct(lit("r").as("dim"),
              col("recency_d").cast(DoubleType).as("skey")),
            struct(lit("f").as("dim"),
              (-col("freq")).cast(DoubleType).as("skey")),
            struct(lit("m").as("dim"),
              (-col("monetary")).cast(DoubleType).as("skey")))).as("d"))
        .select(col("o_custkey"), col("d.dim").as("dim"), col("d.skey").as("skey"))
      val scores = GlobalRank.withSeqAndCount(melted, "__rk", "__n",
          Seq("dim"), Seq(col("skey").asc, col("o_custkey").asc),
          groupsHint = 3) // exactly the r/f/m dims by construction
        .withColumn("score", GlobalRank.ntileFromSeq("__rk", "__n", 5).cast("long"))
        .groupBy("o_custkey")
        .agg(max(when(col("dim") === "r", col("score"))).as("r_score"),
          max(when(col("dim") === "f", col("score"))).as("f_score"),
          max(when(col("dim") === "m", col("score"))).as("m_score"))
      val scored = perCk.join(scores, "o_custkey")
      scored.select(col("o_custkey"), col("recency_d"), col("monetary"),
          col("r_score"), col("f_score"), col("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_monetary"),
          sum("recency_d").as("sum_recency_d"))
        .orderBy("r_score", "f_score", "m_score")
    }),

    // ---- grouping_id / grouping over CUBE -------------------------------
    // The subtotal-labelling surface Spark exposes on multi-dim
    // aggregates: grouping_id() (bit per cube column, leftmost = MSB —
    // the same convention as DuckDB's GROUPING(a, b)) and grouping(col)
    // (is THIS column aggregated away). Distinguishes a real NULL group
    // key from a subtotal row — the thing raw CUBE output can't.
    "agg_grouping_id" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          count(lit(1)).as("n"),
          decSum(col("l_extendedprice")).as("sum_price"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("g_rf"), col("n"), col("sum_price"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // ---- ANY / ALL comparison subqueries --------------------------------
    // Spark has no `> ALL (subquery)` syntax; the engine form is the
    // standard rewrite — `> ALL S` ≡ `> max(S)`, `> ANY S` ≡ `> min(S)`
    // for a non-empty NULL-free S — as a 1-row broadcast of the two
    // scalar bounds (one aggregate of the filtered dim, no per-row
    // subquery execution). The oracle keeps the literal ALL/ANY form,
    // so the driver hash-check IS the rewrite's equivalence proof.
    "sub_any_all" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val b11 = p.where(col("p_brand") === "Brand#11")
        .agg(max(col("p_retailprice")).as("mx11"),
          min(col("p_retailprice")).as("mn11"))
      p.crossJoin(broadcast(b11))
        .select(col("p_partkey"), col("p_retailprice"),
          (col("p_retailprice") > col("mx11")).as("above_all_b11"),
          (col("p_retailprice") > col("mn11")).as("above_any_b11"))
        .orderBy("p_partkey")
    }),

    // ---- day-of-week seasonality profile --------------------------------
    // Per (event_type, ISO day-of-week): event count, mean value
    // (rounded-then-decimal-summed, one final division) and the share
    // of the type's weekly total (integer/integer single division —
    // bit-identical unrounded). The share window runs over ≤7 rows per
    // type AFTER aggregation — never over the event stream.
    "agg_seasonality_dow" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          (weekday(col("ts")) + lit(1)).cast("long").as("isodow"),
          col("value"))
        .groupBy("event_type", "isodow")
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value"), 8).cast(DecimalType(18, 8)))
            .cast(DoubleType) / count(lit(1))).as("mean_value"))
        .withColumn("share", col("n_events").cast(DoubleType) /
          sum(col("n_events")).over(Window.partitionBy("event_type")))
        .orderBy("event_type", "isodow")
    })
  )

  val oracles: Map[String, String] = Map(

    "agg_rfm_segments" ->
      """WITH mx AS (SELECT max(o_orderdate) AS corpus_max FROM orders),
        |per AS (SELECT o_custkey,
        |    CAST(date_diff('day', max(o_orderdate), (SELECT corpus_max FROM mx)) AS BIGINT) AS recency_d,
        |    count(*) AS freq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |sc AS (SELECT o_custkey, recency_d, monetary,
        |    CAST(ntile(5) OVER (ORDER BY recency_d ASC, o_custkey ASC) AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS BIGINT) AS m_score
        |  FROM per)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS sum_monetary,
        |  CAST(sum(recency_d) AS BIGINT) AS sum_recency_d
        |FROM sc GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin,

    "agg_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "sub_any_all" ->
      """SELECT p_partkey, p_retailprice,
        |  p_retailprice > ALL (SELECT p_retailprice FROM part WHERE p_brand = 'Brand#11') AS above_all_b11,
        |  p_retailprice > ANY (SELECT p_retailprice FROM part WHERE p_brand = 'Brand#11') AS above_any_b11
        |FROM part ORDER BY p_partkey""".stripMargin,

    "agg_seasonality_dow" ->
      """WITH g AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS isodow,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(round(value, 8) AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mean_value
        |  FROM events GROUP BY event_type, isodow(ts))
        |SELECT event_type, isodow, n_events, mean_value,
        |  CAST(n_events AS DOUBLE) / sum(n_events) OVER (PARTITION BY event_type) AS share
        |FROM g ORDER BY event_type, isodow""".stripMargin
  )
}
