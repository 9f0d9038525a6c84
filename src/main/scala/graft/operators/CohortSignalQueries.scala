package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.QueryUtils._
import graft.functions.AnnCodebook
import graft.sources.Tables

/** §2.N — cohort/signal batch: year-over-year revenue deltas, DAU/WAU
  * active-user curves (the sliding-distinct-count trick), k-means
  * cluster label purity, array set operations, and inter-purchase gap
  * distribution.
  *
  * Determinism notes (§7.2 conventions):
  *  - YoY deltas subtract exact-decimal-backed doubles (both engines
  *    hold the identical nearest-double of the same decimal); ratios
  *    are one IEEE division;
  *  - WAU uses the cover-day explode: each (user, active-day) emits
  *    its 7 trailing cover days MAP-SIDE, so the sliding distinct
  *    count becomes a plain per-day distinct — no window over the
  *    event stream, no self-join; state is bounded by 7× the distinct
  *    (user, day) table, not the raw events;
  *  - set-op arrays are distinct-ed and sorted before joining to a
  *    string (Spark's array_union order is first-occurrence, DuckDB's
  *    list_concat order differs — sorting removes the divergence);
  *  - medians are exact discrete picks at integer rank (n+1) DIV 2
  *    under a total order — no interpolation float;
  *  - DuckDB `list_position` returns 0 for absent (same as Spark's
  *    `array_position`) — probed, no coalesce needed.
  */
object CohortSignalQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- year-over-year revenue per customer ----------------------------
    // Per (customer, year) exact-decimal revenue with the delta and
    // ratio against the PREVIOUS CALENDAR YEAR (a lag row from a gap
    // year yields NULL — YoY against year-2 is not YoY). One keyed
    // shuffle to the (cust, year) aggregate; the lag window partitions
    // by customer (dim-keyed, ≤7 rows per partition).
    "win_yoy_revenue" -> ((s, dir) => {
      val py = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
        .agg(decSum(col("o_totalprice")).as("rev"))
      val w = Window.partitionBy("o_custkey").orderBy("yr")
      py.withColumn("prev_yr", lag("yr", 1).over(w))
        .withColumn("prev_rev", lag("rev", 1).over(w))
        .select(col("o_custkey"), col("yr"), col("rev"),
          when(col("prev_yr") === col("yr") - 1, col("rev") - col("prev_rev"))
            .as("yoy_delta"),
          when(col("prev_yr") === col("yr") - 1, col("rev") / col("prev_rev"))
            .as("yoy_ratio"))
        .orderBy("o_custkey", "yr")
    }),

    // ---- DAU / WAU active-user curves -----------------------------------
    // Daily active users and trailing-7-day weekly active users per
    // day. WAU via the cover-day explode (each (user, day) activity
    // marks cover days day..day+6 map-side, then ONE distinct + count
    // per cover day) — the scalable form of a sliding distinct count.
    // Reported for days that have activity (inner join to DAU).
    "agg_dau_wau" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("cday"))
        .distinct()
        .groupBy(col("cday")).agg(count(lit(1)).as("wau"))
      dau.join(wau, dau("day") === wau("cday"))
        .select(col("day"), col("dau"), col("wau"))
        .orderBy("day")
    }),

    // ---- k-means cluster label purity -----------------------------------
    // Per IVF cell: vector count, majority ground-truth label (ties →
    // smallest label) and purity = majority share — the "do the cells
    // mean anything" eval over the memoized build-once index. All
    // windows run over the ≤ K×10 (cell, label) aggregate.
    "llm_cluster_purity" -> ((s, dir) => {
      val (e, _) = AnnCodebook.indexed(s, dir)
      val cc = e.select("vec_id", "cell")
        .join(Tables.embeddings(s, dir).select("vec_id", "label"), "vec_id")
        .groupBy("cell", "label").agg(count(lit(1)).as("c"))
      cc.groupBy("cell")
        .agg(sum("c").as("n_vecs"),
          max_by(col("label"), struct(col("c"), (-col("label")).as("nl")))
            .as("majority_label"),
          max("c").as("mx"))
        .select(col("cell"), col("n_vecs"), col("majority_label"),
          (col("mx").cast(DoubleType) / col("n_vecs")).as("purity"))
        .orderBy("cell")
    }),

    // ---- array set operations -------------------------------------------
    // Head-10 vs tail-10 token windows per doc: intersection, union,
    // difference (distinct-ed, sorted, joined — list-typed outputs
    // don't hash portably), plus first-position probe of a literal.
    "fn_array_setops" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .where(size(col("tk")) >= 1)
        // tail window start computed positively: Spark's negative-start
        // slice(tk, -10, …) returns [] when the array is SHORTER than
        // 10 (start underflows), where DuckDB's greatest(len-9, 1)
        // clamp keeps the whole list — compute the same clamp here
        .withColumn("h", array_distinct(slice(col("tk"), 1, 10)))
        .withColumn("t", array_distinct(
          slice(col("tk"), greatest(size(col("tk")) - 9, lit(1)), lit(10))))
        .select(col("doc_id"),
          array_join(array_sort(array_intersect(col("h"), col("t"))), ",")
            .as("inter"),
          array_join(array_sort(array_union(col("h"), col("t"))), ",")
            .as("uni"),
          array_join(array_sort(array_except(col("h"), col("t"))), ",")
            .as("diff"),
          array_position(col("tk"), "data").cast("long").as("pos_data"))
        .orderBy("doc_id")
    }),

    // ---- inter-purchase gap distribution --------------------------------
    // Days between consecutive orders of the same customer, summarized
    // per market segment: gap count, mean (exact integer sum, one
    // division) and the exact discrete median (integer rank pick under
    // the total order (gap, custkey, orderkey)). The lag window is
    // customer-keyed; the per-segment rank rides GlobalRank over the gap
    // table (order-dim-bounded).
    "agg_interpurchase_gap" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val gaps = o
        .withColumn("prev_d", lag("o_orderdate", 1).over(w))
        .where(col("prev_d").isNotNull)
        .select(col("c_mktsegment"),
          datediff(col("o_orderdate"), col("prev_d")).cast("long").as("gap"),
          col("o_custkey"), col("o_orderkey"))
      // per-segment rank over the corpus-scaled gap rows: GlobalRank
      // (5 segments), not a 5-task partitioned window (the per-CUSTOMER
      // lag window above is high-cardinality — scale-safe as is)
      GlobalRank.withSeqAndCount(gaps, "rn", "n", Seq("c_mktsegment"),
          Seq(col("gap").asc, col("o_custkey").asc, col("o_orderkey").asc),
          groupsHint = 5)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"),
          (sum("gap").cast(DoubleType) / count(lit(1))).as("mean_gap"),
          max(when(col("rn") === expr("(n + 1) DIV 2"), col("gap")))
            .as("median_gap"))
        .orderBy("c_mktsegment")
    })
  )

  val oracles: Map[String, String] = Map(

    "win_yoy_revenue" ->
      """WITH py AS (SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY o_custkey, year(o_orderdate)),
        |lg AS (SELECT o_custkey, yr, rev,
        |    lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_yr,
        |    lag(rev) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_rev
        |  FROM py)
        |SELECT o_custkey, yr, rev,
        |  CASE WHEN prev_yr = yr - 1 THEN rev - prev_rev END AS yoy_delta,
        |  CASE WHEN prev_yr = yr - 1 THEN rev / prev_rev END AS yoy_ratio
        |FROM lg ORDER BY o_custkey, yr""".stripMargin,

    "agg_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |cov AS (SELECT DISTINCT user_id,
        |    CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        |      INTERVAL 1 DAY)) AS DATE) AS cday
        |  FROM ud),
        |wau AS (SELECT cday, count(*) AS wau FROM cov GROUP BY cday)
        |SELECT day, dau, wau FROM dau JOIN wau ON day = cday
        |ORDER BY day""".stripMargin,

    "llm_cluster_purity" -> s"""
      |WITH ${AnnCodebook.oracleCtes},
      |cc AS (SELECT k.cell, e.label, count(*) AS c
      |  FROM kcells k JOIN embeddings e USING (vec_id)
      |  GROUP BY k.cell, e.label),
      |sel AS (SELECT cell, label, c,
      |    row_number() OVER (PARTITION BY cell ORDER BY c DESC, label ASC) AS rn,
      |    CAST(sum(c) OVER (PARTITION BY cell) AS BIGINT) AS n_vecs,
      |    max(c) OVER (PARTITION BY cell) AS mx
      |  FROM cc)
      |SELECT cell, n_vecs, label AS majority_label,
      |  CAST(mx AS DOUBLE) / n_vecs AS purity
      |FROM sel WHERE rn = 1 ORDER BY cell""".stripMargin,

    "fn_array_setops" -> s"""
      |WITH d AS (SELECT doc_id, $duckToks AS tk FROM documents
      |  WHERE len($duckToks) >= 1),
      |ht AS (SELECT doc_id, tk,
      |    list_distinct(list_slice(tk, 1, 10)) AS h,
      |    list_distinct(list_slice(tk, greatest(len(tk) - 9, 1), len(tk))) AS t
      |  FROM d)
      |SELECT doc_id,
      |  coalesce(array_to_string(list_sort(list_distinct(list_intersect(h, t))), ','), '') AS inter,
      |  coalesce(array_to_string(list_sort(list_distinct(list_concat(h, t))), ','), '') AS uni,
      |  coalesce(array_to_string(list_sort(list_distinct(
      |    list_filter(h, x -> NOT list_contains(t, x)))), ','), '') AS diff,
      |  CAST(list_position(tk, 'data') AS BIGINT) AS pos_data
      |FROM ht ORDER BY doc_id""".stripMargin,

    "agg_interpurchase_gap" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, c_mktsegment
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT c_mktsegment,
        |    CAST(date_diff('day', lag(o_orderdate) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |      o_orderdate) AS BIGINT) AS gap,
        |    o_custkey, o_orderkey
        |  FROM o QUALIFY gap IS NOT NULL),
        |rk AS (SELECT c_mktsegment, gap,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY gap, o_custkey, o_orderkey) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM g)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(gap) AS DOUBLE) / count(*) AS mean_gap,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS median_gap
        |FROM rk GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  )
}
