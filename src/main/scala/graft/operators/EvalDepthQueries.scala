package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils.QFn
import graft.sources.Tables

/** §2.N — round-3 estimator-evaluation and series-repair additions.
  *
  * `llm_minhash_jaccard_est` quantifies the MinHash estimator itself
  * (est vs exact Jaccard per candidate pair — the error bar behind
  * every banding decision); `win_gap_fill_interp` linearly
  * interpolates gaps in a daily per-user series (the repair step
  * between fill-forward and model imputation); `llm_odds_ratio` is
  * log-odds keyness per language; `agg_distinct_multi` exercises the
  * multi-COUNT(DISTINCT) Expand plan; `agg_weighted_quantile`
  * generalizes the weighted median to p25/p50/p75; and
  * `source_json_corrupt` proves PERMISSIVE corrupt-record capture on
  * a deliberately 1/7-malformed JSON source.
  *
  * Determinism: estimates are dyadic (k/16); interpolation is a
  * single pinned-order expression over exact decimal daily sums and
  * integer day differences; log-odds uses ln (Spark log == DuckDB ln)
  * rounded at 4 as the house float-function rule; the weighted
  * quantiles are pure integer arithmetic over GlobalRank's
  * distributed running weights.
  */
object EvalDepthQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- MinHash Jaccard estimator error, per candidate pair -----------
    // For every banding candidate: est = matching components / 16 vs
    // the exact shingle Jaccard, and the absolute error — the number
    // that tells you whether 16 hashes are enough for this corpus
    // before you trust the ≥0.6 gate. Reuses the SHIPPED pipeline's
    // intermediates (minhashParts) and the unthresholded exact verify;
    // signatures re-attach by doc-id equi-joins, candidates stay
    // band-bounded.
    "llm_minhash_jaccard_est" -> ((s, dir) => {
      val (cand, sh, mh) = ScaleQueries.minhashParts(s, Tables.documents(s, dir))
      val exact = graft.functions.TextShingles.verifyJaccard(cand, sh, tenths = 0)
      val ma = mh.select(col("doc_id").as("doc_a") +:
        (0 until 16).map(i => col(s"m$i").as(s"a$i")): _*)
      val mb = mh.select(col("doc_id").as("doc_b") +:
        (0 until 16).map(i => col(s"m$i").as(s"b$i")): _*)
      val matches = (0 until 16)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      exact.join(ma, "doc_a").join(mb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (matches.cast("double") / lit(16.0)).as("est_jaccard"),
          col("jaccard").as("exact_jaccard"))
        .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
        .orderBy("doc_a", "doc_b")
    }),

    // ---- linear interpolation over daily series gaps --------------------
    // Per-user daily value series densified to the user's [min, max]
    // day span; missing days get the linear interpolation between the
    // surrounding observations (edges fall back to nearest-known).
    // Two windows on the (user, day) clustering; the calendar explode
    // is user-span-bounded. All inputs to the interpolation are exact
    // (decimal daily sums, integer day diffs), and the expression's
    // evaluation order is pinned identically in the oracle.
    "win_gap_fill_interp" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("v"))
      val cal = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val grid = cal.join(daily, Seq("user_id", "day"), "left")
      val wPrev = Window.partitionBy("user_id").orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy(col("day").asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("pd", last(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nd", first(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("day"),
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull || col("nv").isNull,
              coalesce(col("pv"), col("nv")))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (datediff(col("day"), col("pd")).cast("double")
                / datediff(col("nd"), col("pd")).cast("double")))
            .as("v_filled"),
          when(col("v").isNotNull, lit(0L)).otherwise(lit(1L))
            .as("interpolated"))
        .orderBy("user_id", "day")
    }),

    // ---- multiple COUNT(DISTINCT) in one aggregation --------------------
    // Three distinct counts over different columns in one pass — the
    // shape Catalyst plans via Expand (one row per distinct-column per
    // input row, then one aggregation); distinct-heavy reporting at
    // 100 TB lives or dies on this plan, not on three separate scans.
    "agg_distinct_multi" -> ((s, dir) => {
      Tables.orders(s, dir).agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        count(lit(1)).as("n_rows"))
    }),

    // ---- log-odds keyness per language ----------------------------------
    // Which tokens characterize each language vs the rest of the
    // corpus: Haldane-smoothed log-odds over exact integer counts,
    // top 5 per language. One explode + three keyed aggs; the rest-of-
    // corpus counts come from overall minus own (no second pass).
    "llm_odds_ratio" -> ((s, dir) => {
      // all three count tables roll up from the shared unigram ledger
      // (r10 verdict item 6) — vocab-scale rollups, no corpus re-pass
      val lt = graft.tools.TokenArtifacts.byLang(s, dir)
      val kl = lt.select(col("lang"), col("tok").as("t"), col("cnt").as("k"))
      val totl = lt.groupBy("lang").agg(sum("cnt").as("tl"))
        .withColumn("ta", sum(col("tl")).over(Window.orderBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      val kall = lt.groupBy(col("tok").as("t")).agg(sum("cnt").as("ka"))
      val scored = kl.join(broadcast(totl), "lang").join(kall, "t")
        .select(col("lang"), col("t"),
          round(log(((col("k") + lit(0.5)) / (col("tl") - col("k") + lit(0.5)))
            / ((col("ka") - col("k") + lit(0.5))
              / (col("ta") - col("tl") - (col("ka") - col("k")) + lit(0.5)))), 4)
            .as("log_odds"))
      // top-5 per lang via TopKPerGroupExec (bounded heaps over the
      // corpus-vocabulary score table); ranking the ≤ 5×5-row cut is a
      // bounded window.
      val cut = graft.plans.GraftOps.topKPerGroup(scored, Seq("lang"),
        Seq("log_odds" -> false, "t" -> true), 5)
      val w = Window.partitionBy("lang")
        .orderBy(col("log_odds").desc, col("t").asc)
      cut.withColumn("rk", row_number().over(w).cast("long"))
        .select(col("lang"), col("rk"), col("t").as("token"), col("log_odds"))
        .orderBy("lang", "rk")
    }),

    // ---- PERMISSIVE corrupt-record JSON source --------------------------
    // A JSON source where every 7th line is deliberately malformed:
    // PERMISSIVE mode must keep the row (fields null) and capture the
    // raw line in _corrupt_record — the contract that keeps a 100 TB
    // ingest from dying on one bad line. The aggregate proves both the
    // corrupt count and that valid fields survived.
    "source_json_corrupt" -> ((s, dir) => {
      val out = graft.tools.Scratch.dir(s, "jsoncorrupt", dir)
      Tables.documents(s, dir)
        .select(when(col("doc_id") % 7 === 0,
            concat(lit("{\"doc_id\": "), col("doc_id"), lit(", BROKEN")))
          .otherwise(concat(lit("{\"doc_id\": "), col("doc_id"),
            lit(", \"n_chars\": "), col("n_chars"), lit("}"))).as("value"))
        .write.mode("overwrite").text(out)
      s.read
        .schema("doc_id BIGINT, n_chars BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- weighted quantiles (p25/p50/p75) -------------------------------
    // The weighted-median pattern generalized: smallest price whose
    // cumulative quantity weight reaches the quantile of the group
    // total — pure integer arithmetic, one distributed prefix sum + one bounded
    // aggregation, no float boundary anywhere.
    "agg_weighted_quantile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      // per-flag cumulative weight over corpus-scaled lineitem:
      // GlobalRank's distributed running sum (3 flags)
      GlobalRank.withRunningSums(li, Seq((col("w"), "cumw", "totw")),
          Seq("l_returnflag"),
          Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
            col("l_linenumber").asc), groupsHint = 3)
        .groupBy("l_returnflag")
        .agg(
          min(when(col("cumw") * 4 >= col("totw"), col("l_extendedprice")))
            .as("wq25"),
          min(when(col("cumw") * 2 >= col("totw"), col("l_extendedprice")))
            .as("wq50"),
          min(when(col("cumw") * 4 >= col("totw") * 3, col("l_extendedprice")))
            .as("wq75"),
          max("totw").as("total_weight"))
        .orderBy("l_returnflag")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_minhash_jaccard_est" -> (ScaleQueries.minhashCteChain +
      """,
        |mc AS (SELECT c.a_id, c.b_id, count(*) FILTER (ma.m = mb.m) AS nm
        |  FROM cand c
        |  JOIN mh ma ON ma.doc_id = c.a_id
        |  JOIN mh mb ON mb.doc_id = c.b_id AND mb.i = ma.i
        |  GROUP BY 1, 2)
        |SELECT v.a_id AS doc_a, v.b_id AS doc_b,
        |  CAST(nm AS DOUBLE) / 16.0 AS est_jaccard,
        |  CAST(inter AS DOUBLE) / uni AS exact_jaccard,
        |  abs(CAST(nm AS DOUBLE) / 16.0 - CAST(inter AS DOUBLE) / uni) AS abs_err
        |FROM v JOIN mc ON v.a_id = mc.a_id AND v.b_id = mc.b_id
        |ORDER BY doc_a, doc_b""".stripMargin),

    "win_gap_fill_interp" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |cal AS (SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) d0, max(day) d1 FROM daily GROUP BY 1)),
        |grid AS (SELECT c.user_id, c.day, v FROM cal c
        |  LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day),
        |f AS (SELECT user_id, day, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM grid)
        |SELECT user_id, day,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL OR nv IS NULL THEN coalesce(pv, nv)
        |       ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
        |         / CAST(date_diff('day', pd, nd) AS DOUBLE)) END AS v_filled,
        |  CAST(CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS BIGINT) AS interpolated
        |FROM f ORDER BY user_id, day""".stripMargin,

    "agg_distinct_multi" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM orders""".stripMargin,

    "llm_odds_ratio" ->
      """WITH tok AS (SELECT lang, unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS t FROM documents),
        |kl AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS k FROM tok GROUP BY 1, 2),
        |totl AS (SELECT lang, CAST(count(*) AS BIGINT) AS tl,
        |    CAST(sum(count(*)) OVER () AS BIGINT) AS ta
        |  FROM tok GROUP BY lang),
        |kall AS (SELECT t, CAST(count(*) AS BIGINT) AS ka FROM tok GROUP BY t),
        |scored AS (SELECT kl.lang, kl.t,
        |    round(ln(((k + 0.5) / (tl - k + 0.5))
        |      / ((ka - k + 0.5) / (ta - tl - (ka - k) + 0.5))), 4) AS log_odds
        |  FROM kl JOIN totl ON kl.lang = totl.lang JOIN kall ON kl.t = kall.t),
        |rk AS (SELECT lang, t, log_odds,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY log_odds DESC, t ASC) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT lang, rk, t AS token, log_odds
        |FROM rk WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "source_json_corrupt" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) FILTER (doc_id % 7 = 0) AS BIGINT) AS n_corrupt,
        |  CAST(sum(n_chars) FILTER (doc_id % 7 <> 0) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,

    "agg_weighted_quantile" ->
      """WITH c AS (SELECT l_returnflag, l_extendedprice,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  min(CASE WHEN cumw * 4 >= totw THEN l_extendedprice END) AS wq25,
        |  min(CASE WHEN cumw * 2 >= totw THEN l_extendedprice END) AS wq50,
        |  min(CASE WHEN cumw * 4 >= totw * 3 THEN l_extendedprice END) AS wq75,
        |  CAST(max(totw) AS BIGINT) AS total_weight
        |FROM c
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
