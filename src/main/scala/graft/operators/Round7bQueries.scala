package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 second wave: time-series trend and smoothing over
  * calendar-bounded daily aggregates (Mann-Kendall, EWMA), corpus
  * divergence and collocation mining (Jensen-Shannon, PMI), and the
  * rich-club coefficient.
  *
  * Scale notes: the two time-series operators aggregate the corpus to
  * a ≤31-row-per-group daily table FIRST (one keyed shuffle), so their
  * pairwise/window stages are calendar-bounded — scale-free no matter
  * the event volume. JSD avoids the dense source×vocabulary grid
  * analytically: for tokens ABSENT from a source, m = q/2, so the
  * KL(Q‖M) remainder collapses to ln2·(1 − covered q-mass) — only
  * PRESENT (source, token) pairs are ever materialized. PMI and JSD
  * shuffles are vocabulary-bounded; rich-club is one degree table +
  * an edge join exploded over four k thresholds.
  */
object Round7bQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Mann-Kendall trend test ----------------------------------------
    // "Is daily spend trending" per event type, nonparametrically:
    // S = Σ_{s<t} sign(x_t − x_s) over the DAILY DECIMAL SUMS (exact
    // comparisons — no double means as compare keys), tie-corrected
    // variance, the ±1-continuity z. The pair stage runs on the ≤31-row
    // daily aggregate: C(31,2) pairs per type, calendar-bounded.
    "agg_trend_mann_kendall" -> ((s, dir) => {
      val daily = dailyDec(s, dir)
      val p = daily.toDF("event_type", "day_s", "xs")
        .join(daily.toDF("et2", "day_t", "xt"),
          col("event_type") === col("et2") && col("day_s") < col("day_t"))
      val sAgg = p.groupBy("event_type").agg(
        sum(signum(col("xt") - col("xs")).cast("long")).as("s"),
        count(lit(1)).as("n_pairs"))
      // tie groups over the daily values (exact decimal equality)
      val ties = daily.groupBy("event_type", "x").agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("__g"), sum("t").as("n"),
          sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tcorr"))
        .drop("__g")
      sAgg.join(ties, "event_type")
        .select(col("event_type"), col("n"), col("s").as("mk_s"),
          round(
            when(col("s") > 0, (d(col("s")) - 1) /
              sqrt((d(col("n")) * (d(col("n")) - 1) * (d(col("n")) * 2 + 5)
                - d(col("tcorr"))) / 18.0))
            .when(col("s") < 0, (d(col("s")) + 1) /
              sqrt((d(col("n")) * (d(col("n")) - 1) * (d(col("n")) * 2 + 5)
                - d(col("tcorr"))) / 18.0))
            .otherwise(lit(0.0)), 6).as("mk_z"))
        .orderBy("event_type")
    }),

    // ---- Jensen-Shannon divergence per source ---------------------------
    // "How far is each source's unigram distribution from the corpus":
    // JSD(P_s ‖ Q) with M = (P+Q)/2. Only PRESENT (source, token)
    // rows are materialized — the KL(Q‖M) mass of tokens ABSENT from
    // the source is exactly ln2·(1 − Σ_present q) because m = q/2
    // there. p/q are exact integer-count ratios; both sums are
    // round(·, 8)-then-decimal-summed; JSD additionally normalized by
    // ln2 into [0, 1].
    "llm_js_divergence" -> ((s, dir) => {
      // all four count tables roll up from the shared unigram ledger
      // (r10 verdict item 6) — vocab-scale rollups, no corpus re-pass
      val st = graft.tools.TokenArtifacts.bySource(s, dir)
      val cs = st.select(col("source"), col("tok"), col("cnt").as("c_st"))
      val ct = st.groupBy("tok").agg(sum("cnt").as("c_t"))
      val ns = st.groupBy(col("source").as("src2")).agg(sum("cnt").as("n_s"))
      val nt = st.agg(sum("cnt").as("n_t"))
      val terms = cs
        .join(ct, "tok")
        .join(broadcast(ns), col("source") === col("src2"))
        .crossJoin(broadcast(nt))
        .select(col("source"),
          (d(col("c_st")) / d(col("n_s"))).as("p"),
          (d(col("c_t")) / d(col("n_t"))).as("q"))
        .select(col("source"),
          round(col("p") * log(col("p") / ((col("p") + col("q")) / 2)), 8)
            .cast(DecimalType(18, 8)).as("pm"),
          round(col("q") * log(col("q") / ((col("p") + col("q")) / 2)), 8)
            .cast(DecimalType(18, 8)).as("qm"),
          round(col("q"), 8).cast(DecimalType(18, 8)).as("qmass"))
      terms.groupBy("source")
        .agg(sum("pm").as("spm"), sum("qm").as("sqm"), sum("qmass").as("qcov"))
        .select(col("source"),
          round((col("spm").cast(DoubleType)
            + col("sqm").cast(DoubleType)
            + log(lit(2.0)) * (lit(1.0) - col("qcov").cast(DoubleType))) / 2.0, 6)
            .as("jsd"),
          round(((col("spm").cast(DoubleType)
            + col("sqm").cast(DoubleType)
            + log(lit(2.0)) * (lit(1.0) - col("qcov").cast(DoubleType))) / 2.0)
            / log(lit(2.0)), 6).as("jsd_norm"))
        .orderBy("source")
    }),

    // ---- PMI collocations -----------------------------------------------
    // The top bigram collocations by pointwise mutual information:
    // PMI = ln(N·c12/(c1·c2)) over bigram-table marginals, support
    // floor c12 ≥ 5 (rare-pair PMI explodes), top-25 by round(PMI, 6)
    // with a (w1, w2) tiebreak — vocabulary-bounded shuffles, one
    // 1-row total broadcast.
    "llm_pmi_collocations" -> ((s, dir) => {
      // r14: adjacent pairs via the codegen'd SkipGramList(1) kernel
      // (the transform(sequence(...)) form interpreted its lambda per
      // element); identical token stream, identical (w1, w2) pairs.
      val bg = Tables.documents(s, dir)
        .select(explode_outer(
          graft.functions.TextNGrams.mkSkipGrams(col("text"), 1)).as("b"))
        .where(col("b").isNotNull)
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1").as("u1")).agg(count(lit(1)).as("c1"))
      val c2 = bg.groupBy(col("w2").as("u2")).agg(count(lit(1)).as("c2"))
      val n = bg.agg(count(lit(1)).as("n"))
      c12.where(col("c12") >= 5)
        .join(c1, col("w1") === col("u1"))
        .join(c2, col("w2") === col("u2"))
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c12"),
          round(log(d(col("n")) * d(col("c12")) / (d(col("c1")) * d(col("c2")))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(25)
    }),

    // ---- daily EWMA ------------------------------------------------------
    // Exponentially weighted moving average (α = 0.2) of the daily
    // value-sum per event type, in CLOSED FORM over the calendar-
    // bounded daily aggregate: ewma_t = Σ_{s≤t} x_s·β^(t−s) / Σ β^(t−s)
    // with β = 0.8, rewritten as running sums of u_s = x_s·1.25^s and
    // v_s = 1.25^s (the β^t factor cancels from the ratio, and s ≤ 31
    // keeps 1.25^s ≤ 1000 — no overflow). pow terms are round(·, 6/8)
    // then decimal-summed so the running sums are order-free.
    // ZERO float links (r9 EWMA-family hardening, see EwmaWeights):
    // exact integer decay weights, exact decimal window sums, ewma as
    // one half-up micro-integer division — the old rounded
    // x·pow(1.25, day) terms were systematically boundary-fragile and
    // libm-drift-exposed past day 22 (the win_macd r8 failure mode).
    "win_ewma_daily" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = dailyDec(s, dir)
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("x6", (col("x") * 1000000).cast(DecimalType(38, 0)))
        .join(broadcast(EwmaWeights.df(s)), "day")
        .withColumn("nu", sum(col("x6") * col("w")).over(w))
        .withColumn("de", sum(col("w")).over(w))
        .select(col("event_type"), col("day"),
          round(d(col("x")), 6).as("daily_sum"),
          (d(expr("(2 * nu + de) div (2 * de)")) / 1000000.0).as("ewma"))
        .orderBy("event_type", "day")
    }),

    // ---- rich-club coefficient ------------------------------------------
    // Do high-degree suppliers preferentially co-occur with each other?
    // φ(k) = 2·E_k / (N_k·(N_k − 1)) over the deg > k subgraphs for
    // k = 2..5 — one degree table and one endpoint-joined edge list,
    // both exploded over the four constant thresholds (map-side).
    "graph_rich_club" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("richclub.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val deg = e.select(col("sa").as("v")).union(e.select(col("sb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val ks = array((2 to 5).map(k => lit(k.toLong)): _*)
      val nk = deg.select(col("deg"), explode(ks).as("k"))
        .where(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ek = e
        .join(deg.toDF("va", "da"), col("sa") === col("va"))
        .join(deg.toDF("vb", "db"), col("sb") === col("vb"))
        .select(explode(ks).as("k"), col("da"), col("db"))
        .where(col("da") > col("k") && col("db") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      nk.join(ek, Seq("k"), "left")
        .select(col("k"), col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"),
          when(col("n_k") >= 2,
            round(lit(2.0) * d(coalesce(col("e_k"), lit(0L))) /
              (d(col("n_k")) * (d(col("n_k")) - 1.0)), 6)).as("phi"))
        .orderBy("k")
    }),

    // ---- character-level entropy ----------------------------------------
    // The character-distribution complement of llm_doc_entropy's token
    // view (script-mix / encoding-noise detector): per language,
    // H = −Σ p·ln p over non-space characters (regexp '.': identical
    // any-char semantics in Java regex and RE2), terms round(·, 8)
    // then decimal-summed; counts exact.
    "llm_char_entropy" -> ((s, dir) => {
      val ch = Tables.documents(s, dir)
        .select(col("lang"),
          explode(regexp_extract_all(col("text"), lit("."), lit(0))).as("c"))
        .where(col("c") =!= " ")
      val cnt = ch.groupBy("lang", "c").agg(count(lit(1)).as("n_c"))
      val tot = cnt.groupBy(col("lang").as("l2"))
        .agg(sum("n_c").as("n"), count(lit(1)).as("n_distinct"))
      cnt.join(broadcast(tot), col("lang") === col("l2"))
        .select(col("lang"), col("n"), col("n_distinct"),
          round(-(d(col("n_c")) / d(col("n"))) * log(d(col("n_c")) / d(col("n"))), 8)
            .cast(DecimalType(18, 8)).as("term"))
        .groupBy("lang")
        .agg(max("n").as("n_chars"), max("n_distinct").as("n_distinct_chars"),
          round(sum("term").cast(DoubleType), 6).as("char_entropy"))
        .orderBy("lang")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_trend_mann_kendall" -> s"""
      |WITH $dailyDecSql,
      |p AS (SELECT a.event_type,
      |    CAST(sum(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY a.event_type),
      |ties AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tcorr
      |  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
      |    FROM daily GROUP BY event_type, x) GROUP BY event_type)
      |SELECT p.event_type, ties.n, p.s AS mk_s,
      |  round(CASE
      |    WHEN p.s > 0 THEN (CAST(p.s AS DOUBLE) - 1) /
      |      sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
      |        * (2 * CAST(n AS DOUBLE) + 5) - CAST(tcorr AS DOUBLE)) / 18.0)
      |    WHEN p.s < 0 THEN (CAST(p.s AS DOUBLE) + 1) /
      |      sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
      |        * (2 * CAST(n AS DOUBLE) + 5) - CAST(tcorr AS DOUBLE)) / 18.0)
      |    ELSE 0.0 END, 6) AS mk_z
      |FROM p JOIN ties ON p.event_type = ties.event_type
      |ORDER BY p.event_type""".stripMargin,

    "llm_js_divergence" -> s"""
      |WITH t AS (SELECT source, unnest($duckToks) AS tok FROM documents),
      |cs AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
      |  FROM t GROUP BY 1, 2),
      |ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_t FROM t GROUP BY 1),
      |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM t GROUP BY 1),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_t FROM t),
      |terms AS (SELECT cs.source,
      |    CAST(round(p * ln(p / ((p + q) / 2)), 8) AS DECIMAL(18,8)) AS pm,
      |    CAST(round(q * ln(q / ((p + q) / 2)), 8) AS DECIMAL(18,8)) AS qm,
      |    CAST(round(q, 8) AS DECIMAL(18,8)) AS qmass
      |  FROM (SELECT cs.source,
      |      CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE) AS p,
      |      CAST(c_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS q
      |    FROM cs JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN nt) cs)
      |SELECT source,
      |  round((CAST(sum(pm) AS DOUBLE) + CAST(sum(qm) AS DOUBLE)
      |    + ln(2.0) * (1.0 - CAST(sum(qmass) AS DOUBLE))) / 2.0, 6) AS jsd,
      |  round(((CAST(sum(pm) AS DOUBLE) + CAST(sum(qm) AS DOUBLE)
      |    + ln(2.0) * (1.0 - CAST(sum(qmass) AS DOUBLE))) / 2.0) / ln(2.0), 6)
      |    AS jsd_norm
      |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "llm_pmi_collocations" -> s"""
      |WITH d AS (SELECT $duckToks AS tk FROM documents WHERE len($duckToks) >= 2),
      |bg AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM d,
      |  unnest(generate_series(1, len(tk) - 1)) u(i)),
      |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
      |c2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg)
      |SELECT w1, w2, c12,
      |  round(ln(CAST(n AS DOUBLE) * CAST(c12 AS DOUBLE)
      |    / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
      |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
      |WHERE c12 >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin,

    "win_ewma_daily" -> s"""
      |WITH $dailyDecSql,
      |pw(day, w) AS (VALUES
      |    ${EwmaWeights.valuesSql}),
      |j AS (SELECT d.event_type, d.day, d.x,
      |    CAST(d.x * 1000000 AS HUGEINT) * p.w AS xw, p.w
      |  FROM daily d JOIN pw p USING (day))
      |SELECT event_type, day, round(CAST(x AS DOUBLE), 6) AS daily_sum,
      |  CAST((2 * sum(xw) OVER wr + sum(w) OVER wr)
      |    // (2 * sum(w) OVER wr) AS DOUBLE) / 1000000.0 AS ewma
      |FROM j
      |WINDOW wr AS (PARTITION BY event_type ORDER BY day
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin,

    "graph_rich_club" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT sa AS v FROM e UNION ALL SELECT sb FROM e) GROUP BY v),
      |ks AS (SELECT unnest(generate_series(2, 5)) AS k),
      |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
      |  FROM deg CROSS JOIN ks WHERE deg > k GROUP BY k),
      |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k
      |  FROM e JOIN deg da ON e.sa = da.v JOIN deg db ON e.sb = db.v
      |  CROSS JOIN ks WHERE da.deg > k AND db.deg > k GROUP BY k)
      |SELECT nk.k, nk.n_k, coalesce(ek.e_k, 0) AS e_k,
      |  CASE WHEN nk.n_k >= 2 THEN round(2.0 * CAST(coalesce(ek.e_k, 0) AS DOUBLE)
      |    / (CAST(nk.n_k AS DOUBLE) * (CAST(nk.n_k AS DOUBLE) - 1.0)), 6)
      |  ELSE NULL END AS phi
      |FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY nk.k""".stripMargin,

    "llm_char_entropy" -> """
      |WITH ch AS (SELECT lang, unnest(regexp_extract_all(text, '.')) AS c
      |  FROM documents),
      |cnf AS (SELECT lang, c, CAST(count(*) AS BIGINT) AS n_c
      |  FROM ch WHERE c <> ' ' GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(n_c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_distinct FROM cnf GROUP BY lang),
      |terms AS (SELECT cnf.lang,
      |    CAST(round(-(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE)), 8)
      |      AS DECIMAL(18,8)) AS term, n, n_distinct
      |  FROM cnf JOIN tot USING (lang))
      |SELECT lang, max(n) AS n_chars, max(n_distinct) AS n_distinct_chars,
      |  round(CAST(sum(term) AS DOUBLE), 6) AS char_entropy
      |FROM terms GROUP BY lang ORDER BY lang""".stripMargin)
}
