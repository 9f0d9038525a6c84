package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 fourth wave: robust trend estimation (Theil–Sen), serial
  * dependence (lagged autocorrelation), additive seasonal decomposition,
  * DSIR-style hashed-feature importance weights for data selection,
  * multiple-testing control (Benjamini–Hochberg), and a grid-bucketed
  * spatial radius join.
  *
  * Scale notes: the three time-series operators aggregate events to a
  * ≤31-row-per-group daily table FIRST (one keyed shuffle), so pair /
  * window stages are calendar-bounded. DSIR's feature table is a
  * constant 128 hashed buckets — the per-token join broadcasts it, so
  * the operator is one explode + one map-side join + one doc-keyed
  * aggregate no matter the corpus size. The spatial join explodes the
  * SMALL side (suppliers × 9 neighbor cells) and equi-joins on the grid
  * cell: candidate volume is bounded by point density × 9 cells, never
  * |customers| × |suppliers|, and cell size = radius guarantees the
  * 3×3 neighborhood is lossless for the radius predicate.
  */
object Round7dQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Theil–Sen robust slope ------------------------------------------
    // The median of all pairwise slopes of the daily spend series per
    // event type — the breakdown-resistant complement of the OLS slope
    // (win_rolling_slope) and the magnitude complement of Mann-Kendall's
    // sign test. Slopes are exact-decimal differences cast ONCE to
    // double, 8dp-quantized; the median is an exact discrete selection
    // (row_number over a total order, avg of the ≤2 middle values), not
    // an engine-specific percentile. Pair stage is C(≤31, 2) per type.
    "agg_theil_sen" -> ((s, dir) => {
      val dy = dailyDec(s, dir)
      val p = dy.toDF("event_type", "day_s", "xs")
        .join(dy.toDF("et2", "day_t", "xt"),
          col("event_type") === col("et2") && col("day_s") < col("day_t"))
        .select(col("event_type"), col("day_s"), col("day_t"),
          round(d(col("xt") - col("xs")) / d(col("day_t") - col("day_s")), 8)
            .as("slope"))
      val w = Window.partitionBy("event_type")
      val r = p
        .withColumn("rn", row_number().over(
          w.orderBy(col("slope"), col("day_s"), col("day_t"))))
        .withColumn("np", count(lit(1)).over(w))
        .where(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("np div 2 + 1"))
      r.groupBy("event_type")
        .agg(max("np").as("n_pairs"),
          round(sum(col("slope")) / count(lit(1)), 6).as("ts_slope"))
        .orderBy("event_type")
    }),

    // ---- lagged autocorrelation ------------------------------------------
    // Serial dependence of daily spend at lags 1, 2 and 7 (the weekly
    // echo) per event type: Pearson r between the series and its
    // lag-shifted self, from exact decimal cross-moments (the
    // win_rolling_corr discipline) — one calendar-bounded self-join per
    // lag, no window at all.
    "agg_autocorr_daily" -> ((s, dir) => {
      val dy = dailyDec(s, dir)
      val a = dy.select(col("event_type"), col("day"), col("x"),
        explode(array(lit(1L), lit(2L), lit(7L))).as("lag"))
      val b = dy.toDF("et2", "day_b", "xb")
      val x19 = col("x").cast(DecimalType(19, 6))
      val y19 = col("xb").cast(DecimalType(19, 6))
      val m = a.join(b,
          col("event_type") === col("et2") &&
            col("day_b") === col("day") + col("lag"))
        .groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("xb")).as("sy"),
          sum(x19 * x19).as("sxx"), sum(x19 * y19).as("sxy"),
          sum(y19 * y19).as("syy"))
      val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val dx = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      val dyv = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
      m.select(col("event_type"), col("lag"), col("n"),
          when(dx > 0 && dyv > 0, round(num / (sqrt(dx) * sqrt(dyv)), 6))
            .as("acf"))
        .orderBy("event_type", "lag")
    }),

    // ---- additive seasonal decomposition ----------------------------------
    // daily = trend + seasonal + residual: trend is the 7-day centered
    // moving average (RANGE frame, so calendar gaps can't misalign it;
    // emitted only where the full 7-day neighborhood exists), seasonal
    // is the day-of-week mean of the detrended series, residual is the
    // remainder. All means are exact-decimal-sum / count with one
    // double division; detrended values are 6dp-quantized before the
    // seasonal mean so the group sum is order-free.
    "win_seasonal_decompose" -> ((s, dir) => {
      // Fully exact micro-unit pipeline (BoundaryGuard r9: the dow-mean
      // over counts 4/5 terminates and lands exactly on 6dp half
      // boundaries). x is an exact 6dp decimal sum, so x6 = x*1e6 is an
      // exact long; trend/seasonal are signed half-up integer divisions
      // of exact sums; resid is an exact integer difference. The only
      // doubles are the final /1e6 display divisions.
      val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-3, 3)
      def halfUp(num: String, den: String): Column = expr(
        s"CASE WHEN $num >= 0 THEN (2 * $num + $den) div (2 * $den) " +
          s"ELSE -((2 * (-$num) + $den) div (2 * $den)) END")
      val t = dailyDec(s, dir)
        .withColumn("x6",
          (col("x") * 1000000).cast(DecimalType(38, 0)).cast("long"))
        .withColumn("n7", count(lit(1)).over(w))
        .withColumn("ts6", sum("x6").over(w))
        .select(col("event_type"), col("day"), col("x6"),
          when(col("n7") === 7, halfUp("ts6", "7")).as("t6"))
        .withColumn("dow", col("day") % 7)
        .withColumn("d6", col("x6") - col("t6"))
      val seas = t.groupBy(col("event_type").as("et2"), col("dow").as("dow2"))
        .agg(sum(col("d6")).as("sd6"), count(col("d6")).as("cd6"))
        .select(col("et2"), col("dow2"), halfUp("sd6", "cd6").as("s6"))
      t.join(broadcast(seas),
          col("event_type") === col("et2") && col("dow") === col("dow2"))
        .select(col("event_type"), col("day"),
          (d(col("x6")) / 1000000.0).as("daily_sum"),
          (d(col("t6")) / 1000000.0).as("trend"),
          (d(col("s6")) / 1000000.0).as("seasonal"),
          (d(col("x6") - col("t6") - col("s6")) / 1000000.0).as("resid"))
        .orderBy("event_type", "day")
    }),

    // ---- DSIR importance weights ------------------------------------------
    // Data Selection via Importance Resampling (Xie et al. 2023, public
    // arXiv 2302.03169): score every document by how target-like its
    // hashed-unigram features are — w(doc) = Σ_tok ln(p̂_target(b) /
    // p̂_raw(b)) over 128 md5-hashed buckets with +1 smoothing, target =
    // the English slice. The bucket LM is a constant 128-row broadcast;
    // the log-ratio argument is a ratio of exact int64 products (< 2^53,
    // so the doubles are exact), 8dp-quantized then decimal-summed per
    // doc. Top-25 most target-like docs.
    "llm_dsir_weights" -> ((s, dir) => {
      // r15 batch 4: the scoring pass pre-counts each doc's tokens per
      // hash60 bucket in one kernel pass (TokenHashBuckets: md5 once
      // per DISTINCT token, ≤ min(distinct, 128) rows emitted per doc
      // instead of one per OCCURRENCE — at 100 TB doc lengths the
      // explode/join/aggregate row count stops scaling with document
      // length). Σ_occurrences lr = Σ_buckets lr·cnt exactly (lr is
      // decimal(18,8), cnt int64 — the product and sum are exact and
      // order-free), and n_tok = Σ cnt = the occurrence count, so the
      // result is bit-identical; TextNGramsSpec pins the kernel's
      // bucketing against the hash60-expression form cell-by-cell.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextNGrams.mkTokenHashBuckets(col("text"), 128))
            .as("bc"))
        .select(col("doc_id"), col("bc.b").as("b"), col("bc.cnt").as("cnt"))
      // the 128-bucket hashed-unigram LM counts roll up from the
      // shared unigram ledger (r10 verdict item 6): the bucket is a
      // function of the ledger's token key, so only the final per-doc
      // scoring pass still reads the corpus token stream
      val lt = graft.tools.TokenArtifacts.byLang(s, dir)
        .withColumn("b", hash60(col("tok")) % 128)
      val raw = lt.groupBy("b").agg(sum("cnt").as("cr"))
      val tgt = lt.where(col("lang") === "en")
        .groupBy(col("b").as("b2")).agg(sum("cnt").as("ct"))
      val wAll = Window.partitionBy()
      val lm = raw.join(tgt, col("b") === col("b2"), "left")
        .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
        .withColumn("nr", sum("cr").over(wAll))
        .withColumn("nt", sum("ct").over(wAll))
        .select(col("b"),
          round(log(d((col("ct") + 1) * (col("nr") + 128)) /
            d((col("cr") + 1) * (col("nt") + 128))), 8)
            .cast(DecimalType(18, 8)).as("lr"))
      // round the EXACT decimal(18,8) lr sum BEFORE the double cast
      // (BoundaryGuard r9: an 8dp sum ending in ...50 sits exactly on
      // the 6dp half boundary; decimal half-up is engine-exact)
      // cnt is cast to decimal(18,0) BEFORE the product: decimal(18,8) ×
      // bigint(= decimal(20,0)) would hit precision 39 > 38 and Spark's
      // allowPrecisionLoss rule drops the product to scale 7 — rounding
      // the 8th decimal and moving 6dp ties (caught by the sf0.001
      // oracle). decimal(18,8) × decimal(18,0) = decimal(37,8), exact.
      toks.join(broadcast(lm), "b")
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_tok"),
          round(sum(col("lr") * col("cnt").cast(DecimalType(18, 0))), 6)
            .cast(DoubleType).as("dsir_w"))
        .orderBy(col("dsir_w").desc, col("doc_id"))
        .limit(25)
    }),

    // ---- Benjamini–Hochberg FDR -------------------------------------------
    // Multiple-testing control over the 35 (event type × day-of-week)
    // mean-shift hypotheses: z = (cell mean − type mean) / (type sd /
    // √n_cell) from exact decimal moments, two-sided p via the
    // Abramowitz–Stegun 7.1.26 normal-tail polynomial (identical IEEE
    // arithmetic on both engines — probed to 0 mismatches at 8dp over a
    // z grid), BH step-up at q = 0.10. z is 6dp-quantized BEFORE the
    // p computation so both engines feed Φ the same double. The
    // hypothesis table is 35 rows by construction — the BH rank windows
    // are catalog-bounded (PlanGuard-allowlisted).
    "agg_fdr_bh" -> ((s, dir) => {
      val v6 = col("value").cast(DecimalType(18, 6))
      val v19 = col("value").cast(DecimalType(19, 6))
      val ev = Tables.events(s, dir)
        .select(col("event_type"), (dayofmonth(col("ts")) % 7).cast("long").as("dow"),
          v6.as("v"), (v19 * v19).as("v2"))
      val cells = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_c"), sum("v").as("sc"))
      val types = ev.groupBy(col("event_type").as("et2"))
        .agg(count(lit(1)).as("n_t"), sum("v").as("st"), sum("v2").as("sxx"))
      val meanC = d(col("sc")) / d(col("n_c"))
      val meanT = d(col("st")) / d(col("n_t"))
      val varT = (d(col("sxx")) - d(col("st")) * d(col("st")) / d(col("n_t"))) /
        (d(col("n_t")) - 1.0)
      val zq = cells.join(broadcast(types), col("event_type") === col("et2"))
        .select(col("event_type"), col("dow"), col("n_c"),
          round((meanC - meanT) / sqrt(varT / d(col("n_c"))), 6).as("z"))
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * abs(col("z")))
      val poly = lit(0.319381530) * t - lit(0.356563782) * t * t +
        lit(1.781477937) * t * t * t - lit(1.821255978) * t * t * t * t +
        lit(1.330274429) * t * t * t * t * t
      val p = zq.withColumn("p",
        round(lit(2.0) * exp(-(col("z") * col("z")) / 2.0) /
          sqrt(lit(2.0) * lit(math.Pi)) * poly, 8))
      val wAll = Window.partitionBy()
      p.withColumn("p_rank",
          row_number().over(wAll.orderBy(col("p"), col("event_type"), col("dow")))
            .cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("kmax", max(
          when(col("p") <= d(col("p_rank")) / d(col("m")) * 0.10, col("p_rank")))
          .over(wAll))
        .select(col("event_type"), col("dow"), col("n_c"), col("z"), col("p"),
          col("p_rank"),
          (col("p_rank") <= coalesce(col("kmax"), lit(0))).as("rejected"))
        .orderBy("event_type", "dow")
    }),

    // ---- grid-bucketed spatial radius join ---------------------------------
    // Nearest supplier within Euclidean radius 2 for every customer,
    // over deterministic md5-derived points on a 100×100 plane — the
    // geohash/grid-file join pattern: bucket both sides into r-sized
    // cells, explode the SMALL side into its 3×3 cell neighborhood
    // (lossless for the radius: |Δx| ≤ r ⇒ adjacent cells), broadcast
    // it, equi-join on the cell, then the exact distance filter and a
    // per-customer (dist², suppkey) top-1. Candidate volume is density-
    // bounded — never |customers| × |suppliers|.
    "join_spatial_grid" -> ((s, dir) => {
      def pt(key: Column, axis: String): Column =
        d(hash60(concat(lit(axis), key.cast("string"))) % 100000) / 1000.0
      val cust = Tables.customer(s, dir).select(col("c_custkey"),
        pt(col("c_custkey"), "x").as("cx"), pt(col("c_custkey"), "y").as("cy"))
        .withColumn("ix", floor(col("cx") / 2.0))
        .withColumn("iy", floor(col("cy") / 2.0))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"),
        pt(col("s_suppkey"), "x").as("sx"), pt(col("s_suppkey"), "y").as("sy"))
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("s_suppkey"), col("sx"), col("sy"),
          (floor(col("sx") / 2.0) + col("dx")).as("jx"),
          (floor(col("sy") / 2.0) + col("dy")).as("jy"))
      val d2 = (col("cx") - col("sx")) * (col("cx") - col("sx")) +
        (col("cy") - col("sy")) * (col("cy") - col("sy"))
      cust.join(broadcast(supp),
          col("ix") === col("jx") && col("iy") === col("jy"))
        .where(d2 <= 4.0)
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_custkey").orderBy(d2, col("s_suppkey"))))
        .where(col("rn") === 1)
        .select(col("c_custkey"), col("s_suppkey"),
          round(sqrt(d2), 6).as("dist"))
        .orderBy("c_custkey")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_theil_sen" -> s"""
      |WITH $dailyDecSql,
      |p AS (SELECT a.event_type, a.day AS day_s, b.day AS day_t,
      |    round(CAST(b.x - a.x AS DOUBLE)
      |      / CAST(b.day - a.day AS DOUBLE), 8) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |r AS (SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, day_s, day_t) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
      |  FROM p)
      |SELECT event_type, max(np) AS n_pairs,
      |  round(sum(slope) / count(*), 6) AS ts_slope
      |FROM r WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_autocorr_daily" -> s"""
      |WITH $dailyDecSql,
      |lags AS (SELECT unnest([1, 2, 7]) AS lag),
      |m AS (SELECT a.event_type, CAST(lag AS BIGINT) AS lag,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(a.x) AS sx, sum(b.x) AS sy,
      |    sum(CAST(a.x AS DECIMAL(19,6)) * CAST(a.x AS DECIMAL(19,6))) AS sxx,
      |    sum(CAST(a.x AS DECIMAL(19,6)) * CAST(b.x AS DECIMAL(19,6))) AS sxy,
      |    sum(CAST(b.x AS DECIMAL(19,6)) * CAST(b.x AS DECIMAL(19,6))) AS syy
      |  FROM daily a CROSS JOIN lags
      |    JOIN daily b ON a.event_type = b.event_type
      |      AND b.day = a.day + lag
      |  GROUP BY 1, 2)
      |SELECT event_type, lag, n,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |    AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |  THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |  ELSE NULL END AS acf
      |FROM m ORDER BY event_type, lag""".stripMargin,

    "win_seasonal_decompose" -> s"""
      |WITH $dailyDecSql,
      |t AS (SELECT event_type, day,
      |    CAST(x * 1000000 AS BIGINT) AS x6,
      |    CASE WHEN CAST(count(*) OVER w AS BIGINT) = 7 THEN
      |      CASE WHEN sum(CAST(x * 1000000 AS BIGINT)) OVER w >= 0
      |        THEN (2 * sum(CAST(x * 1000000 AS BIGINT)) OVER w + 7) // 14
      |        ELSE -((2 * (-sum(CAST(x * 1000000 AS BIGINT)) OVER w) + 7) // 14)
      |      END
      |    END AS t6,
      |    day % 7 AS dow
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t2 AS (SELECT *, x6 - t6 AS d6 FROM t),
      |seas AS (SELECT event_type, dow,
      |    CASE WHEN sum(d6) >= 0
      |      THEN (2 * sum(d6) + count(d6)) // (2 * count(d6))
      |      ELSE -((2 * (-sum(d6)) + count(d6)) // (2 * count(d6)))
      |    END AS s6
      |  FROM t2 GROUP BY 1, 2)
      |SELECT t2.event_type, t2.day,
      |  CAST(x6 AS DOUBLE) / 1000000.0 AS daily_sum,
      |  CAST(t6 AS DOUBLE) / 1000000.0 AS trend,
      |  CAST(s6 AS DOUBLE) / 1000000.0 AS seasonal,
      |  CAST(x6 - t6 - s6 AS DOUBLE) / 1000000.0 AS resid
      |FROM t2 JOIN seas ON t2.event_type = seas.event_type AND t2.dow = seas.dow
      |ORDER BY t2.event_type, t2.day""".stripMargin,

    "llm_dsir_weights" -> s"""
      |WITH toks AS (SELECT doc_id, lang, unnest($duckToks) AS tok
      |  FROM documents),
      |tb AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 128 AS b FROM toks),
      |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b),
      |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb
      |  WHERE lang = 'en' GROUP BY b),
      |lm AS (SELECT raw.b, cr, coalesce(ct, 0) AS ct,
      |    CAST(sum(cr) OVER () AS BIGINT) AS nr,
      |    CAST(sum(coalesce(ct, 0)) OVER () AS BIGINT) AS nt
      |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      |lr AS (SELECT b,
      |    CAST(round(ln(CAST((ct + 1) * (nr + 128) AS DOUBLE)
      |      / CAST((cr + 1) * (nt + 128) AS DOUBLE)), 8) AS DECIMAL(18,8)) AS lr
      |  FROM lm)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(round(sum(lr), 6) AS DOUBLE) AS dsir_w
      |FROM tb JOIN lr USING (b)
      |GROUP BY doc_id ORDER BY dsir_w DESC, doc_id LIMIT 25""".stripMargin,

    "agg_fdr_bh" -> """
      |WITH ev AS (SELECT event_type, CAST(day(ts) % 7 AS BIGINT) AS dow,
      |    CAST(value AS DECIMAL(18,6)) AS v,
      |    CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) AS v2
      |  FROM events),
      |cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_c,
      |    sum(v) AS sc FROM ev GROUP BY 1, 2),
      |types AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t,
      |    sum(v) AS st, sum(v2) AS sxx FROM ev GROUP BY 1),
      |zt AS (SELECT cells.event_type, dow, n_c,
      |    round((CAST(sc AS DOUBLE) / CAST(n_c AS DOUBLE)
      |        - CAST(st AS DOUBLE) / CAST(n_t AS DOUBLE))
      |      / sqrt(((CAST(sxx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |            / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1.0))
      |        / CAST(n_c AS DOUBLE)), 6) AS z
      |  FROM cells JOIN types ON cells.event_type = types.event_type),
      |pt AS (SELECT *, round(2.0 * exp(-(z*z)/2.0) / sqrt(2.0*pi()) *
      |    (0.319381530*t - 0.356563782*t*t + 1.781477937*t*t*t
      |     - 1.821255978*t*t*t*t + 1.330274429*t*t*t*t*t), 8) AS p
      |  FROM (SELECT *, 1.0/(1.0 + 0.2316419*abs(z)) AS t FROM zt)),
      |rk AS (SELECT event_type, dow, n_c, z, p,
      |    CAST(row_number() OVER (ORDER BY p, event_type, dow) AS BIGINT)
      |      AS p_rank,
      |    CAST(count(*) OVER () AS BIGINT) AS m
      |  FROM pt),
      |km AS (SELECT *, max(CASE WHEN p <= CAST(p_rank AS DOUBLE)
      |      / CAST(m AS DOUBLE) * 0.10 THEN p_rank END) OVER () AS kmax
      |  FROM rk)
      |SELECT event_type, dow, n_c, z, p, p_rank,
      |  p_rank <= coalesce(kmax, 0) AS rejected
      |FROM km ORDER BY event_type, dow""".stripMargin,

    "join_spatial_grid" -> """
      |WITH cust AS (SELECT c_custkey,
      |    CAST(('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100000 AS DOUBLE) / 1000.0 AS cx,
      |    CAST(('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100000 AS DOUBLE) / 1000.0 AS cy
      |  FROM customer),
      |supp AS (SELECT s_suppkey,
      |    CAST(('0x' || substr(md5('x' || CAST(s_suppkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100000 AS DOUBLE) / 1000.0 AS sx,
      |    CAST(('0x' || substr(md5('y' || CAST(s_suppkey AS VARCHAR)), 1, 15))
      |      ::BIGINT % 100000 AS DOUBLE) / 1000.0 AS sy
      |  FROM supplier)
      |SELECT c_custkey, s_suppkey,
      |  round(sqrt((cx-sx)*(cx-sx) + (cy-sy)*(cy-sy)), 6) AS dist
      |FROM cust JOIN supp ON (cx-sx)*(cx-sx) + (cy-sy)*(cy-sy) <= 4.0
      |QUALIFY row_number() OVER (PARTITION BY c_custkey
      |  ORDER BY (cx-sx)*(cx-sx) + (cy-sy)*(cy-sy), s_suppkey) = 1
      |ORDER BY c_custkey""".stripMargin)
}
