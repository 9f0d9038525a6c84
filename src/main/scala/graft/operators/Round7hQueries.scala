package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._

/** Round-7 eighth wave: tail-risk (historical VaR / CVaR), seasonal
  * Mann-Kendall trend, rescaled-range Hurst exponent, and STL-style
  * seasonality strength — the risk / long-memory / seasonality corner
  * of the time-series family.
  *
  * Determinism: discrete selections and threshold ranks run on exact
  * micro/centi-unit longs; cross-row float sums are 8dp-quantized
  * decimals extracted back to integer units before any division;
  * multi-term closed forms (OLS slope, MK z) are single fixed-order
  * expressions over per-group pivoted scalars, never row-order sums.
  */
object Round7hQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- historical VaR / CVaR --------------------------------------------
    // 95% value-at-risk and expected shortfall of day-over-day spend
    // DROPS per event type, by historical simulation: losses are exact
    // micro-longs, VaR is the ceil(0.95·n)-th smallest loss (discrete
    // selection, no engine percentile), CVaR the mean of the selected
    // tail — one rank window over the ≤29-row delta series, outputs as
    // single divisions of exact integers.
    "agg_var_cvar" -> ((s, dir) => {
      val wo = Window.partitionBy("event_type").orderBy("day")
      val de = dailyMicro(s, dir)
        .withColumn("loss", lag("xu", 1).over(wo) - col("xu"))
        .where(col("loss").isNotNull)
      val wp = Window.partitionBy("event_type")
      de.withColumn("rn", row_number().over(wp.orderBy(col("loss"), col("day"))))
        .withColumn("nd", count(lit(1)).over(wp))
        .where(col("rn") >= expr("(19 * nd + 19) div 20"))
        .groupBy("event_type")
        .agg(max("nd").as("n_deltas"), count(lit(1)).as("n_tail"),
          min("loss").as("vu"), sum("loss").as("su"))
        .select(col("event_type"), col("n_deltas"), col("n_tail"),
          (d(col("vu")) / 1000000.0).as("var_95"),
          (d(col("su")) / (d(col("n_tail")) * 1000000.0)).as("cvar_95"))
        .orderBy("event_type")
    }),

    // ---- seasonal Mann-Kendall -------------------------------------------
    // Trend significance with weekly seasonality removed: the MK sign
    // statistic is computed WITHIN each day-of-week subseries and
    // summed (Hirsch-Slack), so a strong weekday pattern cannot fake a
    // trend. S and the 18·Var integer are exact; z applies the
    // ±1 continuity correction in one fixed-order expression.
    "agg_mk_seasonal" -> ((s, dir) => {
      val dy = dailyMicro(s, dir).withColumn("dow", col("day") % 7)
      val sTab = dy.toDF("event_type", "day_i", "xi", "dow")
        .join(dy.toDF("et2", "day_j", "xj", "dow2"),
          col("event_type") === col("et2") && col("dow") === col("dow2") &&
            col("day_i") < col("day_j"))
        .groupBy("event_type")
        .agg(sum(when(col("xj") > col("xi"), 1L)
          .when(col("xj") < col("xi"), -1L).otherwise(0L)).as("s_stat"))
      val vTab = dy.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_d"))
        .groupBy(col("event_type").as("et3"))
        .agg(sum(col("n_d") * (col("n_d") - 1) * (col("n_d") * 2 + 5))
          .as("var18"))
      sTab.join(broadcast(vTab), col("event_type") === col("et3"))
        .select(col("event_type"), col("s_stat"), col("var18"),
          round(when(col("s_stat") > 0,
              (d(col("s_stat")) - 1.0) / sqrt(d(col("var18")) / 18.0))
            .when(col("s_stat") < 0,
              (d(col("s_stat")) + 1.0) / sqrt(d(col("var18")) / 18.0))
            .otherwise(lit(0.0)), 6).as("z_stat"))
        .orderBy("event_type")
    }),

    // ---- rescaled-range Hurst exponent ------------------------------------
    // Long-memory estimate of the daily spend series: R/S per tumbling
    // block of sizes {5, 10, 15} (the 30-day calendar divides all
    // three), Hurst = OLS slope of ln(mean R/S) on ln(size). Block
    // range R and variance are exact centi-unit integers (cumdev·n =
    // n·cum_k − k·Σx, so R/S = (max−min)/√(n·Σx²−(Σx)²) needs no
    // mean division); per-block R/S is 8dp-quantized and extracted
    // back to an exact integer sum before the mean; the 3-point slope
    // is a pivoted fixed-order closed form, never a row-order sum.
    "agg_hurst_rs" -> ((s, dir) => {
      val base = dailyCenti(s, dir)
        .select(col("event_type"), col("day"), col("xc"),
          explode(array(lit(5L), lit(10L), lit(15L))).as("sz"))
        .withColumn("blk", expr("(day - 1) div sz"))
      val wb = Window.partitionBy("event_type", "sz", "blk")
      val dev = base
        .withColumn("k", row_number().over(wb.orderBy("day")))
        .withColumn("cum", sum("xc").over(
          wb.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nb", count(lit(1)).over(wb))
        .withColumn("sx", sum("xc").over(wb))
        .withColumn("sxx", sum(col("xc") * col("xc")).over(wb))
        .where(col("nb") === col("sz"))
        .withColumn("devn", col("nb") * col("cum") - col("k") * col("sx"))
      val blocks = dev.groupBy("event_type", "sz", "blk")
        .agg(max("devn").as("mx"), min("devn").as("mn"),
          max(col("nb") * col("sxx") - col("sx") * col("sx")).as("varn"))
        .where(col("varn") > 0)
        .select(col("event_type"), col("sz"),
          round(d(col("mx") - col("mn")) / sqrt(d(col("varn"))), 8)
            .cast(DecimalType(18, 8)).as("rsq"))
      val sizes = blocks.groupBy("event_type", "sz")
        .agg((sum(col("rsq")) * 100000000).cast("long").as("smu"),
          count(lit(1)).as("nb"))
        .select(col("event_type"), col("sz"),
          (d(col("smu")) / (d(col("nb")) * 1.0e8)).as("mrs"))
      def pick(sz: Int, c: Column): Column = max(when(col("sz") === sz, c))
      val piv = sizes.groupBy("event_type")
        .agg(pick(5, col("mrs")).as("rs5"), pick(10, col("mrs")).as("rs10"),
          pick(15, col("mrs")).as("rs15"))
      val (x5, x10, x15) = (log(lit(5.0)), log(lit(10.0)), log(lit(15.0)))
      val (y5, y10, y15) = (log(col("rs5")), log(col("rs10")), log(col("rs15")))
      val sxy = x5 * y5 + x10 * y10 + x15 * y15
      val sxs = x5 + x10 + x15
      val sys = y5 + y10 + y15
      val sxx = x5 * x5 + x10 * x10 + x15 * x15
      piv.select(col("event_type"),
          round(col("rs5"), 6).as("rs5"),
          round(col("rs10"), 6).as("rs10"),
          round(col("rs15"), 6).as("rs15"),
          round((lit(3.0) * sxy - sxs * sys) / (lit(3.0) * sxx - sxs * sxs), 4)
            .as("hurst"))
        .orderBy("event_type")
    }),

    // ---- seasonality strength ---------------------------------------------
    // STL-style F_s = max(0, 1 − Var(resid)/Var(detrended)) per event
    // type from the additive decomposition (win_seasonal_decompose's
    // pipeline, collapsed to one strength score). Everything runs on a
    // COMMON-DENOMINATOR integer scale: detrended·2940 = 420·(7x −
    // Σ₇x), and since every day-of-week count cd divides 420, the
    // seasonal mean scales to the exact integer (420/cd)·Σdet7 — so
    // both variance operands are exact longs, the 2940² cancels in the
    // ratio, and no per-row rounding exists to straddle an engine
    // boundary. Moments go through (19,0) decimal products.
    "agg_seasonality_strength" -> ((s, dir) => {
      val w7 = Window.partitionBy("event_type").orderBy("day").rangeBetween(-3, 3)
      val t = dailyMicro(s, dir)
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("t7", sum("xu").over(w7))
        .where(col("n7") === 7)
        .withColumn("det7", col("xu") * 7 - col("t7"))
        .withColumn("dow", col("day") % 7)
      val seas = t.groupBy(col("event_type").as("et2"), col("dow").as("dow2"))
        .agg(sum("det7").as("sd"), count(lit(1)).as("cd"))
      val r = t.join(broadcast(seas),
          col("event_type") === col("et2") && col("dow") === col("dow2"))
        .select(col("event_type"),
          (col("det7") * 420).as("ds"),
          (col("det7") * 420 - expr("(420 div cd)") * col("sd")).as("rs"))
      def mom(c: Column): Column =
        c.cast(DecimalType(19, 0)) * c.cast(DecimalType(19, 0))
      r.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("ds")).as("sdq"),
          sum(mom(col("ds"))).as("sdd"), sum(col("rs")).as("srq"),
          sum(mom(col("rs"))).as("srr"))
        .select(col("event_type"), col("n"),
          round(greatest(lit(0.0), lit(1.0) -
            (d(col("n")) * d(col("srr")) - d(col("srq")) * d(col("srq"))) /
            (d(col("n")) * d(col("sdd")) - d(col("sdq")) * d(col("sdq")))),
            6).as("f_seasonal"))
        .orderBy("event_type")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_var_cvar" -> s"""
      |WITH $dailyMicroSql,
      |de AS (SELECT event_type, day,
      |    lag(xu, 1) OVER (PARTITION BY event_type ORDER BY day) - xu AS loss
      |  FROM daily),
      |rk AS (SELECT event_type, day, loss,
      |    row_number() OVER (PARTITION BY event_type ORDER BY loss, day) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
      |  FROM de WHERE loss IS NOT NULL),
      |tl AS (SELECT * FROM rk WHERE rn >= (19 * nd + 19) // 20)
      |SELECT event_type, CAST(max(nd) AS BIGINT) AS n_deltas,
      |  CAST(count(*) AS BIGINT) AS n_tail,
      |  CAST(min(loss) AS DOUBLE) / 1000000.0 AS var_95,
      |  CAST(sum(loss) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)
      |    AS cvar_95
      |FROM tl GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_mk_seasonal" -> s"""
      |WITH $dailyMicroSql,
      |dy AS (SELECT *, day % 7 AS dow FROM daily),
      |st AS (SELECT a.event_type,
      |    CAST(sum(CASE WHEN b.xu > a.xu THEN 1
      |      WHEN b.xu < a.xu THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM dy a JOIN dy b ON a.event_type = b.event_type
      |    AND a.dow = b.dow AND a.day < b.day
      |  GROUP BY 1),
      |vt AS (SELECT event_type,
      |    CAST(sum(n_d * (n_d - 1) * (n_d * 2 + 5)) AS BIGINT) AS var18
      |  FROM (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_d
      |    FROM dy GROUP BY 1, 2) GROUP BY 1)
      |SELECT st.event_type, s_stat, var18,
      |  round(CASE WHEN s_stat > 0
      |      THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |    WHEN s_stat < 0
      |      THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |    ELSE 0.0 END, 6) AS z_stat
      |FROM st JOIN vt ON st.event_type = vt.event_type
      |ORDER BY st.event_type""".stripMargin,

    "agg_hurst_rs" -> s"""
      |WITH $dailyCentiSql,
      |ex AS (SELECT event_type, day, xc, CAST(sz AS BIGINT) AS sz,
      |    (day - 1) // sz AS blk
      |  FROM daily CROSS JOIN (SELECT unnest([5, 10, 15]) AS sz)),
      |dv AS (SELECT event_type, sz, blk,
      |    row_number() OVER wc AS k,
      |    CAST(sum(xc) OVER wc AS BIGINT) AS cum,
      |    CAST(count(*) OVER wb AS BIGINT) AS nb,
      |    CAST(sum(xc) OVER wb AS BIGINT) AS sx,
      |    CAST(sum(xc * xc) OVER wb AS BIGINT) AS sxx
      |  FROM ex
      |  WINDOW wb AS (PARTITION BY event_type, sz, blk ORDER BY day
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      |    wc AS (PARTITION BY event_type, sz, blk ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |bl AS (SELECT event_type, sz, blk,
      |    CAST(max(nb * cum - k * sx) AS BIGINT) AS mx,
      |    CAST(min(nb * cum - k * sx) AS BIGINT) AS mn,
      |    CAST(max(nb * sxx - sx * sx) AS BIGINT) AS varn
      |  FROM dv WHERE nb = sz GROUP BY 1, 2, 3),
      |rs AS (SELECT event_type, sz,
      |    CAST(round(CAST(mx - mn AS DOUBLE) / sqrt(CAST(varn AS DOUBLE)), 8)
      |      AS DECIMAL(18,8)) AS rsq
      |  FROM bl WHERE varn > 0),
      |mz AS (SELECT event_type, sz,
      |    CAST(sum(rsq) * 100000000 AS BIGINT) AS smu,
      |    CAST(count(*) AS BIGINT) AS nb
      |  FROM rs GROUP BY 1, 2),
      |ms AS (SELECT event_type, sz,
      |    CAST(smu AS DOUBLE) / (CAST(nb AS DOUBLE) * 1.0e8) AS mrs
      |  FROM mz),
      |pv AS (SELECT event_type,
      |    max(CASE WHEN sz = 5 THEN mrs END) AS rs5,
      |    max(CASE WHEN sz = 10 THEN mrs END) AS rs10,
      |    max(CASE WHEN sz = 15 THEN mrs END) AS rs15
      |  FROM ms GROUP BY 1)
      |SELECT event_type,
      |  round(rs5, 6) AS rs5, round(rs10, 6) AS rs10, round(rs15, 6) AS rs15,
      |  round((3.0 * (ln(5.0)*ln(rs5) + ln(10.0)*ln(rs10) + ln(15.0)*ln(rs15))
      |      - (ln(5.0) + ln(10.0) + ln(15.0)) * (ln(rs5) + ln(rs10) + ln(rs15)))
      |    / (3.0 * (ln(5.0)*ln(5.0) + ln(10.0)*ln(10.0) + ln(15.0)*ln(15.0))
      |      - (ln(5.0) + ln(10.0) + ln(15.0)) * (ln(5.0) + ln(10.0) + ln(15.0))),
      |    4) AS hurst
      |FROM pv ORDER BY event_type""".stripMargin,

    "agg_seasonality_strength" -> s"""
      |WITH $dailyMicroSql,
      |t AS (SELECT event_type, day, xu,
      |    CAST(count(*) OVER w AS BIGINT) AS n7,
      |    CAST(sum(xu) OVER w AS BIGINT) AS t7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t2 AS (SELECT *, xu * 7 - t7 AS det7, day % 7 AS dow
      |  FROM t WHERE n7 = 7),
      |seas AS (SELECT event_type, dow, CAST(sum(det7) AS BIGINT) AS sd,
      |    CAST(count(*) AS BIGINT) AS cd
      |  FROM t2 GROUP BY 1, 2),
      |r AS (SELECT t2.event_type,
      |    CAST(round(CAST(det7 AS DOUBLE) / 7.0, 6) AS DECIMAL(18,6)) AS dq,
      |    CAST(round(CAST(det7 AS DOUBLE) / 7.0
      |      - CAST(sd AS DOUBLE) / (CAST(cd AS DOUBLE) * 7.0), 6)
      |      AS DECIMAL(18,6)) AS rq
      |  FROM t2 JOIN seas ON t2.event_type = seas.event_type
      |    AND t2.dow = seas.dow),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    sum(dq) AS sdq,
      |    sum(CAST(dq AS DECIMAL(19,6)) * CAST(dq AS DECIMAL(19,6))) AS sdd,
      |    sum(rq) AS srq,
      |    sum(CAST(rq AS DECIMAL(19,6)) * CAST(rq AS DECIMAL(19,6))) AS srr
      |  FROM r GROUP BY 1)
      |SELECT event_type, n,
      |  round(greatest(0.0, 1.0
      |    - (CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
      |        - CAST(srq AS DOUBLE) * CAST(srq AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
      |        - CAST(sdq AS DOUBLE) * CAST(sdq AS DOUBLE))), 6) AS f_seasonal
      |FROM g ORDER BY event_type""".stripMargin)
}
