package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._

/** Round-8 eighth wave: the remaining classic technical indicators
  * beside OHLC / RSI / MACD / Bollinger / stochastic — average true
  * range, Aroon, the commodity channel index and TRIX — each over the
  * per-event-type daily series of `events.value`.
  *
  * Determinism: daily bars are EXACT centi-unit longs (close picked at
  * an integer rank under the total (ts, event_id) order — the OHLC
  * idiom); true ranges / deviations / argmax-day encodings stay
  * integer to one final double division; CCI's window-mean absolute
  * deviation uses a bounded 20-row range self-join (never a nested
  * window); TRIX chains three exact-binary-base (1.25) EWMAs with
  * 6dp-quantized intermediates (the MACD discipline).
  */
object Round8hQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- average true range (14-day) ------------------------------------
    // TR = max(hi−lo, |hi−prevClose|, |lo−prevClose|) on exact
    // centi-unit bars (first day: hi−lo); ATR = the 14-row SMA of TR —
    // integer sum / count, one division.
    "win_atr" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wa = w.rowsBetween(-13, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("pc", lag("cc", 1).over(w))
        .withColumn("tr", when(col("pc").isNull, col("hc") - col("lc"))
          .otherwise(greatest(col("hc") - col("lc"),
            abs(col("hc") - col("pc")), abs(col("lc") - col("pc")))))
        .select(col("event_type"), col("day"),
          (d(col("tr")) / 100.0).as("tr"),
          round(d(sum("tr").over(wa)) / d(count(lit(1)).over(wa)) / 100.0, 6)
            .as("atr14"))
        .orderBy("event_type", "day")
    }),

    // ---- Aroon oscillator (14-day) --------------------------------------
    // Day-of-extreme via integer encodings over the daily close series:
    // hi day = decode(max(xc·32 + day−1)) (value ties → latest day),
    // lo day = decode(min(xc·32 + 31−day)) (ties → latest day);
    // aroon = 100·(13 − days since extreme)/13 on full 14-row windows.
    "win_aroon" -> ((s, dir) => {
      val wa = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-13, Window.currentRow)
      dailyCenti(s, dir)
        .withColumn("hiday",
          (max(col("xc") * 32 + col("day") - 1).over(wa) % 32) + 1)
        .withColumn("loday",
          lit(31) - (min(col("xc") * 32 + lit(31) - col("day")).over(wa) % 32))
        .withColumn("nw", count(lit(1)).over(wa))
        .where(col("nw") === 14)
        .select(col("event_type"), col("day"), col("hiday"), col("loday"),
          round(lit(100.0) * (lit(13.0) - d(col("day") - col("hiday")))
            / 13.0, 4).as("aroon_up"),
          round(lit(100.0) * (lit(13.0) - d(col("day") - col("loday")))
            / 13.0, 4).as("aroon_down"))
        .orderBy("event_type", "day")
    }),

    // ---- commodity channel index (20-day) -------------------------------
    // tp3 = hi+lo+close (3× typical price, exact centi); over each full
    // 20-row window CCI = n·(n·tp3 − S) / (0.015·Σᵢ|n·tp3ᵢ − S|) — the
    // mean-absolute-deviation denominator comes from a BOUNDED 20-row
    // range self-join re-aggregated against the window totals (a
    // nested window dependency no plain frame can express), everything
    // integer to the one division.
    "win_cci" -> ((s, dir) => {
      val bars = graft.tools.Materialize.eager("cci.bars",
        dailyBars(s, dir)
          .withColumn("tp3", col("hc") + col("lc") + col("cc"))
          .select("event_type", "day", "tp3"))
      val exp = bars.toDF("event_type", "aday", "atp3")
        .join(bars.toDF("et2", "bday", "btp3"),
          col("event_type") === col("et2") &&
            col("bday") >= col("aday") - 19 && col("bday") <= col("aday"))
      val g1 = exp.groupBy("event_type", "aday", "atp3")
        .agg(count(lit(1)).as("n"), sum("btp3").as("s"))
        .where(col("n") === 20)
      val md = exp.join(g1.select(col("event_type").as("et3"),
            col("aday").as("ad2"), col("n"), col("s")),
          col("event_type") === col("et3") && col("aday") === col("ad2"))
        .groupBy(col("event_type"), col("aday"), col("atp3"),
          col("n"), col("s"))
        .agg(sum(abs(col("n") * col("btp3") - col("s"))).as("mdn"))
      md.select(col("event_type"), col("aday").as("day"),
          round(d(col("atp3")) / 300.0, 6).as("tp"),
          round(d(col("n")) * d(col("n") * col("atp3") - col("s"))
            / (lit(0.015) * d(col("mdn"))), 4).as("cci20"))
        .orderBy("event_type", "day")
    }),

    // ---- TRIX (triple EWMA rate of change) ------------------------------
    // Three chained growing-window EWMAs with the exact-binary decay
    // base 1.25 (u/v running-sum closed form, each stage's output
    // 6dp-rounded before feeding the next — the MACD discipline);
    // trix = 100·(e3 − lag(e3))/lag(e3).
    // ZERO float links (r9 EWMA-family hardening, see EwmaWeights):
    // each of the three smoothing passes is an exact-integer-weighted
    // decimal window sum emitted as a half-up micro-integer division,
    // and the trix rate-of-change is a signed half-up division of the
    // exact integer images — the old rounded x·pow(1.25, day) terms
    // were systematically boundary-fragile and libm-drift-exposed
    // past day 22 (the win_macd r8 failure mode).
    "win_trix" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def pass(in: String, out: String)(df: DataFrame): DataFrame = df
        .withColumn(s"${out}_n", sum(col(in) * col("w")).over(wr))
        .withColumn(s"${out}_d", sum(col("w")).over(wr))
        .withColumn(out, expr(s"(2 * ${out}_n + ${out}_d) div (2 * ${out}_d)"))
      val base = dailyCenti(s, dir)
        .join(broadcast(EwmaWeights.df(s)), "day")
        .withColumn("x6", col("xc") * 10000)
      val e3 = pass("e2", "e3")(pass("e1", "e2")(pass("x6", "e1")(base)))
      e3.withColumn("pe3", lag("e3", 1).over(w))
        .select(col("event_type"), col("day"),
          (d(col("e3")) / 1000000.0).as("e3"),
          when(col("pe3").isNotNull, d(expr(
            "CASE WHEN e3 - pe3 >= 0 " +
              "THEN (2 * 100000000 * CAST(e3 - pe3 AS DECIMAL(38,0)) + pe3) " +
              "div (2 * pe3) " +
              "ELSE -((2 * 100000000 * CAST(pe3 - e3 AS DECIMAL(38,0)) + pe3) " +
              "div (2 * pe3)) END")) / 1000000.0)
            .as("trix"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "win_atr" -> s"""
      |WITH $dailyBarsSql,
      |tr AS (SELECT event_type, day, hc AS hi, lc AS lo,
      |    lag(cc, 1) OVER (PARTITION BY event_type ORDER BY day) AS pc
      |  FROM bars),
      |t AS (SELECT event_type, day,
      |    CASE WHEN pc IS NULL THEN hi - lo
      |         ELSE greatest(hi - lo, abs(hi - pc), abs(lo - pc)) END AS tr
      |  FROM tr)
      |SELECT event_type, day, CAST(tr AS DOUBLE) / 100.0 AS tr,
      |  round(CAST(sum(tr) OVER w AS DOUBLE)
      |    / CAST(count(*) OVER w AS DOUBLE) / 100.0, 6) AS atr14
      |FROM t
      |WINDOW w AS (PARTITION BY event_type ORDER BY day
      |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin,

    "win_aroon" -> s"""
      |WITH $dailyCentiSql,
      |e AS (SELECT event_type, day,
      |    (max(xc * 32 + day - 1) OVER w % 32) + 1 AS hiday,
      |    31 - (min(xc * 32 + 31 - day) OVER w % 32) AS loday,
      |    count(*) OVER w AS nw
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day, CAST(hiday AS BIGINT) AS hiday,
      |  CAST(loday AS BIGINT) AS loday,
      |  round(100.0 * (13.0 - CAST(day - hiday AS DOUBLE)) / 13.0, 4)
      |    AS aroon_up,
      |  round(100.0 * (13.0 - CAST(day - loday AS DOUBLE)) / 13.0, 4)
      |    AS aroon_down
      |FROM e WHERE nw = 14 ORDER BY event_type, day""".stripMargin,

    "win_cci" -> s"""
      |WITH $dailyBarsSql,
      |tp AS (SELECT event_type, day, hc + lc + cc AS tp3 FROM bars),
      |exp AS (SELECT a.event_type, a.day AS aday, a.tp3 AS atp3,
      |    b.tp3 AS btp3
      |  FROM tp a JOIN tp b ON a.event_type = b.event_type
      |    AND b.day BETWEEN a.day - 19 AND a.day),
      |g1 AS (SELECT event_type, aday, atp3,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(btp3) AS BIGINT) AS s
      |  FROM exp GROUP BY 1, 2, 3 HAVING count(*) = 20),
      |md AS (SELECT exp.event_type, exp.aday, exp.atp3, g1.n, g1.s,
      |    CAST(sum(abs(g1.n * exp.btp3 - g1.s)) AS BIGINT) AS mdn
      |  FROM exp JOIN g1 ON exp.event_type = g1.event_type
      |    AND exp.aday = g1.aday
      |  GROUP BY 1, 2, 3, 4, 5)
      |SELECT event_type, aday AS day,
      |  round(CAST(atp3 AS DOUBLE) / 300.0, 6) AS tp,
      |  round(CAST(n AS DOUBLE) * CAST(n * atp3 - s AS DOUBLE)
      |    / (0.015 * CAST(mdn AS DOUBLE)), 4) AS cci20
      |FROM md ORDER BY event_type, day""".stripMargin,

    "win_trix" -> s"""
      |WITH $dailyCentiSql,
      |pw(day, w) AS (VALUES
      |    ${EwmaWeights.valuesSql}),
      |b AS (SELECT d.event_type, d.day, CAST(xc AS HUGEINT) * 10000 AS x6, p.w
      |  FROM daily d JOIN pw p USING (day)),
      |s1 AS (SELECT *, (2 * sum(x6 * w) OVER wr + sum(w) OVER wr)
      |    // (2 * sum(w) OVER wr) AS e1
      |  FROM b WINDOW wr AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s2 AS (SELECT *, (2 * sum(e1 * w) OVER wr + sum(w) OVER wr)
      |    // (2 * sum(w) OVER wr) AS e2
      |  FROM s1 WINDOW wr AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s3 AS (SELECT *, (2 * sum(e2 * w) OVER wr + sum(w) OVER wr)
      |    // (2 * sum(w) OVER wr) AS e3
      |  FROM s2 WINDOW wr AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (SELECT event_type, day, e3,
      |    lag(e3, 1) OVER (PARTITION BY event_type ORDER BY day) AS pe3
      |  FROM s3)
      |SELECT event_type, day, CAST(e3 AS DOUBLE) / 1000000.0 AS e3,
      |  CASE WHEN pe3 IS NOT NULL THEN
      |    CAST(CASE WHEN e3 - pe3 >= 0
      |         THEN (2 * 100000000 * (e3 - pe3) + pe3) // (2 * pe3)
      |         ELSE -((2 * 100000000 * (pe3 - e3) + pe3) // (2 * pe3)) END
      |      AS DOUBLE) / 1000000.0
      |  END AS trix
      |FROM f ORDER BY event_type, day""".stripMargin)
}
