package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 eleventh wave: volume-aware technical indicators — Donchian
  * channels, running VWAP, on-balance volume and the money flow index
  * — completing the r8 indicator family (ATR/Aroon/CCI/TRIX, RSI,
  * MACD, Bollinger, stochastic).
  *
  * Determinism: daily bars are the exact centi-unit longs of Round8h
  * (close at integer rank under the (ts, event_id) total order);
  * channel extremes, OBV's signed volume ledger and MFI's money-flow
  * split stay integer (decimal(38) where products could outgrow
  * int64) to one final division; VWAP divides two exact decimal
  * running sums once per row.
  */
object Round8kQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Donchian channels (20-day) ----------------------------------------
    // Upper/lower = extreme hi/lo over the trailing 20 bars, mid =
    // their midpoint — the breakout-band primitive. Pure integer
    // extremes; the midpoint halves once in double (exact: centi longs
    // are well inside 2^53).
    "win_donchian" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-19, Window.currentRow)
      dailyBars(s, dir)
        .select(col("event_type"), col("day"),
          max("hc").over(w).as("uc"), min("lc").over(w).as("lc"))
        .select(col("event_type"), col("day"),
          (d(col("uc")) / 100.0).as("upper"),
          (d(col("lc")) / 100.0).as("lower"),
          (d(col("uc") + col("lc")) / 200.0).as("mid"))
        .orderBy("event_type", "day")
    }),

    // ---- running VWAP -------------------------------------------------------
    // Volume-weighted average price per return flag over ship-date
    // days: Σ(extended price) / Σ(quantity), both cumulative sums kept
    // in exact decimal/integer, one division per emitted row — the
    // execution-quality benchmark line.
    "win_vwap" -> ((s, dir) => {
      val daily = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("sday"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("p"),
          sum(col("l_quantity").cast("long")).as("q"))
      val w = Window.partitionBy("l_returnflag").orderBy("sday")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select(col("l_returnflag"), col("sday"),
          round(d(sum(col("p").cast(DecimalType(28, 2))).over(w))
            / d(sum("q").over(w)), 6).as("vwap"))
        .orderBy("l_returnflag", "sday")
    }),

    // ---- on-balance volume ---------------------------------------------------
    // OBV per event type: cumulative signed volume, sign from the
    // close-to-close centi delta (first bar contributes nothing) — the
    // classic volume-confirms-trend ledger. All integer.
    "win_obv" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("pc", lag("cc", 1).over(w))
        .withColumn("sv", when(col("pc").isNull, lit(0L))
          .otherwise(signum(d(col("cc") - col("pc"))).cast("long")
            * col("vol")))
        .select(col("event_type"), col("day"), col("vol"),
          sum("sv").over(wc).as("obv"))
        .orderBy("event_type", "day")
    }),

    // ---- money flow index (14-day) -------------------------------------------
    // MFI = 100 · posMF / (posMF + negMF) over the trailing 14 bars,
    // with raw money flow = 3×typical-price (hi+lo+cl, exact centi) ×
    // volume split by the typical-price delta sign; flat days join
    // neither side. Products accumulate in decimal(38); one division,
    // 4dp. Full 14-bar windows only.
    "win_mfi" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wa = w.rowsBetween(-13, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("tp3", col("hc") + col("lc") + col("cc"))
        .withColumn("dtp", col("tp3") - lag("tp3", 1).over(w))
        .withColumn("mf", (col("tp3") * col("vol")).cast(DecimalType(38, 0)))
        .withColumn("pos", sum(when(col("dtp") > 0, col("mf"))
          .otherwise(lit(0).cast(DecimalType(38, 0)))).over(wa))
        .withColumn("neg", sum(when(col("dtp") < 0, col("mf"))
          .otherwise(lit(0).cast(DecimalType(38, 0)))).over(wa))
        .withColumn("nw", count(lit(1)).over(wa))
        .where(col("nw") === 14 && d(col("pos")) + d(col("neg")) > 0)
        .select(col("event_type"), col("day"),
          round(lit(100.0) * d(col("pos"))
            / (d(col("pos")) + d(col("neg"))), 4).as("mfi14"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "win_donchian" -> s"""
      |WITH $dailyBarsSql
      |SELECT event_type, day,
      |  CAST(max(hc) OVER w AS DOUBLE) / 100.0 AS upper,
      |  CAST(min(lc) OVER w AS DOUBLE) / 100.0 AS lower,
      |  CAST(max(hc) OVER w + min(lc) OVER w AS DOUBLE) / 200.0 AS mid
      |FROM bars
      |WINDOW w AS (PARTITION BY event_type ORDER BY day
      |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin,

    "win_vwap" -> """
      |WITH daily AS (SELECT l_returnflag,
      |    CAST(l_shipdate AS DATE) AS sday,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS p,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, sday,
      |  round(CAST(sum(CAST(p AS DECIMAL(28,2))) OVER w AS DOUBLE)
      |    / CAST(sum(q) OVER w AS DOUBLE), 6) AS vwap
      |FROM daily
      |WINDOW w AS (PARTITION BY l_returnflag ORDER BY sday
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_returnflag, sday""".stripMargin,

    "win_obv" -> s"""
      |WITH $dailyBarsSql,
      |sv AS (SELECT event_type, day, vol,
      |    CASE WHEN lag(cc, 1) OVER w IS NULL THEN 0
      |         ELSE CAST(sign(cc - lag(cc, 1) OVER w) AS BIGINT) * vol
      |    END AS sv
      |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, day, vol,
      |  CAST(sum(sv) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS obv
      |FROM sv ORDER BY event_type, day""".stripMargin,

    "win_mfi" -> s"""
      |WITH $dailyBarsSql,
      |tp AS (SELECT event_type, day, hc + lc + cc AS tp3, vol FROM bars),
      |df AS (SELECT event_type, day, vol, tp3,
      |    tp3 - lag(tp3, 1) OVER (PARTITION BY event_type ORDER BY day)
      |      AS dtp
      |  FROM tp),
      |mf AS (SELECT event_type, day,
      |    CASE WHEN dtp > 0 THEN CAST(tp3 * vol AS DECIMAL(38,0))
      |         ELSE CAST(0 AS DECIMAL(38,0)) END AS pmf,
      |    CASE WHEN dtp < 0 THEN CAST(tp3 * vol AS DECIMAL(38,0))
      |         ELSE CAST(0 AS DECIMAL(38,0)) END AS nmf
      |  FROM df),
      |wd AS (SELECT event_type, day,
      |    sum(pmf) OVER w AS pos, sum(nmf) OVER w AS neg,
      |    count(*) OVER w AS nw
      |  FROM mf WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  round(100.0 * CAST(pos AS DOUBLE)
      |    / (CAST(pos AS DOUBLE) + CAST(neg AS DOUBLE)), 4) AS mfi14
      |FROM wd
      |WHERE nw = 14 AND CAST(pos AS DOUBLE) + CAST(neg AS DOUBLE) > 0
      |ORDER BY event_type, day""".stripMargin)
}
