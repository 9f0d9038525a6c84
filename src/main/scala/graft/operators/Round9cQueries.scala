package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._

/** Round-9 third wave: exact-integer technical indicators over the
  * per-event-type daily OHLC bars — Chande momentum, the force index,
  * Keltner channels and the Coppock curve.
  *
  * Determinism: the daily bars are exact centi longs with integer-rank
  * open/close picks (the win_ohlc_daily idiom); up/down/true-range
  * ledgers are integer; every mean over a 2-5-smooth window length
  * (20-day typical price, 10-day ATR) goes through the positive
  * half-up integer division so no terminating-rational round ever
  * happens; the rate-of-change quotients are quantized to signed
  * half-up 6dp integers BEFORE the Coppock weighting, making the
  * weighted sum exact; displays are single correctly-rounded /100.0
  * (or /1e6) divisions.
  */
object Round9cQueries extends graft.QueryFamily {

  private def signedHalfUp(num: String, den: String): Column = expr(
    s"CASE WHEN $num >= 0 THEN (2 * ($num) + ($den)) div (2 * ($den)) " +
      s"ELSE -((2 * (-($num)) + ($den)) div (2 * ($den))) END")

  private val halfUpSql = "(2 * (%s) + (%s)) // (2 * (%s))"

  val queries: Map[String, QFn] = Map(

    // ---- Chande momentum oscillator -----------------------------------------
    // CMO14 = 100·(Σup − Σdn)/(Σup + Σdn) over the last 14 daily close
    // moves per event type — RSI's unbounded-denominator sibling.
    // Integer up/down ledgers, one division.
    "win_cmo" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w14 = w.rowsBetween(-13, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("diff", col("cc") - lag("cc", 1).over(w))
        .withColumn("up", when(col("diff") > 0, col("diff")).otherwise(lit(0L)))
        .withColumn("dn", when(col("diff") < 0, -col("diff")).otherwise(lit(0L)))
        .withColumn("rn", row_number().over(w))
        .withColumn("su", sum("up").over(w14))
        .withColumn("sd", sum("dn").over(w14))
        .where(col("rn") >= 15)
        .select(col("event_type"), col("day"),
          round(lit(100.0) * d(col("su") - col("sd"))
            / d(col("su") + col("sd")), 6).as("cmo"))
        .orderBy("event_type", "day")
    }),

    // ---- force index -----------------------------------------------------------
    // FI = (close − prev close)·volume and its 13-day moving mean —
    // Elder's buying/selling-pressure gauge. Exact centi·count
    // integers; the /13 and /100 displays collapse into single
    // correctly-rounded divisions (13 is not 2-5-smooth).
    "win_force_index" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w13 = w.rowsBetween(-12, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("fic", (col("cc") - lag("cc", 1).over(w)) * col("vol"))
        .withColumn("rn", row_number().over(w))
        .withColumn("s13", sum("fic").over(w13))
        .where(col("rn") >= 14)
        .select(col("event_type"), col("day"),
          (d(col("fic")) / 100.0).as("force_index"),
          (d(col("s13")) / 1300.0).as("fi_sma13"))
        .orderBy("event_type", "day")
    }),

    // ---- Keltner channel ---------------------------------------------------------
    // Middle = 20-day mean of typical price (H+L+C)/3, bands = ±2·ATR10
    // with TR = max(H−L, |H−prevC|, |L−prevC|). Both 2-5-smooth means
    // ride positive half-up integer divisions; the channel is exact
    // centi until the /100.0 displays.
    "win_keltner" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w20 = w.rowsBetween(-19, Window.currentRow)
      val w10 = w.rowsBetween(-9, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("tp3", col("hc") + col("lc") + col("cc"))
        .withColumn("pc", lag("cc", 1).over(w))
        .withColumn("tr", greatest(col("hc") - col("lc"),
          abs(col("hc") - col("pc")), abs(col("lc") - col("pc"))))
        .withColumn("rn", row_number().over(w))
        .withColumn("stp", sum("tp3").over(w20))
        .withColumn("str", sum("tr").over(w10))
        .where(col("rn") >= 20)
        .withColumn("mid", expr("(2 * stp + 60) div 120"))
        .withColumn("atr", expr("(2 * str + 10) div 20"))
        .select(col("event_type"), col("day"),
          (d(col("mid")) / 100.0).as("middle"),
          (d(col("mid") + lit(2) * col("atr")) / 100.0).as("upper"),
          (d(col("mid") - lit(2) * col("atr")) / 100.0).as("lower"))
        .orderBy("event_type", "day")
    }),

    // ---- Coppock curve --------------------------------------------------------
    // WMA10 (weights 10..1) of ROC14 + ROC11 on daily closes — the
    // long-horizon momentum bottom-finder. Each ROC is quantized to a
    // signed half-up 6dp integer BEFORE weighting, so the weighted sum
    // is exact and the final /55 mean is one more signed half-up
    // division; display is a single /1e6.
    "win_coppock" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val bars = dailyBars(s, dir)
        .withColumn("c14", lag("cc", 14).over(w))
        .withColumn("c11", lag("cc", 11).over(w))
        .withColumn("r14", signedHalfUp("1000000 * (cc - c14)", "c14"))
        .withColumn("r11", signedHalfUp("1000000 * (cc - c11)", "c11"))
        .withColumn("rocsum", col("r14") + col("r11"))
        .withColumn("rn", row_number().over(w))
      val lags = (0 until 10).map(i =>
        lag("rocsum", i).over(w) * lit(10L - i))
      bars
        .withColumn("wsum", lags.reduce(_ + _))
        .where(col("rn") >= 24)
        .select(col("event_type"), col("day"),
          (d(signedHalfUp("wsum", "55")) / 1.0e6).as("coppock"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "win_cmo" -> s"""
      |WITH $dailyBarsSql,
      |dd AS (SELECT event_type, day,
      |    cc - lag(cc, 1) OVER w AS diff,
      |    row_number() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |l AS (SELECT event_type, day, rn,
      |    sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w14 AS su,
      |    sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w14 AS sd
      |  FROM dd WINDOW w14 AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  round(100.0 * CAST(su - sd AS DOUBLE)
      |    / CAST(su + sd AS DOUBLE), 6) AS cmo
      |FROM l WHERE rn >= 15 ORDER BY event_type, day""".stripMargin,

    "win_force_index" -> s"""
      |WITH $dailyBarsSql,
      |f AS (SELECT event_type, day,
      |    (cc - lag(cc, 1) OVER w) * vol AS fic,
      |    row_number() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |l AS (SELECT event_type, day, fic, rn,
      |    sum(fic) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 12 PRECEDING AND CURRENT ROW) AS s13
      |  FROM f)
      |SELECT event_type, day,
      |  CAST(fic AS DOUBLE) / 100.0 AS force_index,
      |  CAST(s13 AS DOUBLE) / 1300.0 AS fi_sma13
      |FROM l WHERE rn >= 14 ORDER BY event_type, day""".stripMargin,

    "win_keltner" -> s"""
      |WITH $dailyBarsSql,
      |t AS (SELECT event_type, day, hc + lc + cc AS tp3,
      |    greatest(hc - lc, abs(hc - lag(cc, 1) OVER w),
      |      abs(lc - lag(cc, 1) OVER w)) AS tr,
      |    row_number() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |l AS (SELECT event_type, day, rn,
      |    sum(tp3) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS stp,
      |    sum(tr) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS str
      |  FROM t),
      |h AS (SELECT event_type, day, rn,
      |    ${halfUpSql.format("stp", "60", "60")} AS mid,
      |    ${halfUpSql.format("str", "10", "10")} AS atr
      |  FROM l)
      |SELECT event_type, day,
      |  CAST(mid AS DOUBLE) / 100.0 AS middle,
      |  CAST(mid + 2 * atr AS DOUBLE) / 100.0 AS upper,
      |  CAST(mid - 2 * atr AS DOUBLE) / 100.0 AS lower
      |FROM h WHERE rn >= 20 ORDER BY event_type, day""".stripMargin,

    "win_coppock" -> s"""
      |WITH $dailyBarsSql,
      |r AS (SELECT event_type, day,
      |    cc - lag(cc, 14) OVER w AS d14, lag(cc, 14) OVER w AS c14,
      |    cc - lag(cc, 11) OVER w AS d11, lag(cc, 11) OVER w AS c11,
      |    row_number() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |q AS (SELECT event_type, day, rn,
      |    (CASE WHEN 1000000 * d14 >= 0
      |      THEN (2 * (1000000 * d14) + c14) // (2 * c14)
      |      ELSE -((2 * (-(1000000 * d14)) + c14) // (2 * c14)) END)
      |    + (CASE WHEN 1000000 * d11 >= 0
      |      THEN (2 * (1000000 * d11) + c11) // (2 * c11)
      |      ELSE -((2 * (-(1000000 * d11)) + c11) // (2 * c11)) END)
      |      AS rocsum
      |  FROM r),
      |ws AS (SELECT event_type, day, rn,
      |    10 * rocsum + 9 * lag(rocsum, 1) OVER w
      |      + 8 * lag(rocsum, 2) OVER w + 7 * lag(rocsum, 3) OVER w
      |      + 6 * lag(rocsum, 4) OVER w + 5 * lag(rocsum, 5) OVER w
      |      + 4 * lag(rocsum, 6) OVER w + 3 * lag(rocsum, 7) OVER w
      |      + 2 * lag(rocsum, 8) OVER w + 1 * lag(rocsum, 9) OVER w
      |      AS wsum
      |  FROM q WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, day,
      |  CAST(CASE WHEN wsum >= 0 THEN (2 * wsum + 55) // 110
      |    ELSE -((2 * (-wsum) + 55) // 110) END AS DOUBLE) / 1e6
      |    AS coppock
      |FROM ws WHERE rn >= 24 ORDER BY event_type, day""".stripMargin)
}
