package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._

/** Round-9 eighth wave: forecast-accuracy statistics — sMAPE of the
  * naive forecast, seasonal MASE, Theil's U2 for an SMA3 forecast —
  * and classic floor-trader pivot points.
  *
  * Determinism: the daily revenue series is exact centi longs; every
  * per-day ratio (sMAPE terms) is quantized to a positive half-up 6dp
  * integer BEFORE averaging, and the averages/ratios themselves are
  * half-up integer divisions of exact cross-products; U2 clears the /3
  * SMA denominator by comparing 3·aₜ against Σ3 so the error ledger
  * stays integer; pivots divide (H+L+C) by 3 half-up in centi.
  */
object Round9hQueries extends graft.QueryFamily {

  /** Per-event-type daily revenue centi series with a row index. */
  private def daily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    dailyCenti(s, dir).withColumn("rn", row_number().over(w))
  }

  /** DuckDB twin of [[daily]]: the `daily` centi CTE and `dr`, the same
    * rows with the row index. */
  private val dailySql =
    s"""$dailyCentiSql,
      |dr AS (SELECT event_type, day, xc,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- sMAPE of the naive forecast ------------------------------------------------
    // Symmetric MAPE of the lag-1 forecast per event type: each day's
    // 2|f−a|/(f+a) is a positive half-up 6dp integer, and their mean
    // is one more half-up division — no raw quotient ever rounds.
    "agg_smape_naive" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      daily(s, dir)
        .withColumn("f", lag("xc", 1).over(w))
        .where(col("f").isNotNull)
        .withColumn("t6", expr(
          "(2 * 2000000 * abs(xc - f) + (xc + f)) div (2 * (xc + f))"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("t6").as("st"))
        .select(col("event_type"), col("n_days"),
          (d(expr("(2 * st + n_days) div (2 * n_days)")) / 1.0e6)
            .as("smape"))
        .orderBy("event_type")
    }),

    // ---- seasonal MASE ---------------------------------------------------------------
    // MAE of the weekly (lag-7) seasonal naive scaled by the MAE of
    // the daily (lag-1) naive: (Σ|e₇|·n₁)/(Σ|e₁|·n₇) as one half-up
    // 6dp integer of exact cross-products.
    "agg_mase_seasonal" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      daily(s, dir)
        .withColumn("e1", abs(col("xc") - lag("xc", 1).over(w)))
        .withColumn("e7", abs(col("xc") - lag("xc", 7).over(w)))
        .groupBy("event_type")
        .agg(sum("e1").as("s1"), count(col("e1")).as("n1"),
          sum("e7").as("s7"), count(col("e7")).as("n7"))
        .select(col("event_type"), col("n1"), col("n7"),
          (d(expr("(2 * 1000000 * CAST(s7 AS DECIMAL(38,0)) * n1 " +
            "+ CAST(s1 AS DECIMAL(38,0)) * n7) " +
            "div (2 * CAST(s1 AS DECIMAL(38,0)) * n7)")) / 1.0e6)
            .as("mase"))
        .orderBy("event_type")
    }),

    // ---- Theil's U2 for the SMA3 forecast ----------------------------------------------
    // U2 = √(Σ(aₜ−SMA3ₜ₋₁)² / Σ(aₜ−aₜ₋₁)²): the /3 clears by tripling
    // both ledgers (3a−Σ3 vs 3Δ), so the squared sums are exact
    // decimals; one division, one √, 4dp.
    "agg_forecast_u2" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w3 = w.rowsBetween(-3, -1)
      daily(s, dir)
        .withColumn("s3", sum("xc").over(w3))
        .withColumn("p1", lag("xc", 1).over(w))
        .where(col("rn") >= 4)
        .withColumn("ef", (lit(3) * col("xc") - col("s3"))
          .cast(DecimalType(38, 0)))
        .withColumn("en", (lit(3) * (col("xc") - col("p1")))
          .cast(DecimalType(38, 0)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(col("ef") * col("ef")).as("sf"),
          sum(col("en") * col("en")).as("sn"))
        .select(col("event_type"), col("n_days"),
          round(sqrt(d(col("sf")) / d(col("sn"))), 4).as("u2"))
        .orderBy("event_type")
    }),

    // ---- floor-trader pivot points ------------------------------------------------------
    // Today's pivot grid from YESTERDAY's (H, L, C) bars: P = half-up
    // (H+L+C)/3 in centi, R1/S1/R2/S2 pure integer reflections — the
    // support/resistance ladder, exact until the /100.0 displays.
    "win_pivot_points" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      dailyBars(s, dir)
        .withColumn("ph", lag("hc", 1).over(w))
        .withColumn("pl", lag("lc", 1).over(w))
        .withColumn("pc", lag("cc", 1).over(w))
        .where(col("ph").isNotNull)
        .withColumn("p", expr("(2 * (ph + pl + pc) + 3) div 6"))
        .select(col("event_type"), col("day"),
          (d(col("p")) / 100.0).as("pivot"),
          (d(lit(2) * col("p") - col("pl")) / 100.0).as("r1"),
          (d(lit(2) * col("p") - col("ph")) / 100.0).as("s1"),
          (d(col("p") + (col("ph") - col("pl"))) / 100.0).as("r2"),
          (d(col("p") - (col("ph") - col("pl"))) / 100.0).as("s2"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_smape_naive" -> s"""
      |WITH $dailySql,
      |t AS (SELECT event_type,
      |    (2 * 2000000 * abs(xc - f) + (xc + f)) // (2 * (xc + f)) AS t6
      |  FROM (SELECT event_type, xc,
      |      lag(xc, 1) OVER (PARTITION BY event_type ORDER BY day) AS f
      |    FROM dr) x
      |  WHERE f IS NOT NULL),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(t6) AS BIGINT) AS st
      |  FROM t GROUP BY 1)
      |SELECT event_type, n_days,
      |  CAST((2 * st + n_days) // (2 * n_days) AS DOUBLE) / 1e6 AS smape
      |FROM g ORDER BY event_type""".stripMargin,

    "agg_mase_seasonal" -> s"""
      |WITH $dailySql,
      |e AS (SELECT event_type,
      |    abs(xc - lag(xc, 1) OVER w) AS e1,
      |    abs(xc - lag(xc, 7) OVER w) AS e7
      |  FROM dr WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |g AS (SELECT event_type,
      |    CAST(sum(e1) AS BIGINT) AS s1, CAST(count(e1) AS BIGINT) AS n1,
      |    CAST(sum(e7) AS BIGINT) AS s7, CAST(count(e7) AS BIGINT) AS n7
      |  FROM e GROUP BY 1)
      |SELECT event_type, n1, n7,
      |  CAST((2 * 1000000 * CAST(s7 AS HUGEINT) * n1
      |      + CAST(s1 AS HUGEINT) * n7)
      |    // (2 * CAST(s1 AS HUGEINT) * n7) AS DOUBLE) / 1e6 AS mase
      |FROM g ORDER BY event_type""".stripMargin,

    "agg_forecast_u2" -> s"""
      |WITH $dailySql,
      |f AS (SELECT event_type, rn, xc,
      |    sum(xc) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS s3,
      |    lag(xc, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1
      |  FROM dr),
      |e AS (SELECT event_type,
      |    CAST(3 * xc - s3 AS DECIMAL(38,0)) AS ef,
      |    CAST(3 * (xc - p1) AS DECIMAL(38,0)) AS en
      |  FROM f WHERE rn >= 4),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    sum(ef * ef) AS sf, sum(en * en) AS sn
      |  FROM e GROUP BY 1)
      |SELECT event_type, n_days,
      |  round(sqrt(CAST(sf AS DOUBLE) / CAST(sn AS DOUBLE)), 4) AS u2
      |FROM g ORDER BY event_type""".stripMargin,

    "win_pivot_points" -> s"""
      |WITH $dailyBarsSql,
      |l AS (SELECT event_type, day,
      |    lag(hc, 1) OVER w AS ph, lag(lc, 1) OVER w AS pl,
      |    lag(cc, 1) OVER w AS pc
      |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |p AS (SELECT event_type, day, ph, pl,
      |    (2 * (ph + pl + pc) + 3) // 6 AS p
      |  FROM l WHERE ph IS NOT NULL)
      |SELECT event_type, day,
      |  CAST(p AS DOUBLE) / 100.0 AS pivot,
      |  CAST(2 * p - pl AS DOUBLE) / 100.0 AS r1,
      |  CAST(2 * p - ph AS DOUBLE) / 100.0 AS s1,
      |  CAST(p + (ph - pl) AS DOUBLE) / 100.0 AS r2,
      |  CAST(p - (ph - pl) AS DOUBLE) / 100.0 AS s2
      |FROM p ORDER BY event_type, day""".stripMargin)
}
