package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 sixteenth wave: trend/regime time-series statistics — the
  * average directional index, SMA golden/death-cross detection, the
  * Lo-MacKinlay variance-ratio test and the underwater (drawdown
  * duration) profile.
  *
  * Determinism: directional movement, cross states and drawdown
  * ledgers stay exact centi-long integers (SMA comparisons cross-
  * multiply — 4·S5 vs S20 — so no fractional mean exists anywhere);
  * DX collapses to 100·|P−M|/(P+M) over integer window sums (the TR
  * denominator cancels); variances come from integer moments in
  * decimal(38); per-window DX means use the rounded-term decimal-sum
  * idiom.
  */
object Round8pQueries extends graft.QueryFamily {

  /** Daily (hi, lo) bars per event type in exact centi-units (the
    * Round8h/8k bar construction, close/volume omitted). */
  private def dailyHiLo(s: SparkSession, dir: String) =
    Tables.events(s, dir)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 6)) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("vc"),
        dayofmonth(col("ts")).cast("long").as("day"))
      .groupBy("event_type", "day")
      .agg(max("vc").as("hi"), min("vc").as("lo"))

  private val dailyHiLoSql =
    """bars AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    CAST(max(CAST(CAST(value AS DECIMAL(18,6)) * 100
      |      AS DECIMAL(18,0))::BIGINT) AS BIGINT) AS hi,
      |    CAST(min(CAST(CAST(value AS DECIMAL(18,6)) * 100
      |      AS DECIMAL(18,0))::BIGINT) AS BIGINT) AS lo
      |  FROM events GROUP BY 1, 2)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- average directional index (14-day) ---------------------------------
    // +DM/−DM from consecutive hi/lo bars; over each full 14-bar
    // window DX = 100·|ΣP − ΣM| / (ΣP + ΣM) — the shared true-range
    // denominator of the textbook ±DI cancels in DX, leaving pure
    // integer sums. ADX = trailing-14 mean of the 6dp-rounded DX
    // (rounded-term decimal sum / count). Flat windows (P+M = 0) emit
    // NULL DX and drop from the ADX mean on both engines.
    "win_adx" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wa = w.rowsBetween(-13, Window.currentRow)
      val dm = dailyHiLo(s, dir)
        .withColumn("ph", lag("hi", 1).over(w))
        .withColumn("pl", lag("lo", 1).over(w))
        .withColumn("up", col("hi") - col("ph"))
        .withColumn("dn", col("pl") - col("lo"))
        .withColumn("pdm", when(col("up") > col("dn") && col("up") > 0,
          col("up")).otherwise(0L))
        .withColumn("mdm", when(col("dn") > col("up") && col("dn") > 0,
          col("dn")).otherwise(0L))
        .where(col("ph").isNotNull)
      // dx and adx as EXACT half-up micro-unit divisions (BoundaryGuard
      // r9: the dx-mean over counts 2/4/5/8/10 terminates and lands
      // exactly on 6dp half boundaries — the systematic string-vs-
      // binary rounding hazard). hi/lo are centi of per-day max/min
      // value, so |p-m| and p+m are SF-independent (≤ ~1.6e6) and the
      // 2e8-scaled numerators stay far inside int64.
      val dx = dm
        .withColumn("p", sum("pdm").over(wa))
        .withColumn("m", sum("mdm").over(wa))
        .withColumn("nw", count(lit(1)).over(wa))
        .where(col("nw") === 14)
        .withColumn("dx6", when(col("p") + col("m") > 0,
          expr("(2 * 100000000 * abs(p - m) + (p + m)) div (2 * (p + m))")))
      dx
        .withColumn("sdx", sum("dx6").over(wa))
        .withColumn("cdx", count(col("dx6")).over(wa))
        .select(col("event_type"), col("day"),
          (d(col("dx6")) / 1000000.0).as("dx"),
          (d(expr("(2 * sdx + cdx) div (2 * cdx)")) / 1000000.0).as("adx"))
        .orderBy("event_type", "day")
    }),

    // ---- SMA golden/death cross ------------------------------------------------
    // Trend-regime state per day from the 5- vs 20-day SMAs of the
    // daily close sums, compared WITHOUT division: 4·S5 <=> S20
    // (≡ S5/5 <=> S20/20). A cross fires when the nonzero state flips
    // — 'golden' up, 'death' down. Full 20-bar windows only; everything
    // integer.
    "win_sma_cross" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w5 = w.rowsBetween(-4, Window.currentRow)
      val w20 = w.rowsBetween(-19, Window.currentRow)
      val st = dailyCenti(s, dir)
        .withColumn("s5x4", sum("xc").over(w5) * 4)
        .withColumn("s20", sum("xc").over(w20))
        .withColumn("nw", count(lit(1)).over(w20))
        .where(col("nw") === 20)
        .withColumn("st", when(col("s5x4") > col("s20"), 1L)
          .when(col("s5x4") < col("s20"), -1L).otherwise(0L))
      st.withColumn("pst", lag("st", 1).over(w))
        .select(col("event_type"), col("day"), col("st"),
          when(col("pst").isNotNull && col("st") =!= col("pst")
              && col("st") =!= 0 && col("pst") =!= 0,
            when(col("st") > col("pst"), lit("golden"))
              .otherwise(lit("death"))).as("cross"))
        .orderBy("event_type", "day")
    }),

    // ---- Lo-MacKinlay variance ratio (q = 5) --------------------------------------
    // VR(5) = Var(5-day overlapping diffs) / (5·Var(1-day diffs)) of
    // the daily close-sum series per type — the random-walk test
    // (VR ≈ 1 under i.i.d. increments; >1 momentum, <1 reversal).
    // Both variances from exact integer moments (n, Σd, Σd²) in
    // decimal(38); two rational→double images, one division, 6dp.
    "agg_variance_ratio" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val diffs = dailyCenti(s, dir)
        .withColumn("d1", col("xc") - lag("xc", 1).over(w))
        .withColumn("d5", col("xc") - lag("xc", 5).over(w))
      def varOf(c: String) = {
        val n = count(col(c))
        val s1 = sum(col(c).cast(DecimalType(38, 0)))
        val s2 = sum(col(c).cast(DecimalType(38, 0))
          * col(c).cast(DecimalType(38, 0)))
        (d(n) * d(s2) - d(s1) * d(s1), d(n) * (d(n) - 1.0))
      }
      diffs.groupBy("event_type")
        .agg(count(col("d1")).as("n1"), count(col("d5")).as("n5"),
          sum(col("d1").cast(DecimalType(38, 0))).as("a1"),
          sum(col("d1").cast(DecimalType(38, 0))
            * col("d1").cast(DecimalType(38, 0))).as("b1"),
          sum(col("d5").cast(DecimalType(38, 0))).as("a5"),
          sum(col("d5").cast(DecimalType(38, 0))
            * col("d5").cast(DecimalType(38, 0))).as("b5"))
        .select(col("event_type"), col("n1").as("n_diffs"),
          round(((d(col("n5")) * d(col("b5")) - d(col("a5")) * d(col("a5")))
            / (d(col("n5")) * (d(col("n5")) - 1.0)))
            / (lit(5.0) * (d(col("n1")) * d(col("b1"))
              - d(col("a1")) * d(col("a1")))
              / (d(col("n1")) * (d(col("n1")) - 1.0))), 6).as("vr5"))
        .orderBy("event_type")
    }),

    // ---- drawdown duration (underwater profile) -------------------------------------
    // Per day: running-peak equity (cumulative daily revenue),
    // drawdown = peak − equity, and days-since-peak (0 at a fresh
    // peak) — win_max_drawdown's single number says how deep, this
    // says how LONG capital stays underwater. Pure integer ledgers:
    // peak day rides max(day at peak) over the unbounded frame.
    "win_drawdown_duration" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dailyCenti(s, dir)
        .withColumn("eq", sum("xc").over(wc))
        .withColumn("peak", max("eq").over(wc))
        .withColumn("pday",
          max(when(col("eq") === col("peak"), col("day"))).over(wc))
        .select(col("event_type"), col("day"),
          (d(col("peak") - col("eq")) / 100.0).as("drawdown"),
          (col("day") - col("pday")).as("underwater_days"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "win_adx" -> s"""
      |WITH $dailyHiLoSql,
      |dm AS (SELECT event_type, day,
      |    CASE WHEN up > dn AND up > 0 THEN up ELSE 0 END AS pdm,
      |    CASE WHEN dn > up AND dn > 0 THEN dn ELSE 0 END AS mdm
      |  FROM (SELECT event_type, day,
      |      hi - lag(hi, 1) OVER w AS up,
      |      lag(lo, 1) OVER w - lo AS dn
      |    FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)) x
      |  WHERE up IS NOT NULL),
      |dx AS (SELECT event_type, day,
      |    CASE WHEN p + m > 0
      |         THEN (2 * 100000000 * abs(p - m) + (p + m)) // (2 * (p + m))
      |    END AS dx6
      |  FROM (SELECT event_type, day,
      |      CAST(sum(pdm) OVER w AS BIGINT) AS p,
      |      CAST(sum(mdm) OVER w AS BIGINT) AS m,
      |      count(*) OVER w AS nw
      |    FROM dm WINDOW w AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) y
      |  WHERE nw = 14)
      |SELECT event_type, day,
      |  CAST(dx6 AS DOUBLE) / 1000000.0 AS dx,
      |  CAST((2 * sdx + cdx) // (2 * cdx) AS DOUBLE) / 1000000.0 AS adx
      |FROM (SELECT event_type, day, dx6,
      |    sum(dx6) OVER w AS sdx, count(dx6) OVER w AS cdx
      |  FROM dx WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) z
      |ORDER BY event_type, day""".stripMargin,

    "win_sma_cross" -> s"""
      |WITH $dailyCentiSql,
      |st AS (SELECT event_type, day,
      |    CASE WHEN s5x4 > s20 THEN 1 WHEN s5x4 < s20 THEN -1
      |         ELSE 0 END AS st
      |  FROM (SELECT event_type, day,
      |      CAST(sum(xc) OVER w5 AS BIGINT) * 4 AS s5x4,
      |      CAST(sum(xc) OVER w20 AS BIGINT) AS s20,
      |      count(*) OVER w20 AS nw
      |    FROM daily
      |    WINDOW w5 AS (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      |      w20 AS (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) x
      |  WHERE nw = 20)
      |SELECT event_type, day, CAST(st AS BIGINT) AS st,
      |  CASE WHEN pst IS NOT NULL AND st <> pst AND st <> 0 AND pst <> 0
      |       THEN CASE WHEN st > pst THEN 'golden' ELSE 'death' END
      |  END AS cross
      |FROM (SELECT event_type, day, st,
      |    lag(st, 1) OVER (PARTITION BY event_type ORDER BY day) AS pst
      |  FROM st) y
      |ORDER BY event_type, day""".stripMargin,

    "agg_variance_ratio" -> s"""
      |WITH $dailyCentiSql,
      |df AS (SELECT event_type,
      |    xc - lag(xc, 1) OVER w AS d1, xc - lag(xc, 5) OVER w AS d5
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |a AS (SELECT event_type,
      |    CAST(count(d1) AS BIGINT) AS n1, CAST(count(d5) AS BIGINT) AS n5,
      |    sum(CAST(d1 AS DECIMAL(38,0))) AS a1,
      |    sum(CAST(d1 AS DECIMAL(38,0)) * CAST(d1 AS DECIMAL(38,0))) AS b1,
      |    sum(CAST(d5 AS DECIMAL(38,0))) AS a5,
      |    sum(CAST(d5 AS DECIMAL(38,0)) * CAST(d5 AS DECIMAL(38,0))) AS b5
      |  FROM df GROUP BY 1)
      |SELECT event_type, n1 AS n_diffs,
      |  round(((CAST(n5 AS DOUBLE) * CAST(b5 AS DOUBLE)
      |      - CAST(a5 AS DOUBLE) * CAST(a5 AS DOUBLE))
      |    / (CAST(n5 AS DOUBLE) * (CAST(n5 AS DOUBLE) - 1.0)))
      |    / (5.0 * (CAST(n1 AS DOUBLE) * CAST(b1 AS DOUBLE)
      |      - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE))
      |      / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))), 6) AS vr5
      |FROM a ORDER BY event_type""".stripMargin,

    "win_drawdown_duration" -> s"""
      |WITH $dailyCentiSql,
      |eqt AS (SELECT event_type, day,
      |    CAST(sum(xc) OVER w AS BIGINT) AS eq
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pk AS (SELECT event_type, day, eq,
      |    CAST(max(eq) OVER w AS BIGINT) AS peak
      |  FROM eqt WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  CAST(peak - eq AS DOUBLE) / 100.0 AS drawdown,
      |  CAST(day - max(CASE WHEN eq = peak THEN day END)
      |    OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS underwater_days
      |FROM pk ORDER BY event_type, day""".stripMargin)
}
