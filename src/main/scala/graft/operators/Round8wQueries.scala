package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twenty-third wave: paired categorical tests and
  * forecast-quality windows — the sign test (the distribution-free
  * sibling of agg_wilcoxon_signedrank), McNemar's paired-binary test,
  * the tracking-signal bias monitor and the rolling z-score.
  *
  * Determinism: sign/McNemar are pure integer count ledgers to one
  * closed form; the tracking signal is a ratio of integer cumulative
  * sums; the rolling z-score works off window integer moments
  * (n·x − S1 numerator — no fractional mean), decimal(38) squares,
  * correctly-rounded ÷ and √ only.
  */
object Round8wQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- paired sign test ---------------------------------------------------
    // Day d vs d+15 paired centi revenue per event type (the
    // agg_wilcoxon_signedrank pairing, magnitudes discarded): n⁺/n⁻
    // counts, z = (n⁺ − n⁻)/√n — the assumption-free paired gate.
    // Zero differences drop; pure integers to one √.
    "agg_sign_test" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      daily.where(col("day") <= 15)
        .join(daily.toDF("et2", "day2", "xc2"),
          col("event_type") === col("et2") && col("day2") === col("day") + 15)
        .select(col("event_type"), (col("xc") - col("xc2")).as("diff"))
        .where(col("diff") =!= 0)
        .groupBy("event_type")
        .agg(count_if(col("diff") > 0).as("n_pos"),
          count_if(col("diff") < 0).as("n_neg"))
        .select(col("event_type"), col("n_pos"), col("n_neg"),
          round(d(col("n_pos") - col("n_neg"))
            / sqrt(d(col("n_pos") + col("n_neg"))), 6).as("z"))
        .orderBy("event_type")
    }),

    // ---- McNemar's paired-binary test -------------------------------------------
    // Did per-user purchase behavior flip between the month halves?
    // b = purchased only in H1, c = only in H2; χ² = (b−c)²/(b+c)
    // (NULL when no discordant pairs) — the paired complement of
    // agg_ab_conversion. One user-keyed aggregate, all integers.
    "agg_mcnemar" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          count_if(col("event_type") === "purchase" &&
            dayofmonth(col("ts")) <= 15).as("h1"),
          count_if(col("event_type") === "purchase" &&
            dayofmonth(col("ts")) > 15).as("h2"))
      u.agg(count(lit(1)).as("n_users"),
          count_if(col("h1") > 0 && col("h2") === 0).as("b"),
          count_if(col("h1") === 0 && col("h2") > 0).as("c"))
        .select(col("n_users"), col("b"), col("c"),
          when(col("b") + col("c") > 0,
            round(d(col("b") - col("c")) * d(col("b") - col("c"))
              / d(col("b") + col("c")), 6)).as("chi2"))
    }),

    // ---- tracking signal (forecast bias monitor) -----------------------------------
    // Naive-forecast (lag-1) errors per event type: TS_t = Σe / Σ|e|
    // over the expanding window — the classic is-the-forecast-biased
    // alarm (|TS| → 1 means one-sided misses). Integer error ledgers,
    // one division per emitted row.
    "win_tracking_signal" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dailyCenti(s, dir)
        .withColumn("e", col("xc") - lag("xc", 1).over(w))
        .where(col("e").isNotNull)
        .withColumn("ce", sum("e").over(wc))
        .withColumn("cae", sum(abs(col("e"))).over(wc))
        .select(col("event_type"), col("day"),
          when(col("cae") > 0,
            round(d(col("ce")) / d(col("cae")), 6)).as("ts"))
        .orderBy("event_type", "day")
    }),

    // ---- rolling z-score ---------------------------------------------------------
    // 14-day z-score of daily revenue per type from window integer
    // moments: z = (n·x − S1)·√((n−1)/n) / √(n·S2 − S1²) — no
    // fractional mean materializes. Full windows with positive
    // variance only; the mean/σ complement of win_anomaly_mad's
    // median/MAD.
    "win_rolling_zscore" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-13, Window.currentRow)
      dailyCenti(s, dir)
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s1", sum(col("xc").cast(DecimalType(38, 0))).over(w))
        .withColumn("s2", sum(col("xc").cast(DecimalType(38, 0))
          * col("xc").cast(DecimalType(38, 0))).over(w))
        .where(col("n") === 14)
        .withColumn("varn", d(col("n")) * d(col("s2"))
          - d(col("s1")) * d(col("s1")))
        .where(col("varn") > 0)
        .select(col("event_type"), col("day"),
          round((d(col("n")) * d(col("xc")) - d(col("s1")))
            * sqrt((d(col("n")) - 1.0) / d(col("n")))
            / sqrt(col("varn")), 4).as("z14"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_sign_test" -> s"""
      |WITH $dailyCentiSql,
      |pairs AS (SELECT a.event_type, a.xc - b.xc AS diff
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type
      |    AND b.day = a.day + 15
      |  WHERE a.day <= 15 AND a.xc - b.xc <> 0)
      |SELECT event_type,
      |  CAST(count(*) FILTER (diff > 0) AS BIGINT) AS n_pos,
      |  CAST(count(*) FILTER (diff < 0) AS BIGINT) AS n_neg,
      |  round(CAST(count(*) FILTER (diff > 0)
      |      - count(*) FILTER (diff < 0) AS DOUBLE)
      |    / sqrt(CAST(count(*) AS DOUBLE)), 6) AS z
      |FROM pairs GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_mcnemar" -> """
      |WITH u AS (SELECT user_id,
      |    CAST(count(*) FILTER (event_type = 'purchase' AND day(ts) <= 15)
      |      AS BIGINT) AS h1,
      |    CAST(count(*) FILTER (event_type = 'purchase' AND day(ts) > 15)
      |      AS BIGINT) AS h2
      |  FROM events GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(count(*) FILTER (h1 > 0 AND h2 = 0) AS BIGINT) AS b,
      |  CAST(count(*) FILTER (h1 = 0 AND h2 > 0) AS BIGINT) AS c,
      |  CASE WHEN count(*) FILTER (h1 > 0 AND h2 = 0)
      |       + count(*) FILTER (h1 = 0 AND h2 > 0) > 0
      |  THEN round(CAST(count(*) FILTER (h1 > 0 AND h2 = 0)
      |        - count(*) FILTER (h1 = 0 AND h2 > 0) AS DOUBLE)
      |      * CAST(count(*) FILTER (h1 > 0 AND h2 = 0)
      |        - count(*) FILTER (h1 = 0 AND h2 > 0) AS DOUBLE)
      |      / CAST(count(*) FILTER (h1 > 0 AND h2 = 0)
      |        + count(*) FILTER (h1 = 0 AND h2 > 0) AS DOUBLE), 6)
      |  END AS chi2
      |FROM u""".stripMargin,

    "win_tracking_signal" -> s"""
      |WITH $dailyCentiSql,
      |e AS (SELECT event_type, day,
      |    xc - lag(xc, 1) OVER (PARTITION BY event_type ORDER BY day) AS e
      |  FROM daily),
      |f AS (SELECT event_type, day,
      |    CAST(sum(e) OVER w AS BIGINT) AS ce,
      |    CAST(sum(abs(e)) OVER w AS BIGINT) AS cae
      |  FROM e WHERE e IS NOT NULL
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  CASE WHEN cae > 0
      |       THEN round(CAST(ce AS DOUBLE) / CAST(cae AS DOUBLE), 6)
      |  END AS ts
      |FROM f ORDER BY event_type, day""".stripMargin,

    "win_rolling_zscore" -> s"""
      |WITH $dailyCentiSql,
      |m AS (SELECT event_type, day, xc,
      |    CAST(count(*) OVER w AS BIGINT) AS n,
      |    sum(CAST(xc AS DECIMAL(38,0))) OVER w AS s1,
      |    sum(CAST(xc AS DECIMAL(38,0)) * CAST(xc AS DECIMAL(38,0)))
      |      OVER w AS s2
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |v AS (SELECT event_type, day, xc, n,
      |    CAST(s1 AS DOUBLE) AS s1d,
      |    CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS varn
      |  FROM m WHERE n = 14)
      |SELECT event_type, day,
      |  round((CAST(n AS DOUBLE) * CAST(xc AS DOUBLE) - s1d)
      |    * sqrt((CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE))
      |    / sqrt(varn), 4) AS z14
      |FROM v WHERE varn > 0 ORDER BY event_type, day""".stripMargin)
}
