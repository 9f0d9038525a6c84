package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twenty-fifth wave: distribution-shape and outlier
  * diagnostics — exact-moment skewness/kurtosis, Tukey-fence outlier
  * counts, Dixon's Q extreme-value test and the global median/MAD
  * pair.
  *
  * Determinism: every moment is an exact decimal(38) sum of centi-long
  * powers (the scale cancels in the dimensionless shape statistics);
  * Tukey fences compare 2·x against 2·Q ± 3·IQR — pure integer
  * cross-multiplication, no 1.5 ever materializes; Dixon and MAD pick
  * values at exact integer ranks.
  */
object Round8yQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- exact-moment skewness / kurtosis ------------------------------------
    // g1 = m3/m2^1.5 and excess g2 = m4/m2² − 3 per event type from
    // EXACT decimal(38) power sums S1..S4 of the centi values (the
    // centi scale cancels in both) — Spark's builtin skewness/kurtosis
    // are float-fold order-dependent, these are not. One aggregation,
    // one fixed closed form, 4dp.
    "agg_skew_kurtosis" -> ((s, dir) => {
      val x = col("xc").cast(DecimalType(38, 0))
      val g = Tables.events(s, dir)
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 6)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("xc"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(x).as("s1"),
          sum(x * x).as("s2"), sum(x * x * x).as("s3"),
          sum(x * x * x * x).as("s4"), max(abs(col("xc"))).as("mx"))
      val n = d(col("n"))
      val (s1, s2, s3, s4) = (d(col("s1")), d(col("s2")), d(col("s3")),
        d(col("s4")))
      // decimal(38,0) range bound for the first 4th-power sum in the
      // codebase: s4 ≤ n·max|xc|⁴. Past the cap Spark (non-ANSI) would
      // silently NULL while DuckDB raises — guard to the same loud
      // failure (the win_stochastic_osc idiom). 1e37 leaves 10× slack.
      val mx = d(col("mx"))
      val s4Bound = n * mx * mx * mx * mx
      val m2 = (n * s2 - s1 * s1) / (n * n)
      val m3 = (n * n * s3 - lit(3.0) * n * s1 * s2
        + lit(2.0) * s1 * s1 * s1) / (n * n * n)
      val m4 = (n * n * n * s4 - lit(4.0) * n * n * s1 * s3
        + lit(6.0) * n * s1 * s1 * s2 - lit(3.0) * s1 * s1 * s1 * s1) /
        (n * n * n * n)
      g.select(col("event_type"), col("n"),
          when(s4Bound > lit(1.0e37), raise_error(lit(
            "agg_skew_kurtosis: n*max(xc)^4 approaches the decimal(38,0) " +
              "cap; rescale xc (centi -> unit) before the power sums")))
            .otherwise(round(m3 / (m2 * sqrt(m2)), 4)).as("skewness"),
          round(m4 / (m2 * m2) - 3.0, 4).as("excess_kurtosis"))
        .orderBy("event_type")
    }),

    // ---- Tukey-fence outlier counts ---------------------------------------------
    // Outliers beyond Q1 − 1.5·IQR / Q3 + 1.5·IQR per event type with
    // the quartiles at exact discrete ranks — the fence test is the
    // integer cross-compare 2·x <> 2·Q ∓ 3·IQR, so the 1.5 multiplier
    // never leaves ℤ. Counts and share.
    "agg_iqr_fences" -> ((s, dir) => {
      val q = rankedCenti(s, dir).groupBy("event_type")
        .agg(max("n").as("n"),
          max(when(col("rn") === expr("(n + 3) DIV 4"), col("xc"))).as("q1"),
          max(when(col("rn") === expr("(3 * n + 3) DIV 4"), col("xc"))).as("q3"))
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 6)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("xc"))
      ev.join(broadcast(q), Seq("event_type"))
        .withColumn("iqr", col("q3") - col("q1"))
        .withColumn("out",
          col("xc") * 2 < col("q1") * 2 - col("iqr") * 3 ||
            col("xc") * 2 > col("q3") * 2 + col("iqr") * 3)
        .groupBy("event_type")
        .agg(max("n").as("n"),
          (d(max("q1")) / 100.0).as("q1"), (d(max("q3")) / 100.0).as("q3"),
          count_if(col("out")).as("n_outliers"))
        .select(col("event_type"), col("n"), col("q1"), col("q3"),
          col("n_outliers"),
          round(d(col("n_outliers")) / d(col("n")), 6).as("outlier_share"))
        .orderBy("event_type")
    }),

    // ---- Dixon's Q extreme-value test ----------------------------------------------
    // Q_low = (x₂−x₁)/(xₙ−x₁), Q_high = (xₙ−xₙ₋₁)/(xₙ−x₁) per event
    // type from four exact rank picks — the small-sample is-the-
    // extreme-real screen. One division each, 6dp.
    "agg_dixon_q" -> ((s, dir) =>
      rankedCenti(s, dir).groupBy("event_type")
        .agg(max("n").as("n"),
          max(when(col("rn") === 1, col("xc"))).as("x1"),
          max(when(col("rn") === 2, col("xc"))).as("x2"),
          max(when(col("rn") === col("n") - 1, col("xc"))).as("xn1"),
          max(when(col("rn") === col("n"), col("xc"))).as("xn"))
        .select(col("event_type"), col("n"),
          round(d(col("x2") - col("x1")) / d(col("xn") - col("x1")), 6)
            .as("q_low"),
          round(d(col("xn") - col("xn1")) / d(col("xn") - col("x1")), 6)
            .as("q_high"))
        .orderBy("event_type")),

    // ---- global median / MAD ------------------------------------------------------
    // The robust location/scale pair per event type: median at rank
    // (n+1) DIV 2, MAD = the same discrete median of |x − med| in a
    // second rank pass — win_mad_outliers' rolling machinery, global
    // (the robust complement of agg_stats' mean/σ).
    "agg_median_mad" -> ((s, dir) => {
      val med = rankedCenti(s, dir).groupBy("event_type")
        .agg(max(when(col("rn") === expr("(n + 1) DIV 2"), col("xc")))
          .as("med"))
      val dev = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          (col("value").cast(DecimalType(18, 6)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("xc"))
        .join(broadcast(med), Seq("event_type"))
        .withColumn("dv", abs(col("xc") - col("med")))
      // second rank pass over the deviations: GlobalRank again — the
      // deviations table is as corpus-scaled as the values table
      GlobalRank.withSeqAndCount(dev, "rn", "n", Seq("event_type"),
          Seq(col("dv").asc, col("event_id").asc), groupsHint = 5)
        .groupBy("event_type")
        .agg(max("n").as("n"), (d(max("med")) / 100.0).as("median"),
          (d(max(when(col("rn") === expr("(n + 1) DIV 2"), col("dv"))))
            / 100.0).as("mad"))
        .orderBy("event_type")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_skew_kurtosis" -> """
      |WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(xc AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(xc AS DECIMAL(38,0)) * CAST(xc AS DECIMAL(38,0))) AS s2,
      |    sum(CAST(xc AS DECIMAL(38,0)) * CAST(xc AS DECIMAL(38,0))
      |      * CAST(xc AS DECIMAL(38,0))) AS s3,
      |    sum(CAST(xc AS DECIMAL(38,0)) * CAST(xc AS DECIMAL(38,0))
      |      * CAST(xc AS DECIMAL(38,0)) * CAST(xc AS DECIMAL(38,0))) AS s4
      |  FROM (SELECT event_type,
      |      CAST(CAST(value AS DECIMAL(18,6)) * 100
      |        AS DECIMAL(18,0))::BIGINT AS xc
      |    FROM events) x
      |  GROUP BY 1),
      |m AS (SELECT event_type, n,
      |    (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m2,
      |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
      |      - 3.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
      |        * CAST(s2 AS DOUBLE)
      |      + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |        * CAST(s1 AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |      AS m3,
      |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        * CAST(s4 AS DOUBLE)
      |      - 4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
      |      + 6.0 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
      |        * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |        * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        * CAST(n AS DOUBLE)) AS m4
      |  FROM g)
      |SELECT event_type, n,
      |  round(m3 / (m2 * sqrt(m2)), 4) AS skewness,
      |  round(m4 / (m2 * m2) - 3.0, 4) AS excess_kurtosis
      |FROM m ORDER BY event_type""".stripMargin,

    "agg_iqr_fences" -> s"""
      |WITH $rankedCentiSql,
      |q AS (SELECT event_type, max(n) AS n,
      |    max(CASE WHEN rn = (n + 3) // 4 THEN xc END) AS q1,
      |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN xc END) AS q3
      |  FROM r GROUP BY 1)
      |SELECT r.event_type, max(q.n) AS n,
      |  CAST(max(q.q1) AS DOUBLE) / 100.0 AS q1,
      |  CAST(max(q.q3) AS DOUBLE) / 100.0 AS q3,
      |  CAST(count(*) FILTER (
      |    r.xc * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3 OR
      |    r.xc * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3) AS BIGINT) AS n_outliers,
      |  round(CAST(count(*) FILTER (
      |      r.xc * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3 OR
      |      r.xc * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3) AS DOUBLE)
      |    / CAST(max(q.n) AS DOUBLE), 6) AS outlier_share
      |FROM r JOIN q ON r.event_type = q.event_type
      |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin,

    "agg_dixon_q" -> s"""
      |WITH $rankedCentiSql
      |SELECT event_type, max(n) AS n,
      |  round(CAST(max(CASE WHEN rn = 2 THEN xc END)
      |      - max(CASE WHEN rn = 1 THEN xc END) AS DOUBLE)
      |    / CAST(max(CASE WHEN rn = n THEN xc END)
      |      - max(CASE WHEN rn = 1 THEN xc END) AS DOUBLE), 6) AS q_low,
      |  round(CAST(max(CASE WHEN rn = n THEN xc END)
      |      - max(CASE WHEN rn = n - 1 THEN xc END) AS DOUBLE)
      |    / CAST(max(CASE WHEN rn = n THEN xc END)
      |      - max(CASE WHEN rn = 1 THEN xc END) AS DOUBLE), 6) AS q_high
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_median_mad" -> s"""
      |WITH $rankedCentiSql,
      |med AS (SELECT event_type,
      |    max(CASE WHEN rn = (n + 1) // 2 THEN xc END) AS med
      |  FROM r GROUP BY 1),
      |dev AS (SELECT r.event_type, r.event_id,
      |    abs(r.xc - med.med) AS dv, med.med
      |  FROM r JOIN med ON r.event_type = med.event_type),
      |dr AS (SELECT event_type, dv, med,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY dv, event_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM dev)
      |SELECT event_type, max(n) AS n,
      |  CAST(max(med) AS DOUBLE) / 100.0 AS median,
      |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN dv END) AS DOUBLE)
      |    / 100.0 AS mad
      |FROM dr GROUP BY event_type ORDER BY event_type""".stripMargin)
}
