package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 second wave: quartile-shape robust statistics — Bowley
  * (quartile) skewness, Tukey's trimean, the quartile coefficient of
  * dispersion — and a fixed-grid Epanechnikov kernel density estimate.
  *
  * Determinism: quartiles are picked at exact discrete ranks over the
  * (xc, event_id) total order (the agg_iqr_fences idiom); Bowley and
  * QCD are one division of exact centi integers each; the trimean is
  * a single correctly-rounded /400.0 display division with no round()
  * site at all; the KDE is fully rational — the Epanechnikov kernel
  * 0.75·(1−u²) over centi integers reduces to Σ(h²−d²) exact decimal
  * sums, and the density is emitted through a positive half-up
  * integer division to nano-units (the 2-5-smooth denominator n·h³
  * would otherwise be a systematic rounding-boundary hazard).
  */
object Round9bQueries extends graft.QueryFamily {

  /** Discrete-rank quartiles per event type (exact centi longs). */
  private def quartiles(s: SparkSession, dir: String) =
    rankedCenti(s, dir).groupBy("event_type")
      .agg(max("n").as("n"),
        max(when(col("rn") === expr("(n + 3) DIV 4"), col("xc"))).as("q1"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("xc"))).as("q2"),
        max(when(col("rn") === expr("(3 * n + 3) DIV 4"), col("xc"))).as("q3"))

  private val quartilesSql =
    s"""$rankedCentiSql,
       |q AS (SELECT event_type, max(n) AS n,
       |    max(CASE WHEN rn = (n + 3) // 4 THEN xc END) AS q1,
       |    max(CASE WHEN rn = (n + 1) // 2 THEN xc END) AS q2,
       |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN xc END) AS q3
       |  FROM r GROUP BY 1)""".stripMargin

  // KDE grid: 5 fixed centi grid points, bandwidth 50 units
  private val kdeGrid = Seq(2500L, 7500L, 12500L, 17500L, 22500L)
  private val kdeH = 5000L

  val queries: Map[String, QFn] = Map(

    // ---- Bowley (quartile) skewness ---------------------------------------------
    // (Q1 + Q3 − 2·Q2)/(Q3 − Q1) per event type — the robust skewness
    // that never touches a moment. One division of exact centi longs.
    "agg_bowley_skew" -> ((s, dir) =>
      quartiles(s, dir)
        .select(col("event_type"), col("n"),
          round(d(col("q1") + col("q3") - lit(2) * col("q2"))
            / d(col("q3") - col("q1")), 6).as("bowley_skew"))
        .orderBy("event_type")),

    // ---- Tukey trimean ---------------------------------------------------------
    // (Q1 + 2·Q2 + Q3)/4 in units — one correctly-rounded /400.0
    // display division of an exact centi integer, no round() at all.
    "agg_trimean" -> ((s, dir) =>
      quartiles(s, dir)
        .select(col("event_type"), col("n"),
          (d(col("q1") + lit(2) * col("q2") + col("q3")) / 400.0)
            .as("trimean"))
        .orderBy("event_type")),

    // ---- quartile coefficient of dispersion -------------------------------------
    // (Q3 − Q1)/(Q3 + Q1) per event type — the robust relative-spread
    // complement of the coefficient of variation.
    "agg_qcd" -> ((s, dir) =>
      quartiles(s, dir)
        .select(col("event_type"), col("n"),
          round(d(col("q3") - col("q1")) / d(col("q3") + col("q1")), 6)
            .as("qcd"))
        .orderBy("event_type")),

    // ---- Epanechnikov KDE on a fixed grid ----------------------------------------
    // Density per unit at 5 fixed grid points per event type, h = 50
    // units: f(g) = 0.75·Σ(h²−d²)/(n·h³) per centi, ×100 per unit,
    // which reduces to the nano-unit integer halfUp(3·S, 5·n) — the
    // kernel is rational, so the whole estimate is exact until one
    // final /1e9 display division.
    "agg_kde_grid" -> ((s, dir) => {
      val h2 = kdeH * kdeH
      Tables.events(s, dir)
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 6)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("xc"))
        .withColumn("gc", explode(array(kdeGrid.map(lit(_)): _*)))
        .withColumn("term",
          when(abs(col("xc") - col("gc")) < kdeH,
            (lit(h2) - (col("xc") - col("gc")) * (col("xc") - col("gc")))
              .cast(DecimalType(18, 0)))
            .otherwise(lit(0).cast(DecimalType(18, 0))))
        .groupBy("event_type", "gc")
        .agg(count(lit(1)).as("n"),
          sum(col("term")).cast(DecimalType(38, 0)).as("s"))
        .select(col("event_type"), (d(col("gc")) / 100.0).as("g"), col("n"),
          (d(expr("(6 * s + 5 * n) div (10 * n)")) / 1.0e9).as("density"))
        .orderBy("event_type", "g")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_bowley_skew" -> s"""
      |WITH $quartilesSql
      |SELECT event_type, n,
      |  round(CAST(q1 + q3 - 2 * q2 AS DOUBLE)
      |    / CAST(q3 - q1 AS DOUBLE), 6) AS bowley_skew
      |FROM q ORDER BY event_type""".stripMargin,

    "agg_trimean" -> s"""
      |WITH $quartilesSql
      |SELECT event_type, n,
      |  CAST(q1 + 2 * q2 + q3 AS DOUBLE) / 400.0 AS trimean
      |FROM q ORDER BY event_type""".stripMargin,

    "agg_qcd" -> s"""
      |WITH $quartilesSql
      |SELECT event_type, n,
      |  round(CAST(q3 - q1 AS DOUBLE) / CAST(q3 + q1 AS DOUBLE), 6) AS qcd
      |FROM q ORDER BY event_type""".stripMargin,

    "agg_kde_grid" -> s"""
      |WITH grid AS (SELECT * FROM (VALUES ${kdeGrid.map(g => s"($g)").mkString(", ")}) g(gc)),
      |ev AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 100
      |      AS DECIMAL(18,0))::BIGINT AS xc
      |  FROM events),
      |s AS (SELECT event_type, gc, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(CASE WHEN abs(xc - gc) < $kdeH
      |      THEN ${kdeH * kdeH} - (xc - gc) * (xc - gc)
      |      ELSE 0 END AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s
      |  FROM ev CROSS JOIN grid GROUP BY 1, 2)
      |SELECT event_type, CAST(gc AS DOUBLE) / 100.0 AS g, n,
      |  CAST(CAST(6 * s + 5 * n AS HUGEINT)
      |    // CAST(10 * n AS HUGEINT) AS DOUBLE) / 1e9 AS density
      |FROM s ORDER BY event_type, g""".stripMargin)
}
