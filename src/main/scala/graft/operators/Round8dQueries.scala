package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._

/** Round-8 fourth wave: range-based volatility (Parkinson), the
  * Ljung–Box portmanteau autocorrelation test, local-bridge detection
  * on the co-occurrence graph, and the Ulcer drawdown index —
  * rounding out the time-series risk/diagnostic family beside
  * OHLC/RSI/MACD/drawdown and the wedge-kernel graph family.
  *
  * Determinism: day-level ln/ratio terms that must be summed across
  * rows are 8dp-quantized decimals (order-free); Ljung–Box's five lag
  * terms live in ONE row, so its closed form is a single fixed-order
  * double expression over exact decimal covariances (n·x − S products
  * at DECIMAL(38,0), never int64).
  */
object Round8dQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Parkinson range volatility -------------------------------------
    // σ_P = √( Σ ln(H/L)² / (4·n·ln 2) ) from each day's high/low of
    // `value` per event type — the range-based estimator that needs no
    // mean. Positive-low days only (ln domain); per-day ln² terms are
    // 8dp-quantized decimals so the cross-day sum is order-free.
    "win_parkinson_vol" -> ((s, dir) => {
      val hl = dailyAgg(s, dir, max(col("value").cast(DecimalType(18, 6))).as("hi"),
        min(col("value").cast(DecimalType(18, 6))).as("lo"))
        .where(col("lo") > 0)
      val term = round(
        log(d(col("hi")) / d(col("lo"))) * log(d(col("hi")) / d(col("lo"))), 8)
        .cast(DecimalType(18, 8))
      hl.select(col("event_type"), term.as("t"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          (sum(col("t")) * 100000000).cast("long").as("tu"))
        .select(col("event_type"), col("n_days"),
          round(sqrt((d(col("tu")) / 1.0e8) /
            (lit(4.0) * d(col("n_days")) * log(lit(2.0)))), 6).as("park_vol"))
        .orderBy("event_type")
    }),

    // ---- Ljung–Box portmanteau test (lags 1..5) -------------------------
    // Q = n(n+2) Σ_{k≤5} ρ_k²/(n−k) over the ordered daily series per
    // type. Autocovariances multiply through by n²: c_k =
    // Σ (n·x_t − S)(n·x_{t+k} − S) — exact DECIMAL(38,0) products (the
    // n² factor cancels from ρ_k = c_k/c_0). The five lag terms sit in
    // ONE row, so Q is a single fixed-order double expression.
    "agg_ljung_box" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val tot = daily.groupBy(col("event_type").as("et2"))
        .agg(count(lit(1)).as("n"), sum("xc").as("sx"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val withLeads = (1 to 5).foldLeft(
          daily.join(broadcast(tot), col("event_type") === col("et2"))) {
        (df, k) => df.withColumn(s"ld$k", lead("xc", k).over(w))
      }
      val dev = withLeads.withColumn("dv",
        (col("n") * col("xc") - col("sx")).cast(DecimalType(19, 0)))
      val withDevs = (1 to 5).foldLeft(dev) { (df, k) =>
        df.withColumn(s"dv$k",
          (col("n") * col(s"ld$k") - col("sx")).cast(DecimalType(19, 0)))
      }
      val aggs = Seq(max("n").as("n"), sum(col("dv") * col("dv")).as("c0")) ++
        (1 to 5).map(k =>
          sum(when(col(s"ld$k").isNotNull, col("dv") * col(s"dv$k")))
            .as(s"c$k"))
      val g = withDevs.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      def rho2(k: Int): Column = {
        val r = d(col(s"c$k")) / d(col("c0"))
        r * r / (d(col("n")) - k)
      }
      g.select(col("event_type"), col("n").as("n_days"),
          round(d(col("n")) * (d(col("n")) + 2) *
            (rho2(1) + rho2(2) + rho2(3) + rho2(4) + rho2(5)), 6).as("q_lb"))
        .orderBy("event_type")
    }),

    // ---- local bridges (triangle-free edges) ----------------------------
    // Edges whose endpoints share NO common neighbor — the weak-tie
    // links whose removal lengthens every alternative path. One wedge
    // pass (Σ deg² bound) builds the in-a-triangle pair set; bridges
    // are the anti-join, with endpoint degrees attached.
    "graph_local_bridges" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("bridges.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val nb = e.select(col("sa").as("c"), col("sb").as("x"))
        .union(e.select(col("sb").as("c"), col("sa").as("x")))
      val deg = nb.groupBy(col("c").as("v")).agg(count(lit(1)).as("deg"))
      val wedgePairs = nb.toDF("c", "a")
        .join(nb.toDF("c2", "b"), col("c") === col("c2") && col("a") < col("b"))
        .select("a", "b").distinct()
      e.join(wedgePairs,
          e("sa") === wedgePairs("a") && e("sb") === wedgePairs("b"),
          "left_anti")
        .join(deg.toDF("va", "deg_a"), col("sa") === col("va"))
        .join(deg.toDF("vb", "deg_b"), col("sb") === col("vb"))
        .select(col("sa"), col("sb"), col("deg_a"), col("deg_b"))
        .orderBy("sa", "sb")
    }),

    // ---- Ulcer index ----------------------------------------------------
    // √(mean drawdown²) over the daily series per type: drawdown% from
    // the running max (positive-max days), per-day dd² 8dp-quantized so
    // the mean is an order-free decimal sum.
    "win_ulcer_index" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = dailyCenti(s, dir)
        .withColumn("mx", max("xc").over(w))
        .where(col("mx") > 0)
        .withColumn("ddp",
          lit(100.0) * (d(col("mx")) - d(col("xc"))) / d(col("mx")))
        .withColumn("t", round(col("ddp") * col("ddp"), 8)
          .cast(DecimalType(28, 8)))
      dd.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          (sum(col("t")) * 100000000).cast("long").as("tu"))
        .select(col("event_type"), col("n_days"),
          round(sqrt((d(col("tu")) / 1.0e8) / d(col("n_days"))), 6)
            .as("ulcer"))
        .orderBy("event_type")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "win_parkinson_vol" -> """
      |WITH hl AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    max(CAST(value AS DECIMAL(18,6))) AS hi,
      |    min(CAST(value AS DECIMAL(18,6))) AS lo
      |  FROM events GROUP BY 1, 2),
      |f AS (SELECT event_type,
      |    CAST(round(ln(CAST(hi AS DOUBLE) / CAST(lo AS DOUBLE))
      |      * ln(CAST(hi AS DOUBLE) / CAST(lo AS DOUBLE)), 8)
      |      AS DECIMAL(18,8)) AS t
      |  FROM hl WHERE lo > 0)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  round(sqrt((CAST(CAST(sum(t) * 100000000 AS BIGINT) AS DOUBLE) / 1e8)
      |    / (4.0 * CAST(count(*) AS DOUBLE) * ln(2.0))), 6) AS park_vol
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_ljung_box" -> s"""
      |WITH $dailyCentiSql,
      |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(xc) AS BIGINT) AS sx FROM daily GROUP BY event_type),
      |ld AS (SELECT daily.event_type, day, xc, n, sx,
      |    lead(xc, 1) OVER w AS ld1, lead(xc, 2) OVER w AS ld2,
      |    lead(xc, 3) OVER w AS ld3, lead(xc, 4) OVER w AS ld4,
      |    lead(xc, 5) OVER w AS ld5
      |  FROM daily JOIN tot USING (event_type)
      |  WINDOW w AS (PARTITION BY daily.event_type ORDER BY day)),
      |dv AS (SELECT event_type, n,
      |    CAST(n * xc - sx AS DECIMAL(19,0)) AS dv,
      |    CAST(n * ld1 - sx AS DECIMAL(19,0)) AS dv1,
      |    CAST(n * ld2 - sx AS DECIMAL(19,0)) AS dv2,
      |    CAST(n * ld3 - sx AS DECIMAL(19,0)) AS dv3,
      |    CAST(n * ld4 - sx AS DECIMAL(19,0)) AS dv4,
      |    CAST(n * ld5 - sx AS DECIMAL(19,0)) AS dv5
      |  FROM ld),
      |g AS (SELECT event_type, max(n) AS n, sum(dv * dv) AS c0,
      |    sum(dv * dv1) AS c1, sum(dv * dv2) AS c2, sum(dv * dv3) AS c3,
      |    sum(dv * dv4) AS c4, sum(dv * dv5) AS c5
      |  FROM dv GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2) * (
      |    (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
      |      * (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
      |    + (CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE))
      |      * (CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE)) / (CAST(n AS DOUBLE) - 2)
      |    + (CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE))
      |      * (CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE)) / (CAST(n AS DOUBLE) - 3)
      |    + (CAST(c4 AS DOUBLE) / CAST(c0 AS DOUBLE))
      |      * (CAST(c4 AS DOUBLE) / CAST(c0 AS DOUBLE)) / (CAST(n AS DOUBLE) - 4)
      |    + (CAST(c5 AS DOUBLE) / CAST(c0 AS DOUBLE))
      |      * (CAST(c5 AS DOUBLE) / CAST(c0 AS DOUBLE)) / (CAST(n AS DOUBLE) - 5)
      |  ), 6) AS q_lb
      |FROM g ORDER BY event_type""".stripMargin,

    "graph_local_bridges" -> ("WITH " + GraphStatsQueries.edgesSql +
      """,
        |nb AS (SELECT sa AS c, sb AS x FROM e
        |       UNION ALL SELECT sb AS c, sa AS x FROM e),
        |deg AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS deg
        |  FROM nb GROUP BY c),
        |wp AS (SELECT DISTINCT a.x AS a, b.x AS b
        |  FROM nb a JOIN nb b ON a.c = b.c AND a.x < b.x),
        |br AS (SELECT e.sa, e.sb FROM e
        |  LEFT JOIN wp ON e.sa = wp.a AND e.sb = wp.b WHERE wp.a IS NULL)
        |SELECT br.sa, br.sb, da.deg AS deg_a, db.deg AS deg_b
        |FROM br JOIN deg da ON br.sa = da.v JOIN deg db ON br.sb = db.v
        |ORDER BY br.sa, br.sb""".stripMargin),

    "win_ulcer_index" -> s"""
      |WITH $dailyCentiSql,
      |m AS (SELECT event_type, day, xc,
      |    CAST(max(xc) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
      |      AS mx
      |  FROM daily),
      |f AS (SELECT event_type,
      |    CAST(round((100.0 * (CAST(mx AS DOUBLE) - CAST(xc AS DOUBLE))
      |        / CAST(mx AS DOUBLE))
      |      * (100.0 * (CAST(mx AS DOUBLE) - CAST(xc AS DOUBLE))
      |        / CAST(mx AS DOUBLE)), 8) AS DECIMAL(28,8)) AS t
      |  FROM m WHERE mx > 0)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  round(sqrt((CAST(CAST(sum(t) * 100000000 AS BIGINT) AS DOUBLE) / 1e8)
      |    / CAST(count(*) AS DOUBLE)), 6) AS ulcer
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin)
}
