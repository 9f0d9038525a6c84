package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 sixth wave: Shapley touch attribution (reach-game closed
  * form), MAD-based anomaly flags on the daily series, Chapman
  * capture–recapture population estimation from two hash samples, and
  * Bollinger bands with an exact integer breach predicate.
  *
  * Determinism note shared by all four: every threshold compare and
  * every chained rounding here runs in EXACT INTEGER arithmetic
  * (micro/centi-unit longs, LCM credits), never on decimal→double
  * casts — the two 1-ulp cross-engine cast/round traps that bit
  * `llm_ngram_firstseen` (CHANGES_r7 §15) are structurally
  * unreachable. Doubles appear only as a final single division of
  * identical exact integers.
  */
object Round7fQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Shapley touch attribution ----------------------------------------
    // Channel credit under the reach game v(S) = |{users u : T_u ⊆ S}|:
    // a user's unit of worth arrives exactly when the last member of
    // their touch set T_u joins the coalition, so by symmetry the
    // Shapley value splits each user 1/|T_u| across their channels —
    // the game-theoretic foundation of "linear" attribution
    // (complement of join_attribution_first_touch's position rule).
    // Credits are exact 60/|T| integers (|T| ≤ 5 event types, LCM 60),
    // summed as longs; the only double is one final /60.0 of identical
    // exact integers. Two keyed shuffles, both map-side combinable.
    "agg_attribution_shapley" -> ((s, dir) => {
      val touch = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val credit = touch
        .withColumn("tsize",
          count(lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("cr", expr("60 div tsize"))
      credit.groupBy("event_type")
        .agg(count(lit(1)).as("n_touched"), sum(col("cr")).as("crs"))
        .select(col("event_type"), col("n_touched"),
          (d(col("crs")) / 60.0).as("shapley_users"))
        .orderBy("event_type")
    }),

    // ---- MAD anomaly flags ------------------------------------------------
    // Robust outlier days per event type: |x − median| > 3·MAD, the
    // breakdown-resistant complement of z-score rules (win_mad_outliers
    // runs a ROLLING window MAD; this is the series-global version the
    // changepoint/decomposition family reads). Both medians are exact
    // discrete selections on micro-unit longs carrying a 2× (median)
    // and 4× (MAD) scale factor, so the flag predicate
    // 2·dev2 > 3·mad4 is pure int64 — no float compare anywhere.
    "win_anomaly_mad" -> ((s, dir) => {
      val base = dailyMicro(s, dir)
      val wp = Window.partitionBy("event_type")
      def twoMiddles(df: org.apache.spark.sql.DataFrame, v: String,
          outCol: String): org.apache.spark.sql.DataFrame = {
        val sel = df
          .withColumn("rn", row_number().over(wp.orderBy(col(v), col("day"))))
          .withColumn("np", count(lit(1)).over(wp))
          .where(col("rn") === expr("(np + 1) div 2") ||
            col("rn") === expr("np div 2 + 1"))
        sel.groupBy(col("event_type").as("k"))
          .agg(sum(col(v)).as("s"), count(lit(1)).as("c"))
          .select(col("k"),
            when(col("c") === 1, col("s") * 2).otherwise(col("s")).as(outCol))
      }
      val med = twoMiddles(base, "xu", "med2")
      val dev = base.join(broadcast(med), col("event_type") === col("k"))
        .withColumn("dev2", abs(col("xu") * 2 - col("med2")))
        .drop("k")
      val mad = twoMiddles(dev, "dev2", "mad4")
      dev.join(broadcast(mad), col("event_type") === col("k"))
        .select(col("event_type"), col("day"),
          (d(col("xu")) / 1000000.0).as("spend"),
          (d(col("med2")) / 2000000.0).as("med"),
          (d(col("mad4")) / 4000000.0).as("mad"),
          (col("dev2") * 2 > col("mad4") * 3).as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // ---- Chapman capture–recapture ----------------------------------------
    // Distinct-user population per event type estimated from two
    // deterministic 30% EVENT samples (md5 of salt:event_id — a user is
    // "captured" by a sample if any of their events lands in it):
    // Chapman's N̂ = (n1+1)(n2+1)/(m+1) − 1 with its standard SE — the
    // overlap-based estimator used when a full distinct count is
    // infeasible (two independent log streams). One (user, type)
    // aggregate + one per-type roll-up; products run in fixed-order
    // double arithmetic on exact integer captures (int64-safe at any
    // SF).
    "agg_capture_recapture" -> ((s, dir) => {
      def inSample(salt: String): Column =
        max(when(hash60(concat(lit(salt),
          col("event_id").cast("string"))) % 10 < 3, 1L).otherwise(0L))
      val cap = Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(inSample("cr1:").as("in1"), inSample("cr2:").as("in2"))
      val agg = cap.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"),
          sum(col("in1")).as("n1"), sum(col("in2")).as("n2"),
          sum(col("in1") * col("in2")).as("m"))
      val chapman = d(col("n1") + 1) * d(col("n2") + 1) / d(col("m") + 1) - 1.0
      val se = sqrt(d(col("n1") + 1) * d(col("n2") + 1) *
        d(col("n1") - col("m")) * d(col("n2") - col("m")) /
        (d(col("m") + 1) * d(col("m") + 1) * d(col("m") + 2)))
      agg.select(col("event_type"), col("n_users"), col("n1"), col("n2"),
          col("m"), round(chapman, 4).as("n_hat"), round(se, 4).as("se_hat"))
        .orderBy("event_type")
    }),

    // ---- Bollinger bands --------------------------------------------------
    // 7-day centered mean ± 2σ bands over daily spend per event type,
    // with breach flags. Daily sums are quantized to CENTI-units so the
    // window's Σx² stays inside int64 (≈2.5e19 at sf100 is the
    // documented bound; micro-units would overflow at sf0.1) — which
    // makes the breach predicate (n−1)·(n·x − Σx)² > 4n·(n·Σx² − Σx²)
    // pure integer arithmetic, immune to the decimal→double cast trap.
    // RANGE frame on day, so calendar gaps cannot misalign the window;
    // bands only where the full 7-day neighborhood exists.
    "win_bollinger_bands" -> ((s, dir) => {
      val base = dailyCenti(s, dir)
      val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-3, 3)
      val t = base
        .withColumn("n7", count(lit(1)).over(w))
        .withColumn("sx", sum("xc").over(w))
        .withColumn("sxx", sum(col("xc") * col("xc")).over(w))
        .where(col("n7") === 7)
      val mean = d(col("sx")) / 700.0
      val sd = sqrt(d(col("sxx") * 7 - col("sx") * col("sx")) / 42.0) / 100.0
      t.select(col("event_type"), col("day"),
          (d(col("xc")) / 100.0).as("spend"),
          mean.as("ma7"),
          (mean - lit(2.0) * sd).as("band_lo"),
          (mean + lit(2.0) * sd).as("band_hi"),
          (lit(6L) * (col("xc") * 7 - col("sx")) * (col("xc") * 7 - col("sx")) >
            lit(28L) * (col("sxx") * 7 - col("sx") * col("sx")))
            .as("is_breach"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_attribution_shapley" -> """
      |WITH touch AS (SELECT DISTINCT user_id, event_type FROM events),
      |credit AS (SELECT event_type,
      |    60 // (count(*) OVER (PARTITION BY user_id)) AS cr
      |  FROM touch)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_touched,
      |  CAST(sum(cr) AS DOUBLE) / 60.0 AS shapley_users
      |FROM credit GROUP BY event_type ORDER BY event_type""".stripMargin,

    "win_anomaly_mad" -> s"""
      |WITH $dailyMicroSql,
      |ms AS (SELECT event_type, xu,
      |    row_number() OVER (PARTITION BY event_type ORDER BY xu, day) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS np
      |  FROM daily),
      |med AS (SELECT event_type AS k,
      |    CASE WHEN count(*) = 1 THEN sum(xu) * 2 ELSE sum(xu) END AS med2
      |  FROM ms WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
      |  GROUP BY event_type),
      |dev AS (SELECT d.event_type, d.day, d.xu, med2,
      |    abs(d.xu * 2 - med2) AS dev2
      |  FROM daily d JOIN med ON d.event_type = med.k),
      |ds AS (SELECT event_type, dev2,
      |    row_number() OVER (PARTITION BY event_type ORDER BY dev2, day) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS np
      |  FROM dev),
      |mad AS (SELECT event_type AS k,
      |    CASE WHEN count(*) = 1 THEN sum(dev2) * 2 ELSE sum(dev2) END AS mad4
      |  FROM ds WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
      |  GROUP BY event_type)
      |SELECT dev.event_type, day,
      |  CAST(xu AS DOUBLE) / 1000000.0 AS spend,
      |  CAST(med2 AS DOUBLE) / 2000000.0 AS med,
      |  CAST(mad4 AS DOUBLE) / 4000000.0 AS mad,
      |  dev2 * 2 > mad4 * 3 AS is_anomaly
      |FROM dev JOIN mad ON dev.event_type = mad.k
      |ORDER BY event_type, day""".stripMargin,

    "agg_capture_recapture" -> """
      |WITH cap AS (SELECT user_id, event_type,
      |    max(CASE WHEN ('0x' || substr(md5('cr1:' || CAST(event_id AS VARCHAR)),
      |        1, 15))::BIGINT % 10 < 3 THEN 1 ELSE 0 END) AS in1,
      |    max(CASE WHEN ('0x' || substr(md5('cr2:' || CAST(event_id AS VARCHAR)),
      |        1, 15))::BIGINT % 10 < 3 THEN 1 ELSE 0 END) AS in2
      |  FROM events GROUP BY 1, 2),
      |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(in1) AS BIGINT) AS n1, CAST(sum(in2) AS BIGINT) AS n2,
      |    CAST(sum(in1 * in2) AS BIGINT) AS m
      |  FROM cap GROUP BY 1)
      |SELECT event_type, n_users, n1, n2, m,
      |  round(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
      |    / CAST(m + 1 AS DOUBLE) - 1.0, 4) AS n_hat,
      |  round(sqrt(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
      |    * CAST(n1 - m AS DOUBLE) * CAST(n2 - m AS DOUBLE)
      |    / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)
      |      * CAST(m + 2 AS DOUBLE))), 4) AS se_hat
      |FROM ag ORDER BY event_type""".stripMargin,

    "win_bollinger_bands" -> """
      |WITH base AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
      |    CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS xc
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, day, xc,
      |    CAST(count(*) OVER w AS BIGINT) AS n7,
      |    CAST(sum(xc) OVER w AS BIGINT) AS sx,
      |    CAST(sum(xc * xc) OVER w AS BIGINT) AS sxx
      |  FROM base
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      |SELECT event_type, day,
      |  CAST(xc AS DOUBLE) / 100.0 AS spend,
      |  CAST(sx AS DOUBLE) / 700.0 AS ma7,
      |  CAST(sx AS DOUBLE) / 700.0
      |    - 2.0 * (sqrt(CAST(sxx * 7 - sx * sx AS DOUBLE) / 42.0) / 100.0)
      |    AS band_lo,
      |  CAST(sx AS DOUBLE) / 700.0
      |    + 2.0 * (sqrt(CAST(sxx * 7 - sx * sx AS DOUBLE) / 42.0) / 100.0)
      |    AS band_hi,
      |  6 * (xc * 7 - sx) * (xc * 7 - sx) > 28 * (sxx * 7 - sx * sx)
      |    AS is_breach
      |FROM t WHERE n7 = 7 ORDER BY event_type, day""".stripMargin)
}
