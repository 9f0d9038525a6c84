package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N (r6, fifth wave) — deterministic differential-privacy count
  * release, one-way ANOVA, a CUSUM control chart via the prefix-sum
  * identity, and the stream-stream interval join shape
  * (batch-checked); the batch's embedding per-dimension variance audit
  * lives in [[AnnQueries]].
  *
  * Determinism (§7.2): the DP noise is an md5-seeded inverse-CDF
  * Laplace draw (identical integer→double chain on both engines);
  * ANOVA/variance moments are exact decimal/integer sums with
  * 8dp-rounded decimal-summed per-group terms and 6dp closed forms;
  * CUSUM stays in exact decimal end to end (the reset recursion
  * S_t = max(0, S_{t-1}+y_t) is rewritten as C_t − min(0, min_{s≤t}
  * C_s), all window aggregates over DECIMAL so segment-tree vs
  * sequential evaluation order cannot matter).
  */
object Round6eQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- differential-privacy count release -----------------------------
    // Per-source doc counts with Laplace(1/ε) noise, ε = 1 — the
    // NOISE MECHANICS of a DP count release, exercised as a parity
    // benchmark. NOT an actual private release: the draw is a
    // deterministic function of the PUBLIC group key (so the oracle
    // can replay it — u ∈ (0,1) from the shared md5 hash60 idiom,
    // noise = −sign(u−½)·ln(1−2|u−½|), the inverse CDF of
    // Laplace(b=1)), and the exact n_docs is co-emitted in the same
    // row; a real release seeds from a secret and withholds the true
    // count. Map-only + a 20-key shuffle; the noise chain is a
    // fixed-order double expression identical in DuckDB.
    "llm_dp_count" -> ((s, dir) => {
      val u = (hash60(col("source")) % 1000000).cast(DoubleType)
        .plus(lit(0.5)).divide(lit(1000000.0))
      val noise = -signum(u - lit(0.5)) * log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
      Tables.documents(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          round(col("n_docs") + noise, 6).as("dp_count"))
        .orderBy("source")
    }),

    // ---- one-way ANOVA ---------------------------------------------------
    // Parametric complement of agg_mannwhitney: does mean event value
    // differ across the 5 event types? SSB/SSW from exact moments:
    // per-group Σv, Σv² in decimal (operands re-capped at 19,6 in the
    // oracle so squares stay exact — the CUPED lesson), the per-group
    // s²/n terms 8dp-rounded then decimal-summed, F = (SSB/(k−1)) /
    // (SSW/(N−k)) rounded 6dp. One corpus shuffle into 5 rows.
    "agg_anova" -> ((s, dir) => {
      val v = col("value").cast(DecimalType(18, 6))
      val g = Tables.events(s, dir)
        .select(col("event_type"), v.as("v"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum("v").as("sg"),
          sum(col("v") * col("v")).as("ssg"))
      val agg = g.agg(sum("ng").as("n"), count(lit(1)).as("k"),
        sum(col("sg").cast(DecimalType(18, 6))).as("s_all"),
        sum("ssg").as("ss_raw"),
        sum(round(col("sg").cast(DoubleType) * col("sg").cast(DoubleType) /
            col("ng"), 8).cast(DecimalType(28, 8))).as("between_raw"))
      val ssb = d(col("between_raw")) - d(col("s_all")) * d(col("s_all")) / d(col("n"))
      val ssw = d(col("ss_raw")) - d(col("between_raw"))
      agg.select(col("n"), col("k"),
        round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
        round((ssb / (d(col("k")) - 1.0)) / (ssw / (d(col("n")) - d(col("k")))), 6)
          .as("f_stat"))
    }),

    // ---- CUSUM control chart ---------------------------------------------
    // Per-user upper CUSUM S_t = max(0, S_{t-1} + (v_t − k)) with the
    // allowance k = the corpus mean (rounded to an exact decimal) and
    // alarm threshold h = 5k — the drift detector behind data-quality
    // monitors. The reset recursion is NOT window-expressible directly
    // but equals C_t − min(0, min_{s≤t} C_s) over prefix sums C, so it
    // rides two user-keyed unbounded-preceding frames ENTIRELY IN
    // DECIMAL (exact under any window-evaluation order). 1-row k
    // broadcast; output one row per user.
    "win_cusum_alarm" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("ts"), col("value").cast(DecimalType(18, 6)).as("v"))
      val kRow = ev.agg(
        round(sum("v").cast(DoubleType) / count(lit(1)), 2)
          .cast(DecimalType(18, 6)).as("k"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // DuckDB's least() promotes DECIMAL arguments to DOUBLE
      // (measured: 2.8e-14 drift flipping a threshold compare at the
      // exact s = 5k boundary), so the floor-at-zero is a CASE instead,
      // and the prefix sums are re-capped at decimal(18,6) — both
      // engines stay in exact decimal end to end
      ev.crossJoin(broadcast(kRow))
        .withColumn("c",
          sum(col("v") - col("k")).over(w).cast(DecimalType(18, 6)))
        .withColumn("m", min("c").over(w))
        .withColumn("s",
          col("c") - when(col("m") < 0, col("m"))
            .otherwise(lit(0).cast(DecimalType(18, 6))))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          // max in exact decimal, then ONE cast+4dp round: DuckDB's
          // decimal→double cast is not correctly rounded (1-ulp drift
          // measured, as in agg_cuped_adjust), and round repairs it
          round(max(col("s")).cast(DoubleType), 4).as("max_cusum"),
          count_if(col("s") > col("k") * 5).as("n_alarms"))
        .orderBy("user_id")
    }),

    // ---- stream-stream interval join (batch-checked) ---------------------
    // The conversion join both Structured Streaming sides would
    // watermark: purchases within ONE HOUR after a click by the same
    // user, rolled up per click day. User-keyed equi join with the
    // interval bound inside the join condition (state per user bounded
    // by the hour window at stream time); exact decimal revenue.
    "stream_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("tc"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("tp"),
          col("value").cast(DecimalType(18, 6)).as("v"))
      c.join(p, col("cu") === col("pu") && col("tp") > col("tc") &&
          col("tp") <= col("tc") + expr("INTERVAL 1 HOUR"))
        .groupBy(to_date(col("tc")).as("click_day"))
        .agg(count(lit(1)).as("n_conversions"),
          sum("v").cast(DoubleType).as("conv_revenue"))
        .orderBy("click_day")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_dp_count" -> """
      |WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source),
      |u AS (SELECT source, n_docs,
      |    (CAST(('0x' || substr(md5(source), 1, 15))::BIGINT % 1000000
      |      AS DOUBLE) + 0.5) / 1000000.0 AS u
      |  FROM g)
      |SELECT source, n_docs,
      |  round(n_docs + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
      |    AS dp_count
      |FROM u ORDER BY source""".stripMargin,

    "agg_anova" -> """
      |WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
      |    sum(CAST(value AS DECIMAL(18,6))) AS sg,
      |    sum(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))
      |      * CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))) AS ssg
      |  FROM events GROUP BY event_type),
      |a AS (SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(sg AS DECIMAL(18,6))) AS s_all, sum(ssg) AS ss_raw,
      |    sum(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng, 8)
      |      AS DECIMAL(28,8))) AS between_raw
      |  FROM g)
      |SELECT n, k,
      |  round(CAST(between_raw AS DOUBLE)
      |    - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    AS ss_between,
      |  round(CAST(ss_raw AS DOUBLE) - CAST(between_raw AS DOUBLE), 6)
      |    AS ss_within,
      |  round(((CAST(between_raw AS DOUBLE)
      |      - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(k AS DOUBLE) - 1.0))
      |    / ((CAST(ss_raw AS DOUBLE) - CAST(between_raw AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat
      |FROM a""".stripMargin,

    "win_cusum_alarm" -> """
      |WITH ev AS (SELECT user_id, event_id, ts,
      |    CAST(value AS DECIMAL(18,6)) AS v FROM events),
      |kk AS (SELECT CAST(round(CAST(sum(v) AS DOUBLE) / count(*), 2)
      |    AS DECIMAL(18,6)) AS k FROM ev),
      |c AS (SELECT user_id, ts, event_id, k,
      |    CAST(sum(v - k) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DECIMAL(18,6)) AS c
      |  FROM ev CROSS JOIN kk),
      |m AS (SELECT user_id, k, c,
      |    min(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM c),
      |s AS (SELECT user_id, k,
      |    c - (CASE WHEN m < 0 THEN m ELSE CAST(0 AS DECIMAL(18,6)) END) AS s
      |  FROM m)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  round(CAST(max(s) AS DOUBLE), 4) AS max_cusum,
      |  CAST(count(*) FILTER (s > k * 5) AS BIGINT) AS n_alarms
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_interval_join" -> """
      |WITH c AS (SELECT user_id AS cu, ts AS tc FROM events
      |  WHERE event_type = 'click'),
      |p AS (SELECT user_id AS pu, ts AS tp,
      |    CAST(value AS DECIMAL(18,6)) AS v FROM events
      |  WHERE event_type = 'purchase')
      |SELECT CAST(tc AS DATE) AS click_day,
      |  CAST(count(*) AS BIGINT) AS n_conversions,
      |  CAST(sum(v) AS DOUBLE) AS conv_revenue
      |FROM c JOIN p ON cu = pu AND tp > tc AND tp <= tc + INTERVAL 1 HOUR
      |GROUP BY click_day ORDER BY click_day""".stripMargin
  )
}
