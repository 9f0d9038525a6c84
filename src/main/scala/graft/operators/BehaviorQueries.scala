package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils.{QFn, r4}
import graft.sources.Tables

/** Behavioral analytics over the event stream (round 2, batch 10):
  * cohort retention and ordered funnel conversion — the two reports
  * every product-analytics engine is ultimately asked for.
  *
  * Scale notes (100 TB):
  *  - `win_retention_cohort` is two aggregations keyed by user then by
  *    (cohort_week, weeks_since) — both corpus-linear with map-side
  *    partials; the cohort join is user-keyed and co-partitioned with
  *    the first aggregation's output.
  *  - `agg_funnel` is three user-keyed aggregations chained by joins on
  *    the SAME key — one shuffle partitioning reused across all three
  *    stages (Spark keeps the hash partitioning through the joins);
  *    output is a single summary row.
  *  - All arithmetic is timestamp/integer comparison — nothing float.
  */
object BehaviorQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- weekly cohort retention matrix ---------------------------------
    // Users bucketed by the week of their first event; for each cohort,
    // distinct active users at 0, 1, 2, ... weeks since joining.
    "win_retention_cohort" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      val cohort = ev.groupBy("user_id").agg(min("w").as("cw"))
      ev.join(cohort, "user_id")
        .select(col("user_id"), to_date(col("cw")).as("cohort_week"),
          (datediff(col("w"), col("cw")) / 7).cast("long").as("weeks_since"))
        .groupBy("cohort_week", "weeks_since")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "weeks_since")
    }),

    // ---- per-user value trend (high-cardinality grouped regression) -----
    // regr_slope of event value on elapsed HOURS since each user's
    // first event — the per-entity drift detector. Unlike agg_regr
    // (catalog-bounded keys) this groups on a key that grows with the
    // data: the single partial/final aggregation shuffle is the whole
    // plan, exactly the shape that scales by adding executors. Elapsed
    // hours (double division of exact integer micros) keeps the x-range
    // small so the slope is numerically tame; r4 absorbs summation-
    // order ulps per the stats convention.
    "agg_regr_per_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // raw long nanos, NOT unix_micros(cast(ts as timestamp)): that
      // cast routes ntz→ltz through the session timezone, so a session
      // without UTC (or events straddling a DST transition) would shift
      // h and diverge from the tz-free oracle. Integer nanos never
      // touch a timezone on either engine.
      val ev = Tables.eventsRawNanos(s, dir)
        .select(col("user_id"), col("value"), col("ts").as("tns"))
      val w = Window.partitionBy("user_id")
      ev.withColumn("t0", min("tns").over(w))
        .select(col("user_id"), col("value"),
          ((col("tns") - col("t0")) / 3.6e12).as("h"))
        .groupBy("user_id")
        .agg(
          r4(regr_slope(col("value"), col("h"))).as("slope_per_hour"),
          regr_count(col("value"), col("h")).as("n"))
        .where(col("n") >= 3)
        .orderBy("user_id")
    }),

    // ---- ordered funnel conversion --------------------------------------
    // Strict event-order funnel view → click → purchase: a user counts
    // for a stage only if that event happened strictly AFTER the user's
    // previous stage event (first-occurrence semantics at each stage).
    "agg_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.where(col("event_type") === "click").join(s1, "user_id")
        .where(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.where(col("event_type") === "purchase").join(s2, "user_id")
        .where(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val n1 = s1.agg(count(lit(1)).as("n_view"))
      val n2 = s2.agg(count(lit(1)).as("n_click_after_view"))
      val n3 = s3.agg(count(lit(1)).as("n_purchase_after_click"))
      n1.crossJoin(n2).crossJoin(n3)
        .select(col("n_view"), col("n_click_after_view"),
          col("n_purchase_after_click"),
          round(col("n_click_after_view").cast("double") / col("n_view"), 4)
            .as("view_to_click"),
          round(col("n_purchase_after_click").cast("double") /
            col("n_click_after_view"), 4).as("click_to_purchase"))
    })
  )

  val oracles: Map[String, String] = Map(

    "win_retention_cohort" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
        |cohort AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY user_id)
        |SELECT CAST(cw AS DATE) AS cohort_week,
        |  CAST(datediff('day', cw, w) / 7 AS BIGINT) AS weeks_since,
        |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
        |FROM ev JOIN cohort ON ev.user_id = cohort.user_id
        |GROUP BY cohort_week, weeks_since
        |ORDER BY cohort_week, weeks_since""".stripMargin,

    "agg_regr_per_user" ->
      """WITH ev AS (SELECT user_id, value, epoch_ns(ts) AS tns FROM events),
        |t AS (SELECT user_id, value,
        |    (tns - min(tns) OVER (PARTITION BY user_id)) / 3.6e12 AS h
        |  FROM ev)
        |SELECT user_id, round(regr_slope(value, h), 4) AS slope_per_hour,
        |  CAST(regr_count(value, h) AS BIGINT) AS n
        |FROM t GROUP BY user_id HAVING regr_count(value, h) >= 3
        |ORDER BY user_id""".stripMargin,

    // ev truncates ts to microseconds: Spark's Tables.events recovers
    // ts via `div 1000` (floor to us) while DuckDB reads the parquet
    // natively at ns — comparing at ns would let a click in the same
    // microsecond as the view (but later by ns) pass on one engine only
    "agg_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    date_trunc('microsecond', ts) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM ev e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_view,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click_after_view,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase_after_click,
        |  round((SELECT count(*) FROM s2) * 1.0 / (SELECT count(*) FROM s1), 4)
        |    AS view_to_click,
        |  round((SELECT count(*) FROM s3) * 1.0 / (SELECT count(*) FROM s2), 4)
        |    AS click_to_purchase""".stripMargin
  )
}
