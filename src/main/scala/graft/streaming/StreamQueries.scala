package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.J — streaming semantics, batch-checkable over the `events` log.
  *
  * These four queries pin the *semantics* (tumbling / sliding / session
  * windows, keyed dedup) as deterministic batch plans the DuckDB oracle
  * can replay; genuine Structured Streaming execution of the same shapes
  * (watermarks, late data, stateful dedup) lives in the streaming test
  * suite, which drives MemoryStream epochs through `window`,
  * `session_window` and `dropDuplicatesWithinWatermark`.
  */
object StreamQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    "stream_tumbling" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("ws", "event_type")
    }),

    "stream_sliding" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"))
        .orderBy("ws", "event_type")
    }),

    // 30-min-gap sessionization via lag/gap-and-island — deterministic,
    // and the exact batch equivalent of session_window semantics
    "stream_session" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("eus", expr("unix_micros(cast(ts as timestamp))"))
      val w = Window.partitionBy("user_id").orderBy("eus", "event_id")
      e.withColumn("prev", lag("eus", 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("eus") - col("prev") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("eus").as("start_us"), max("eus").as("end_us"))
        .withColumn("dur_us", col("end_us") - col("start_us"))
        .orderBy("user_id", "session_id")
    }),

    // keyed exact dedup keeping the minimum event_id — deterministic,
    // unlike dropDuplicates (which keeps an arbitrary row)
    "stream_dedup" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id", "event_type", "value")
        .agg(min("event_id").as("keep_event_id"), count(lit(1)).as("n_dups"))
        .orderBy("user_id", "event_type", "value")
    })
  )

  val oracles: Map[String, String] = Map(
    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "stream_sliding" ->
      """SELECT make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000) AS ws,
        |  event_type, count(*) AS n
        |FROM events CROSS JOIN unnest([0, 1, 2, 3]) AS t(k)
        |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "stream_session" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(date_trunc('microsecond', ts)) AS eus,
        |    lag(epoch_us(date_trunc('microsecond', ts))) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(date_trunc('microsecond', ts)), event_id) AS prev
        |  FROM events),
        |y AS (
        |  SELECT user_id, event_id, eus,
        |    CASE WHEN prev IS NULL OR eus - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT user_id, eus,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY eus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM y)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(eus) AS start_us, max(eus) AS end_us,
        |  max(eus) - min(eus) AS dur_us
        |FROM z GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "stream_dedup" ->
      """SELECT user_id, event_type, value,
        |  min(event_id) AS keep_event_id, count(*) AS n_dups
        |FROM events GROUP BY user_id, event_type, value
        |ORDER BY user_id, event_type, value""".stripMargin
  )
}
