package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.I — generator (UDTF-surface) queries: explode / posexplode /
  * sequence densification. Spark's `Generator` expressions cover the
  * whole UDTF surface the reference exposes — no custom Generator needed.
  */
object GenQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    "gen_explode_tokens" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    }),

    "gen_posexplode" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .where(col("vec_id") < 5)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("col").as("val"))
        .orderBy("vec_id", "pos")
    }),

    // densify: every (day of Jan-2024) × event_type, zero-filled
    "gen_sequence_dates" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val days = s.range(1).select(
        explode(expr("sequence(date'2024-01-01', date'2024-01-31', interval 1 day)")).as("day"))
      val types = e.select("event_type").distinct()
      val counts = e.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      days.crossJoin(types)
        .join(counts, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("day", "event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "gen_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "gen_posexplode" ->
      """SELECT vec_id, i - 1 AS pos, embedding[i] AS val
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        |WHERE vec_id < 5 ORDER BY vec_id, pos""".stripMargin,

    "gen_sequence_dates" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)) AS DATE) AS day),
        |types AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
        |FROM days d CROSS JOIN types t
        |LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
        |ORDER BY d.day, t.event_type""".stripMargin
  )
}
