package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 nineteenth wave: behavioral sequence analytics beside
  * funnel / markov / sessionize / retention — 3-step journey paths,
  * the inter-event gap spectrum, entry→exit page pairs and the
  * session-size distribution.
  *
  * Determinism: sequences order by the (ts, event_id) per-user total
  * order (every window user-partitioned — shuffles scale with users,
  * never a global sort); gaps are exact integer micro→second floors;
  * log2 buckets use the length(bin(n)) idiom (no float log); every
  * share/mean is one exact integer division.
  */
object Round8sQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- top 3-step journey paths ---------------------------------------
    // Consecutive event-type triples per user (two lags under the
    // per-user total order), counted corpus-wide, top-20 by the exact
    // (n desc, path) key — agg_markov_transitions' 3-gram extension;
    // the path space is catalog-bounded (k³).
    "agg_user_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("t3"),
          lag(col("event_type"), 1).over(w).as("t2"),
          lag(col("event_type"), 2).over(w).as("t1"))
        .where(col("t1").isNotNull)
        .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    // ---- inter-event gap spectrum -----------------------------------------
    // Power-of-2 histogram of the seconds between a user's consecutive
    // events, keyed by the LATER event's type (does a purchase follow
    // fast or slow?): gap bucket = ⌊log2(gap+1)⌋ via the exact
    // length(bin(n))−1 idiom; shares are integer ratios per type.
    "agg_gap_dist" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("tus").asc, col("event_id").asc)
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
        .withColumn("ptus", lag("tus", 1).over(w))
        .where(col("ptus").isNotNull)
        .withColumn("gap", expr("(tus - ptus) div 1000000"))
        .withColumn("bucket", (length(bin(col("gap") + 1)) - 1).cast("long"))
      val tot = gaps.groupBy(col("event_type").as("et2"))
        .agg(count(lit(1)).as("ng"))
      gaps.groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
        .join(broadcast(tot), col("event_type") === col("et2"))
        .select(col("event_type"), col("bucket"), col("n"),
          round(d(col("n")) / d(col("ng")), 6).as("share"))
        .orderBy("event_type", "bucket")
    }),

    // ---- entry → exit type pairs ----------------------------------------------
    // Each user's first and last event type under the per-user total
    // order, counted over the k² pair grid with the share of users —
    // the landing/leaving report. One user-keyed window pass, one
    // catalog-bounded aggregate.
    "agg_entry_exit" -> ((s, dir) => {
      val wAsc = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wDesc = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val firstLast = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          row_number().over(wAsc).as("ra"),
          row_number().over(wDesc).as("rd"))
        .groupBy("user_id")
        .agg(max(when(col("ra") === 1, col("event_type"))).as("entry"),
          max(when(col("rd") === 1, col("event_type"))).as("exit"))
      val tot = firstLast.agg(count(lit(1)).as("nu"))
      firstLast.groupBy("entry", "exit").agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(tot))
        .select(col("entry"), col("exit"), col("n_users"),
          round(d(col("n_users")) / d(col("nu")), 6).as("share"))
        .orderBy("entry", "exit")
    }),

    // ---- session-size distribution -----------------------------------------------
    // Sessions from the win_sessionize islands (>30 min silence starts
    // one); per session the event count and duration, rolled into a
    // size histogram (1,2,3,4,5+) with the share of sessions and the
    // exact mean duration per size class — the engagement-depth
    // report. Integer ledgers to single divisions.
    "agg_session_dist" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("tus").asc, col("event_id").asc)
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
      val sess = ev
        .withColumn("ptus", lag("tus", 1).over(w))
        .withColumn("newf", when(col("ptus").isNull ||
          col("tus") - col("ptus") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sid", sum("newf").over(wc))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          expr("(max(tus) - min(tus)) div 1000000").as("dur_s"))
      val tot = sess.agg(count(lit(1)).as("ns"))
      sess.withColumn("bucket", least(col("n_events"), lit(5L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_sessions"), sum("dur_s").as("sd"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_sessions"),
          round(d(col("n_sessions")) / d(col("ns")), 6).as("share"),
          round(d(col("sd")) / d(col("n_sessions")), 4).as("mean_dur_s"))
        .orderBy("bucket")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_user_paths" -> """
      |WITH seq AS (SELECT event_type AS t3,
      |    lag(event_type, 1) OVER w AS t2,
      |    lag(event_type, 2) OVER w AS t1
      |  FROM events WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts, event_id))
      |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
      |FROM seq WHERE t1 IS NOT NULL
      |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,

    "agg_gap_dist" -> """
      |WITH g AS (SELECT event_type,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap
      |  FROM events),
      |b AS (SELECT event_type,
      |    CAST(length(bin(gap + 1)) - 1 AS BIGINT) AS bucket
      |  FROM g WHERE gap IS NOT NULL),
      |tot AS (SELECT event_type AS et2, CAST(count(*) AS BIGINT) AS ng
      |  FROM b GROUP BY 1)
      |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(count(*) AS DOUBLE) / CAST(max(ng) AS DOUBLE), 6)
      |    AS share
      |FROM b JOIN tot ON event_type = et2
      |GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin,

    "agg_entry_exit" -> """
      |WITH fl AS (SELECT user_id,
      |    max(CASE WHEN ra = 1 THEN event_type END) AS entry,
      |    max(CASE WHEN rd = 1 THEN event_type END) AS exit
      |  FROM (SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS ra,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rd
      |    FROM events) x
      |  GROUP BY user_id),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM fl)
      |SELECT entry, exit, CAST(count(*) AS BIGINT) AS n_users,
      |  round(CAST(count(*) AS DOUBLE)
      |    / (SELECT CAST(nu AS DOUBLE) FROM tot), 6) AS share
      |FROM fl GROUP BY entry, exit ORDER BY entry, exit""".stripMargin,

    "agg_session_dist" -> """
      |WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus
      |  FROM events),
      |f AS (SELECT user_id, event_id, tus,
      |    CASE WHEN lag(tus) OVER w IS NULL
      |           OR tus - lag(tus) OVER w > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS newf
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |sid AS (SELECT user_id, tus,
      |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS sid
      |  FROM f),
      |sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
      |    (max(tus) - min(tus)) // 1000000 AS dur_s
      |  FROM sid GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sess)
      |SELECT least(n_events, 5) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_sessions,
      |  round(CAST(count(*) AS DOUBLE)
      |    / (SELECT CAST(ns AS DOUBLE) FROM tot), 6) AS share,
      |  round(CAST(sum(dur_s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
      |    AS mean_dur_s
      |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin)
}
