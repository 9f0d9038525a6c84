package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 twelfth wave: supplier h-index, calendar-gap audit,
  * largest-remainder (Hamilton) apportionment and the chandelier-exit
  * trailing stop.
  *
  * Determinism: everything is integer — the h-index is a rank-vs-count
  * compare, gaps are day arithmetic, Hamilton seats split into integer
  * floor quotas plus remainder-ranked top-ups (ties broken by nation
  * key), and the chandelier stops are rolling integer extremes minus a
  * half-up integer ATR multiple.
  */
object Round9lQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- supplier h-index ------------------------------------------------------
    // Max h such that the supplier has h parts each appearing in ≥ h
    // lineitems — the portfolio-depth number (breadth alone is
    // n_parts, volume alone is Σcnt; h needs both). One (supp, part)
    // shuffle, one supplier-partitioned rank.
    "agg_h_index" -> ((s, dir) => {
      val cnt = Tables.lineitem(s, dir)
        .groupBy("l_suppkey", "l_partkey")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("cnt").desc, col("l_partkey").asc)
      cnt.withColumn("rn", row_number().over(w).cast("long"))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_parts"),
          count_if(col("cnt") >= col("rn")).as("h_index"))
        .select(col("l_suppkey").as("s_suppkey"), col("n_parts"),
          col("h_index"))
        .orderBy("s_suppkey")
    }),

    // ---- calendar-gap audit -----------------------------------------------------
    // Per event type: active-day span, missing days inside it and the
    // longest consecutive missing run — the ingest-completeness check.
    // Pure integer day arithmetic.
    "agg_calendar_gaps" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy("event_type").orderBy("day")
      days.withColumn("gap", col("day") - lag("day", 1).over(w) - 1)
        .groupBy("event_type")
        .agg(min("day").as("first_day"), max("day").as("last_day"),
          count(lit(1)).as("days_present"),
          coalesce(max("gap"), lit(0L)).as("max_gap"))
        .select(col("event_type"), col("first_day"), col("last_day"),
          col("days_present"),
          (col("last_day") - col("first_day") + 1 - col("days_present"))
            .as("days_missing"),
          col("max_gap"))
        .orderBy("event_type")
    }),

    // ---- largest-remainder apportionment ------------------------------------------
    // 1000 budget units across nations proportional to customer
    // revenue, Hamilton method: integer floor quotas from exact centi
    // revenue, then the leftover units go to the largest integer
    // remainders (ties by nation key). Σ seats = 1000 by construction.
    "agg_apportionment" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_nationkey", "n_name")
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("revc"))
      val tot = rev.agg(sum("revc").as("t"))
      val q = rev.crossJoin(broadcast(tot))
        .withColumn("num", col("revc").cast(DecimalType(38, 0)) * 1000)
        .withColumn("fl", expr("CAST(num div t AS LONG)"))
        .withColumn("rem", expr("CAST(num % t AS DECIMAL(38,0))"))
      val wAll = Window.partitionBy()
      val wr = Window.orderBy(col("rem").desc, col("n_nationkey").asc)
      q.withColumn("leftover", lit(1000L) - sum("fl").over(wAll))
        .withColumn("rr", row_number().over(wr).cast("long"))
        .select(col("n_name").as("nation"),
          (d(col("revc")) / 100.0).as("revenue"), col("fl").as("floor_units"),
          (col("fl") + when(col("rr") <= col("leftover"), 1L)
            .otherwise(0L)).as("units"))
        .orderBy("nation")
    }),

    // ---- chandelier exit --------------------------------------------------------
    // ATR-based trailing stops: long = HH22 − 3·ATR22, short = LL22 +
    // 3·ATR22 per event type — rolling integer extremes, half-up
    // integer ATR, exact centi until /100.0.
    "win_chandelier_exit" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val w22 = w.rowsBetween(-21, Window.currentRow)
      dailyBars(s, dir)
        .withColumn("pc", lag("cc", 1).over(w))
        .withColumn("tr", greatest(col("hc") - col("lc"),
          abs(col("hc") - col("pc")), abs(col("lc") - col("pc"))))
        .withColumn("rn", row_number().over(w))
        .withColumn("hh", max("hc").over(w22))
        .withColumn("ll", min("lc").over(w22))
        .withColumn("str", sum("tr").over(w22))
        .where(col("rn") >= 23)
        .withColumn("atr", expr("(2 * str + 22) div 44"))
        .select(col("event_type"), col("day"),
          (d(col("hh")) / 100.0).as("hh22"),
          (d(col("ll")) / 100.0).as("ll22"),
          (d(col("hh") - lit(3) * col("atr")) / 100.0).as("long_stop"),
          (d(col("ll") + lit(3) * col("atr")) / 100.0).as("short_stop"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_h_index" -> """
      |WITH cnt AS (SELECT l_suppkey, l_partkey,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT l_suppkey, cnt,
      |    CAST(row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY cnt DESC, l_partkey) AS BIGINT) AS rn
      |  FROM cnt)
      |SELECT l_suppkey AS s_suppkey, CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(count(*) FILTER (cnt >= rn) AS BIGINT) AS h_index
      |FROM r GROUP BY 1 ORDER BY s_suppkey""".stripMargin,

    "agg_calendar_gaps" -> """
      |WITH days AS (SELECT DISTINCT event_type,
      |    CAST(day(ts) AS BIGINT) AS day
      |  FROM events),
      |g AS (SELECT event_type, day,
      |    day - lag(day, 1) OVER (PARTITION BY event_type ORDER BY day)
      |      - 1 AS gap
      |  FROM days)
      |SELECT event_type, min(day) AS first_day, max(day) AS last_day,
      |  CAST(count(*) AS BIGINT) AS days_present,
      |  max(day) - min(day) + 1 - CAST(count(*) AS BIGINT)
      |    AS days_missing,
      |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_apportionment" -> """
      |WITH rev AS (SELECT n.n_nationkey, n.n_name,
      |    CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS revc
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(revc) AS HUGEINT) AS t FROM rev),
      |q AS (SELECT n_nationkey, n_name, revc,
      |    CAST(CAST(revc AS HUGEINT) * 1000 // (SELECT t FROM t)
      |      AS BIGINT) AS fl,
      |    CAST(revc AS HUGEINT) * 1000 % (SELECT t FROM t) AS rem
      |  FROM rev),
      |l AS (SELECT q.*, 1000 - sum(fl) OVER () AS leftover,
      |    CAST(row_number() OVER (ORDER BY rem DESC, n_nationkey)
      |      AS BIGINT) AS rr
      |  FROM q)
      |SELECT n_name AS nation, CAST(revc AS DOUBLE) / 100.0 AS revenue,
      |  fl AS floor_units,
      |  CAST(fl + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |    AS units
      |FROM l ORDER BY nation""".stripMargin,

    "win_chandelier_exit" -> s"""
      |WITH $dailyBarsSql,
      |t AS (SELECT event_type, day, hc, lc,
      |    greatest(hc - lc, abs(hc - lag(cc, 1) OVER w),
      |      abs(lc - lag(cc, 1) OVER w)) AS tr,
      |    row_number() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |l AS (SELECT event_type, day, rn,
      |    max(hc) OVER w22 AS hh, min(lc) OVER w22 AS ll,
      |    sum(tr) OVER w22 AS str
      |  FROM t WINDOW w22 AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)),
      |h AS (SELECT event_type, day, hh, ll,
      |    (2 * str + 22) // 44 AS atr
      |  FROM l WHERE rn >= 23)
      |SELECT event_type, day,
      |  CAST(hh AS DOUBLE) / 100.0 AS hh22,
      |  CAST(ll AS DOUBLE) / 100.0 AS ll22,
      |  CAST(hh - 3 * atr AS DOUBLE) / 100.0 AS long_stop,
      |  CAST(ll + 3 * atr AS DOUBLE) / 100.0 AS short_stop
      |FROM h ORDER BY event_type, day""".stripMargin)
}
