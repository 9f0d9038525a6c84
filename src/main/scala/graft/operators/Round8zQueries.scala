package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twenty-sixth wave: acquisition/record/forensic-digit
  * analytics — the newcomer share per month, running record highs, the
  * second-digit Benford extension and psychological price endings.
  *
  * Determinism: cohort firsts are min-aggregates over integer month
  * indices; record flags are strict integer compares against a
  * running max; both digit forensics read characters of the EXACT
  * decimal(18,2) string image (the agg_benford_price idiom — no
  * log10, which is not correctly rounded); every share is one integer
  * division.
  */
object Round8zQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- newcomer share per month -----------------------------------------
    // Per order month: active customers, first-ever-order newcomers
    // and their share — the acquisition-vs-retention mix (the
    // order-side sibling of agg_growth_accounting's event ledger).
    // Integer month indices, two customer-keyed aggregates.
    "agg_newcomer_share" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("mi"))
      val first = o.groupBy("o_custkey").agg(min("mi").as("fm"))
      o.distinct()
        .join(first, Seq("o_custkey"))
        .groupBy("mi")
        .agg(count(lit(1)).as("active_customers"),
          count_if(col("fm") === col("mi")).as("newcomers"))
        .select(col("mi").as("month_idx"), col("active_customers"),
          col("newcomers"),
          round(d(col("newcomers")) / d(col("active_customers")), 6)
            .as("newcomer_share"))
        .orderBy("month_idx")
    }),

    // ---- running record highs ------------------------------------------------
    // Per event type: is each day's centi revenue a strict new record,
    // and how many records so far — the record-statistics ledger
    // (i.i.d. series grow records like the harmonic series; trending
    // ones much faster). Pure integer compares against the running
    // max; day one is the first record.
    "win_record_highs" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val w = Window.partitionBy("event_type").orderBy("day")
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("pmax", max("xc").over(wPrev))
        .withColumn("is_record",
          col("pmax").isNull || col("xc") > col("pmax"))
        .select(col("event_type"), col("day"), col("is_record"),
          sum(when(col("is_record"), 1L).otherwise(0L)).over(wc)
            .as("records_so_far"))
        .orderBy("event_type", "day")
    }),

    // ---- Benford second-digit distribution --------------------------------------
    // Second significant digit of order totals ≥ 10 (so it is always
    // the second character of the exact decimal string image — the
    // agg_benford_price idiom extended one digit deeper, where fraud
    // detection actually operates). Counts and share per digit 0-9.
    "agg_benford_second" -> ((s, dir) => {
      val dig = Tables.orders(s, dir)
        .where(col("o_totalprice") >= 10.0)
        .select(substring(col("o_totalprice").cast(DecimalType(18, 2))
          .cast("string"), 2, 1).as("digit"))
      val tot = dig.agg(count(lit(1)).as("nt"))
      dig.groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(d(col("n")) / d(col("nt")), 6).as("share"))
        .orderBy("digit")
    }),

    // ---- psychological price endings -----------------------------------------------
    // Cent-ending profile of part retail prices (.00 / .50 / .95 /
    // .99 / other) — the charm-pricing audit. Cents are the exact
    // centi value mod 100; one catalog-bounded aggregate.
    "agg_price_endings" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(((col("p_retailprice").cast(DecimalType(18, 2)) * 100)
          .cast(DecimalType(18, 0)).cast("long") % 100).as("cents"))
        .select(when(col("cents") === 0, lit("00"))
          .when(col("cents") === 50, lit("50"))
          .when(col("cents") === 95, lit("95"))
          .when(col("cents") === 99, lit("99"))
          .otherwise(lit("other")).as("ending"))
      val tot = p.agg(count(lit(1)).as("nt"))
      p.groupBy("ending").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("ending"), col("n"),
          round(d(col("n")) / d(col("nt")), 6).as("share"))
        .orderBy("ending")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_newcomer_share" -> """
      |WITH o AS (SELECT DISTINCT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
      |      AS mi
      |  FROM orders),
      |f AS (SELECT o_custkey, CAST(min(mi) AS BIGINT) AS fm
      |  FROM o GROUP BY 1)
      |SELECT o.mi AS month_idx,
      |  CAST(count(*) AS BIGINT) AS active_customers,
      |  CAST(count(*) FILTER (f.fm = o.mi) AS BIGINT) AS newcomers,
      |  round(CAST(count(*) FILTER (f.fm = o.mi) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS newcomer_share
      |FROM o JOIN f ON o.o_custkey = f.o_custkey
      |GROUP BY o.mi ORDER BY month_idx""".stripMargin,

    "win_record_highs" -> s"""
      |WITH $dailyCentiSql,
      |f AS (SELECT event_type, day,
      |    (max(xc) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |     OR xc > max(xc) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |      AS is_record
      |  FROM daily)
      |SELECT event_type, day, is_record,
      |  CAST(sum(CASE WHEN is_record THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS records_so_far
      |FROM f ORDER BY event_type, day""".stripMargin,

    "agg_benford_second" -> """
      |WITH dig AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
      |    AS VARCHAR), 2, 1) AS digit
      |  FROM orders WHERE o_totalprice >= 10.0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM dig)
      |SELECT digit, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(count(*) AS DOUBLE)
      |    / (SELECT CAST(nt AS DOUBLE) FROM tot), 6) AS share
      |FROM dig GROUP BY digit ORDER BY digit""".stripMargin,

    "agg_price_endings" -> """
      |WITH p AS (SELECT CASE
      |    WHEN cents = 0 THEN '00' WHEN cents = 50 THEN '50'
      |    WHEN cents = 95 THEN '95' WHEN cents = 99 THEN '99'
      |    ELSE 'other' END AS ending
      |  FROM (SELECT CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
      |      AS DECIMAL(18,0))::BIGINT % 100 AS cents FROM part) x),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM p)
      |SELECT ending, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(count(*) AS DOUBLE)
      |    / (SELECT CAST(nt AS DOUBLE) FROM tot), 6) AS share
      |FROM p GROUP BY ending ORDER BY ending""".stripMargin)
}
