package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twenty-fourth wave: scalar-function surface — data masking,
  * banker's rounding, fault-tolerant timestamp parsing and the
  * calendar-name extract family.
  *
  * Determinism: mask is a pure character-class rewrite (the oracle
  * replays it as three regex passes); bround's half-even choice is
  * exercised on EXACT binary halves (.5/.25 money fractions) and the
  * oracle replays half-even with a floor-parity CASE; try_to_timestamp
  * nulls are engine-native fault paths over the same deterministic
  * dirty strings; day/month names are locale-stable English in both
  * engines.
  */
object Round8xQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- data masking -------------------------------------------------------
    // mask() over customer names (upper→X, lower→x, digit→n) plus a
    // custom-char variant — the PII-lite export scrub (llm_pii_redact
    // handles pattern-level redaction; this is character-level).
    "fn_mask" -> ((s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"),
          expr("mask(c_name)").as("masked"),
          expr("mask(c_name, '*', '*', '#', '-')").as("masked_custom"))
        .orderBy("c_custkey")),

    // ---- banker's rounding ----------------------------------------------------
    // bround (half-even) vs round (half-up) over money values whose
    // .5/.25 fractions are EXACT in binary — the cent-fair ledger
    // rounding; the flag column isolates the rows where the two
    // disagree (exact halves only).
    "fn_bround" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          bround(col("o_totalprice"), 0).as("banker0"),
          round(col("o_totalprice"), 0).as("halfup0"),
          (bround(col("o_totalprice"), 0) =!= round(col("o_totalprice"), 0))
            .as("disagree"))
        .orderBy("o_orderkey")),

    // ---- fault-tolerant timestamp parsing ----------------------------------------
    // try_to_timestamp over deterministically-corrupted date strings
    // (every 7th key gets month 13, every 11th a mangled separator):
    // NULL, not error, on the dirty rows — the crawl-ingest time
    // parser. Each engine uses its native format syntax over the SAME
    // strings.
    "fn_try_to_timestamp" -> ((s, dir) => {
      val raw = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("good"))
        .withColumn("s",
          when(col("o_orderkey") % 7 === 0,
            concat(substring(col("good"), 1, 5), lit("13"),
              substring(col("good"), 8, 12)))
            .when(col("o_orderkey") % 11 === 0,
              regexp_replace(col("good"), "-", "/"))
            .otherwise(col("good")))
      raw.select(col("o_orderkey"), col("s"),
          expr("try_to_timestamp(s, 'yyyy-MM-dd HH:mm:ss')").as("parsed"),
          expr("try_to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') IS NULL")
            .as("is_dirty"))
        .orderBy("o_orderkey")
    }),

    // ---- calendar-name extracts ----------------------------------------------------
    // Day/month names, quarter, day-of-year and the 1=Sunday weekday
    // index per order date — the report-labeling extract family
    // (fn_datetime covers the numeric extracts; these are the
    // locale-stable name forms).
    "fn_date_names" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"),
          date_format(col("o_orderdate"), "EEEE").as("day_name"),
          date_format(col("o_orderdate"), "MMMM").as("month_name"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          dayofweek(col("o_orderdate")).cast("long").as("dow1sun"))
        .orderBy("o_orderkey")))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "fn_mask" -> """
      |SELECT c_custkey, c_name,
      |  regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
      |    AS masked,
      |  -- other class first: a later pass could not tell an original
      |  -- '#' from a digit-produced one
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[^A-Za-z0-9]', '-', 'g'), '[A-Z]', '*', 'g'), '[a-z]', '*', 'g'),
      |    '[0-9]', '#', 'g') AS masked_custom
      |FROM customer ORDER BY c_custkey""".stripMargin,

    "fn_bround" -> """
      |SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_totalprice - floor(o_totalprice) = 0.5
      |       THEN CASE WHEN CAST(floor(o_totalprice) AS BIGINT) % 2 = 0
      |            THEN floor(o_totalprice) ELSE ceil(o_totalprice) END
      |       ELSE round(o_totalprice, 0) END AS banker0,
      |  round(o_totalprice, 0) AS halfup0,
      |  (CASE WHEN o_totalprice - floor(o_totalprice) = 0.5
      |       THEN CASE WHEN CAST(floor(o_totalprice) AS BIGINT) % 2 = 0
      |            THEN floor(o_totalprice) ELSE ceil(o_totalprice) END
      |       ELSE round(o_totalprice, 0) END) <> round(o_totalprice, 0)
      |    AS disagree
      |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_try_to_timestamp" -> """
      |WITH raw AS (SELECT o_orderkey,
      |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS good
      |  FROM orders),
      |s AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0
      |         THEN substr(good, 1, 5) || '13' || substr(good, 8, 12)
      |         WHEN o_orderkey % 11 = 0 THEN replace(good, '-', '/')
      |         ELSE good END AS s
      |  FROM raw)
      |SELECT o_orderkey, s,
      |  try_strptime(s, '%Y-%m-%d %H:%M:%S') AS parsed,
      |  try_strptime(s, '%Y-%m-%d %H:%M:%S') IS NULL AS is_dirty
      |FROM s ORDER BY o_orderkey""".stripMargin,

    "fn_date_names" -> """
      |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
      |  dayname(o_orderdate) AS day_name,
      |  monthname(o_orderdate) AS month_name,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow1sun
      |FROM orders ORDER BY o_orderkey""".stripMargin)
}
