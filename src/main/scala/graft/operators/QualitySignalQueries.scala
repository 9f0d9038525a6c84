package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — quality/monitoring batch: CUSUM drift detection over daily
  * event counts, Benford first-digit screening, A/B conversion lift
  * with z-statistic, stepped sequence generation, and hapax-legomena
  * share (noisy-document signal).
  *
  * Determinism notes (§7.2 conventions):
  *  - CUSUM works on the SCALED integer deviation n_days·x − total
  *    (≡ n_days·(x − mean), no fractional mean): the running sum, its
  *    absolute maximum and the argmax day are all exact integer
  *    arithmetic under a total order;
  *  - Benford's first digit comes from the decimal(18,2) → string cast
  *    (both engines print plain notation, no exponent) — no log10,
  *    which is not correctly rounded;
  *  - the A/B z-statistic is a fixed tree of IEEE ops over exact
  *    integer counts — division and sqrt ARE correctly rounded, so
  *    equal trees give equal bits (the same argument as win_pct_change);
  *  - hapax rates are single divisions, aggregated with the
  *    rounded-then-decimal-sum mean idiom.
  */
object QualitySignalQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- CUSUM drift detection over daily counts ------------------------
    // Per event type: the day where the cumulative deviation of daily
    // counts from the type's mean peaks (classic CUSUM changepoint
    // screen). Deviations are scaled by n_days so everything stays
    // integer; windows run over the per-(type, day) aggregate (≤ days
    // × types rows), never the event stream.
    "win_cusum_daily" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val t = Window.partitionBy("event_type")
      val run = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("n_days", count(lit(1)).over(t))
        .withColumn("total", sum("x").over(t))
        .withColumn("cusum",
          sum(col("n_days") * col("x") - col("total")).over(run))
        .withColumn("dn",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
        .groupBy("event_type")
        .agg(max("n_days").as("n_days"), max("total").as("total_events"),
          max(abs(col("cusum"))).as("max_abs_cusum"),
          max_by(col("day"), struct(abs(col("cusum")), (-col("dn")).as("nd")))
            .as("drift_day"))
        .orderBy("event_type")
    }),

    // ---- Benford first-digit screen -------------------------------------
    // First-digit distribution of order totals — the fraud/synthetic-
    // data screen. Digit via decimal→string (exact), share via one
    // integer division; the share window runs over ≤9 rows.
    "agg_benford_price" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(substring(
          col("o_totalprice").cast(DecimalType(18, 2)).cast("string"), 1, 1)
          .as("d"))
        .groupBy("d").agg(count(lit(1)).as("n"))
        .withColumn("share",
          col("n").cast(DoubleType) / sum("n").over(Window.partitionBy()))
        .orderBy("d")
    }),

    // ---- A/B conversion lift with z-statistic ---------------------------
    // Users split by id parity; conversion = any purchase event. The
    // whole query reduces to two (variant) rows then one summary row —
    // counts are exact, the pooled two-proportion z is a fixed IEEE
    // tree. Map-side: one distinct per (user, variant) then two tiny
    // aggregates.
    "agg_ab_conversion" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .select(col("user_id"), (col("user_id") % 2).as("variant"),
          (col("event_type") === "purchase").as("conv"))
        .groupBy("user_id", "variant").agg(bool_or(col("conv")).as("converted"))
      per.groupBy("variant")
        .agg(count(lit(1)).as("n_users"), count_if(col("converted")).as("n_conv"))
        .agg(
          max(when(col("variant") === 0, col("n_users"))).as("n_a"),
          max(when(col("variant") === 0, col("n_conv"))).as("conv_a"),
          max(when(col("variant") === 1, col("n_users"))).as("n_b"),
          max(when(col("variant") === 1, col("n_conv"))).as("conv_b"))
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          (col("conv_a").cast(DoubleType) / col("n_a")).as("rate_a"),
          (col("conv_b").cast(DoubleType) / col("n_b")).as("rate_b"),
          // z is undefined when the pooled rate is 0 or 1 (denominator
          // collapses to sqrt(0) — at tiny SFs every user converts);
          // both engines return NULL for exactly that case
          when(col("conv_a") + col("conv_b") === 0
              || col("conv_a") + col("conv_b") === col("n_a") + col("n_b"),
            lit(null).cast(DoubleType))
            .otherwise(
              ((col("conv_a").cast(DoubleType) / col("n_a"))
                - (col("conv_b").cast(DoubleType) / col("n_b")))
              / sqrt(
                ((col("conv_a") + col("conv_b")).cast(DoubleType)
                  / (col("n_a") + col("n_b")))
                * (lit(1.0) - (col("conv_a") + col("conv_b")).cast(DoubleType)
                  / (col("n_a") + col("n_b")))
                * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
            .as("z_stat"))
    }),

    // ---- stepped sequence generation ------------------------------------
    // Biweekly review checkpoints for a deterministic 0.1% order slice:
    // each order explodes into 5 dates (orderdate, +14, … +56 days);
    // the index is recovered arithmetically so both engines agree
    // without positional explode. Map-only.
    "gen_sequence_step" -> ((s, dir) => {
      Tables.orders(s, dir)
        .where(pmod(col("o_orderkey"), lit(1000)) === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          explode(sequence(col("o_orderdate"),
            col("o_orderdate") + expr("INTERVAL 56 DAY"),
            expr("INTERVAL 14 DAY"))).as("review_ts"))
        .select(col("o_orderkey"), col("review_ts"),
          (datediff(col("review_ts"), col("o_orderdate")) / 14).cast("long")
            .as("step_idx"))
        .orderBy("o_orderkey", "review_ts")
    }),

    // ---- hapax-legomena share per language ------------------------------
    // Share of each document's tokens that are corpus hapax (document
    // frequency = 1) — a high share marks OCR noise / mangled text.
    // Token df is one keyed agg; the hapax set joins back token-keyed
    // (left join, null = non-hapax). Per-lang means use the
    // rounded-decimal-sum idiom.
    "llm_hapax_share" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
      val hap = tok.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .where(col("df") === 1).select(col("tok").as("htok"))
      tok.join(hap, col("tok") === col("htok"), "left")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tok"),
          count_if(col("htok").isNotNull).as("n_hapax"))
        .withColumn("share", col("n_hapax").cast(DoubleType) / col("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          (sum(round(col("share"), 8).cast(DecimalType(18, 8)))
            .cast(DoubleType) / count(lit(1))).as("mean_hapax_share"),
          count_if(col("n_hapax") > 0).as("n_docs_with_hapax"))
        .orderBy("lang")
    })
  )

  val oracles: Map[String, String] = Map(

    "win_cusum_daily" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |w AS (SELECT event_type, day, x,
        |    count(*) OVER (PARTITION BY event_type) AS n_days,
        |    sum(x) OVER (PARTITION BY event_type) AS total
        |  FROM daily),
        |c AS (SELECT event_type, day, n_days, total,
        |    sum(n_days * x - total) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cusum
        |  FROM w),
        |r AS (SELECT event_type, day, n_days, total, abs(cusum) AS ac,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(cusum) DESC, day ASC) AS rn,
        |    max(abs(cusum)) OVER (PARTITION BY event_type) AS max_abs
        |  FROM c)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(total AS BIGINT) AS total_events,
        |  CAST(max_abs AS BIGINT) AS max_abs_cusum, day AS drift_day
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "agg_benford_price" ->
      """WITH d AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |    AS VARCHAR), 1, 1) AS d
        |  FROM orders)
        |SELECT d, count(*) AS n,
        |  CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS share
        |FROM d GROUP BY d ORDER BY d""".stripMargin,

    "agg_ab_conversion" ->
      """WITH per AS (SELECT user_id, user_id % 2 AS variant,
        |    bool_or(event_type = 'purchase') AS converted
        |  FROM events GROUP BY user_id, user_id % 2),
        |v AS (SELECT variant, count(*) AS n_users,
        |    count(*) FILTER (converted) AS n_conv
        |  FROM per GROUP BY variant),
        |s AS (SELECT
        |    CAST(max(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n_a,
        |    CAST(max(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS conv_a,
        |    CAST(max(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n_b,
        |    CAST(max(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS conv_b
        |  FROM v)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(conv_a AS DOUBLE) / n_a AS rate_a,
        |  CAST(conv_b AS DOUBLE) / n_b AS rate_b,
        |  CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |    THEN NULL
        |    ELSE ((CAST(conv_a AS DOUBLE) / n_a) - (CAST(conv_b AS DOUBLE) / n_b))
        |      / sqrt(
        |        (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |        * (1.0 / n_a + 1.0 / n_b)) END AS z_stat
        |FROM s""".stripMargin,

    "gen_sequence_step" ->
      """SELECT o_orderkey, review_ts,
        |  date_diff('day', o_orderdate, review_ts) // 14 AS step_idx
        |FROM (SELECT o_orderkey, o_orderdate,
        |    unnest(generate_series(o_orderdate,
        |      o_orderdate + INTERVAL 56 DAY, INTERVAL 14 DAY)) AS review_ts
        |  FROM orders WHERE o_orderkey % 1000 = 0)
        |ORDER BY o_orderkey, review_ts""".stripMargin,

    "llm_hapax_share" -> s"""
      |WITH tok AS (SELECT doc_id, lang, unnest($duckToks) AS tok
      |  FROM documents),
      |hap AS (SELECT tok AS htok FROM (
      |    SELECT tok, count(*) AS df FROM (
      |      SELECT DISTINCT doc_id, tok FROM tok) GROUP BY tok)
      |  WHERE df = 1),
      |pd AS (SELECT doc_id, lang, count(*) AS n_tok,
      |    count(*) FILTER (htok IS NOT NULL) AS n_hapax
      |  FROM tok LEFT JOIN hap ON tok = htok
      |  GROUP BY doc_id, lang)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CAST(round(CAST(n_hapax AS DOUBLE) / n_tok, 8)
      |    AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mean_hapax_share,
      |  CAST(count(*) FILTER (n_hapax > 0) AS BIGINT) AS n_docs_with_hapax
      |FROM pd GROUP BY lang ORDER BY lang""".stripMargin
  )
}
