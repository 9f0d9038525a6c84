package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 eleventh wave: Markov entropy rate, Benford conformity
  * (MAD), intra-part price dispersion and cross-half vocabulary
  * stability.
  *
  * Determinism: the entropy rate quantizes each log2(cᵢ/cᵢⱼ) to an 8dp
  * decimal before the exact weighted sum (quantized-ln idiom); Benford
  * expectations are FIXED 8dp literals (identical on both engines — no
  * runtime log10), observed shares are half-up 1e-8 integers; price
  * spreads and vocabulary Jaccards are half-up integer divisions and
  * pure set counts.
  */
object Round9kQueries extends graft.QueryFamily {

  /** log10(1 + 1/d) rounded half-even to 8dp, ×1e8 as exact longs. */
  private val benford8: Seq[(Long, Long)] = Seq(
    1L -> 30103000L, 2L -> 17609126L, 3L -> 12493874L, 4L -> 9691001L,
    5L -> 7918125L, 6L -> 6694679L, 7L -> 5799195L, 8L -> 5115252L,
    9L -> 4575749L)

  val queries: Map[String, QFn] = Map(

    // ---- Markov entropy rate ----------------------------------------------------
    // Entropy rate (bits/step) of the per-user event-type transition
    // chain: H = (1/N)·Σᵢⱼ cᵢⱼ·log2(cᵢ/cᵢⱼ), each log2 quantized to an
    // 8dp decimal so the weighted sum is exact. The scalar summary of
    // agg_markov_transitions' matrix.
    "agg_markov_entropy_rate" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy("prev", "event_type").agg(count(lit(1)).as("cij"))
      val ci = tr.groupBy("prev").agg(sum("cij").cast("long").as("ci"))
      tr.join(broadcast(ci), Seq("prev"))
        .select((col("cij").cast(DecimalType(18, 0)) *
          round(log2(d(col("ci")) / d(col("cij"))), 8)
            .cast(DecimalType(18, 8))).as("term"),
          col("cij"))
        .agg(sum("cij").cast("long").as("n_transitions"),
          sum("term").as("st"))
        .select(col("n_transitions"),
          round(d(col("st")) / d(col("n_transitions")), 6)
            .as("entropy_rate_bits"))
    }),

    // ---- Benford conformity (MAD) --------------------------------------------------
    // Mean absolute deviation of the observed first-digit shares of
    // order totals from the Benford expectation — the single-number
    // conformity score beside agg_benford_price's distribution.
    // Shares as half-up 1e-8 integers vs FIXED 8dp literal
    // expectations; MAD one more half-up division.
    "agg_benford_mad" -> ((s, dir) => {
      import s.implicits._
      val exp8 = benford8.toDF("digit", "b8")
      val dig = Tables.orders(s, dir)
        .where(col("o_totalprice") >= 1.0)
        .select(substring(col("o_totalprice").cast(DecimalType(18, 2))
          .cast("string"), 1, 1).cast("long").as("digit"))
      val tot = dig.agg(count(lit(1)).as("nt"))
      // start from the 9 fixed expectation rows so an absent digit
      // contributes its full |0 − b8| deviation
      broadcast(exp8)
        .join(dig.groupBy("digit").agg(count(lit(1)).as("n")), Seq("digit"),
          "left")
        .crossJoin(broadcast(tot))
        .withColumn("s8", expr("(2 * 100000000 * " +
          "CAST(coalesce(n, 0) AS DECIMAL(38,0)) + nt) div (2 * nt)"))
        .agg(max("nt").as("n_values"),
          sum(abs(col("s8") - col("b8"))).cast("long").as("sad"))
        .select(col("n_values"),
          (d(expr("(2 * sad + 9) div 18")) / 1.0e8).as("mad_benford"))
    }),

    // ---- intra-part price dispersion --------------------------------------------------
    // Per brand: the median relative spread between the highest and
    // lowest unit price a part sells at — per-line unit prices as
    // half-up 1e-4 integers, spreads as half-up 1e-6 integers, median
    // at the exact discrete rank.
    "agg_price_dispersion" -> ((s, dir) => {
      val spread = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(DecimalType(18, 0)).cast("long").as("rc"),
          col("l_quantity").cast(DecimalType(18, 0)).cast("long").as("q"))
        .withColumn("up4", expr("(2 * 10000 * rc + q) div (2 * q)"))
        .groupBy("l_partkey")
        .agg(min("up4").as("mn"), max("up4").as("mx"))
        .withColumn("sp6", expr("(2 * 1000000 * (mx - mn) + mn) div (2 * mn)"))
      // the spread table is catalog-keyed (one row per part — grows
      // with sf) and p_brand has 25 values, so a plain partitioned
      // window would funnel it through 25 single-task groups — rank
      // via GlobalRank instead, every stage distributed.
      GlobalRank.withSeqAndCount(
        spread.join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey")),
        "rn", "np", Seq("p_brand"),
        Seq(col("sp6").asc, col("l_partkey").asc), groupsHint = 25)
        .groupBy("p_brand")
        .agg(max("np").as("n_parts"),
          max(when(col("rn") === expr("(np + 1) DIV 2"), col("sp6")))
            .as("med6"))
        .select(col("p_brand").as("brand"), col("n_parts"),
          (d(col("med6")) / 1.0e6).as("median_spread"))
        .orderBy("brand")
    }),

    // ---- cross-half vocabulary stability ------------------------------------------------
    // Jaccard of the even-doc vs odd-doc vocabularies per language —
    // the corpus-stationarity audit (a drifting crawl shows a falling
    // cross-half Jaccard). Pure set counts on the frequency table.
    "llm_vocab_stability" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), (col("doc_id") % 2 === 0).as("even"),
          explode(toks).as("tok"))
        .groupBy("lang", "tok")
        .agg(max(when(col("even"), 1L).otherwise(0L)).as("he"),
          max(when(!col("even"), 1L).otherwise(0L)).as("ho"))
        .groupBy("lang")
        .agg(count_if(col("he") === 1).as("v_even"),
          count_if(col("ho") === 1).as("v_odd"),
          count_if(col("he") === 1 && col("ho") === 1).as("v_both"),
          count(lit(1)).as("v_union"))
        .select(col("lang"), col("v_even"), col("v_odd"), col("v_both"),
          round(d(col("v_both")) / d(col("v_union")), 6).as("jaccard"))
        .orderBy("lang")))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_markov_entropy_rate" -> """
      |WITH tr AS (SELECT prev, event_type, CAST(count(*) AS BIGINT) AS cij
      |  FROM (SELECT event_type,
      |      lag(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS prev
      |    FROM events) x
      |  WHERE prev IS NOT NULL
      |  GROUP BY 1, 2),
      |ci AS (SELECT prev, CAST(sum(cij) AS BIGINT) AS ci
      |  FROM tr GROUP BY 1),
      |t AS (SELECT tr.cij,
      |    CAST(tr.cij AS DECIMAL(18,0))
      |      * CAST(round(log2(CAST(ci.ci AS DOUBLE)
      |        / CAST(tr.cij AS DOUBLE)), 8) AS DECIMAL(18,8)) AS term
      |  FROM tr JOIN ci ON tr.prev = ci.prev)
      |SELECT CAST(sum(cij) AS BIGINT) AS n_transitions,
      |  round(CAST(sum(term) AS DOUBLE)
      |    / CAST(sum(cij) AS DOUBLE), 6) AS entropy_rate_bits
      |FROM t""".stripMargin,

    "agg_benford_mad" -> s"""
      |WITH exp8(digit, b8) AS (VALUES
      |    ${benford8.map { case (dg, b) => s"($dg, $b)" }.mkString(", ")}),
      |dig AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
      |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders WHERE o_totalprice >= 1.0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM dig),
      |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
      |  FROM dig GROUP BY 1),
      |sh AS (SELECT exp8.digit, exp8.b8,
      |    CAST((2 * 100000000 * CAST(coalesce(cnt.n, 0) AS HUGEINT)
      |      + (SELECT nt FROM tot)) // (2 * (SELECT nt FROM tot))
      |      AS BIGINT) AS s8
      |  FROM exp8 LEFT JOIN cnt ON exp8.digit = cnt.digit),
      |g AS (SELECT (SELECT nt FROM tot) AS n_values,
      |    CAST(sum(abs(sh.s8 - sh.b8)) AS BIGINT) AS sad
      |  FROM sh)
      |SELECT n_values,
      |  CAST((2 * sad + 9) // 18 AS DOUBLE) / 1e8 AS mad_benford
      |FROM g""".stripMargin,

    "agg_price_dispersion" -> """
      |WITH up AS (SELECT l_partkey,
      |    (2 * 10000 * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |        AS DECIMAL(18,0))::BIGINT
      |      + CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT))
      |    // (2 * CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)) AS up4
      |  FROM lineitem),
      |sp AS (SELECT l_partkey, min(up4) AS mn, max(up4) AS mx
      |  FROM up GROUP BY 1),
      |s6 AS (SELECT l_partkey,
      |    (2 * 1000000 * (mx - mn) + mn) // (2 * mn) AS sp6
      |  FROM sp),
      |r AS (SELECT p.p_brand, s6.sp6,
      |    CAST(row_number() OVER (PARTITION BY p.p_brand
      |      ORDER BY s6.sp6, s6.l_partkey) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY p.p_brand) AS BIGINT) AS np
      |  FROM s6 JOIN part p ON s6.l_partkey = p.p_partkey)
      |SELECT p_brand AS brand, max(np) AS n_parts,
      |  CAST(max(CASE WHEN rn = (np + 1) // 2 THEN sp6 END) AS DOUBLE)
      |    / 1e6 AS median_spread
      |FROM r GROUP BY p_brand ORDER BY brand""".stripMargin,

    "llm_vocab_stability" -> s"""
      |WITH t AS (SELECT lang, doc_id % 2 = 0 AS even,
      |    unnest($duckToks)
      |      AS tok
      |  FROM documents),
      |v AS (SELECT lang, tok,
      |    max(CASE WHEN even THEN 1 ELSE 0 END) AS he,
      |    max(CASE WHEN NOT even THEN 1 ELSE 0 END) AS ho
      |  FROM t GROUP BY 1, 2)
      |SELECT lang,
      |  CAST(count(*) FILTER (he = 1) AS BIGINT) AS v_even,
      |  CAST(count(*) FILTER (ho = 1) AS BIGINT) AS v_odd,
      |  CAST(count(*) FILTER (he = 1 AND ho = 1) AS BIGINT) AS v_both,
      |  round(CAST(count(*) FILTER (he = 1 AND ho = 1) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS jaccard
      |FROM v GROUP BY lang ORDER BY lang""".stripMargin)
}
