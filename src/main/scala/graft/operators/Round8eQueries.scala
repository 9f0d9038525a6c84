package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 fifth wave: ordinal effect size (Cliff's delta) and two more
  * distribution tests (Mood's median, two-sample Cramér–von Mises)
  * completing the nonparametric battery beside Mann–Whitney / KS /
  * Kruskal–Wallis, plus the Hoover (Robin Hood) inequality index
  * beside Gini / Theil / HHI.
  *
  * Determinism: every dominance / ECDF count rides the distinct-value
  * running-sum shape (GlobalRank.withRunningSums — the shuffle scales
  * with |distinct values|, never rows); Cliff and Hoover are EXACT
  * integer arithmetic to the final single division; CvM products are
  * DECIMAL(38,0)-exact (engine contract: |m·cumA − n·cumB| < 10^9·n
  * keeps w·diff² under 38 digits — holds to ~3·10^8 rows/arm); Mood's
  * k per-type χ² terms are 6dp-quantized before the order-free k-row
  * decimal sum (the Kruskal–Wallis idiom).
  */
object Round8eQueries extends graft.QueryFamily {

  /** Distinct-value table of `value` with per-arm counts for a 2-arm
    * comparison, plus inclusive running sums of both arms over the
    * global value order. */
  private def twoArmRanked(s: SparkSession, dir: String,
      armA: String, armB: String) = {
    val ev = Tables.events(s, dir)
      .where(col("event_type").isin(armA, armB))
      .select(col("event_type"), col("value").cast(DecimalType(18, 6)).as("v"))
    val byV = ev.groupBy("v").agg(
      sum(when(col("event_type") === armA, 1L).otherwise(0L)).as("ca"),
      sum(when(col("event_type") === armB, 1L).otherwise(0L)).as("cb"))
    GlobalRank.withRunningSums(byV,
      Seq((col("ca"), "cuma", "na"), (col("cb"), "cumb", "nb")),
      Seq.empty, Seq(col("v").asc))
  }

  private def twoArmSql(armA: String, armB: String): String =
    s"""ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
       |  FROM events WHERE event_type IN ('$armA', '$armB')),
       |byv AS (SELECT v,
       |    CAST(sum(CASE WHEN event_type = '$armA' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN event_type = '$armB' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cb
       |  FROM ev GROUP BY v),
       |rk AS (SELECT v, ca, cb,
       |    CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
       |    CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb,
       |    CAST(sum(ca) OVER () AS BIGINT) AS na,
       |    CAST(sum(cb) OVER () AS BIGINT) AS nb
       |  FROM byv)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- Cliff's delta (ordinal effect size, click vs purchase) ---------
    // δ = (#(a>b) − #(a<b)) / (n_a·n_b) from pure dominance counts:
    // #(a>b) = Σ_v ca(v)·cumB(<v) over the distinct-value axis — exact
    // longs to the single final division.
    "agg_cliff_delta" -> ((s, dir) => {
      val r = twoArmRanked(s, dir, "click", "purchase")
      r.agg(max("na").as("n_a"), max("nb").as("n_b"),
          sum(col("ca") * (col("cumb") - col("cb"))).as("n_gt"),
          sum(col("ca") * col("cb")).as("n_ties"))
        .select(col("n_a"), col("n_b"), col("n_gt"),
          (col("n_a") * col("n_b") - col("n_gt") - col("n_ties")).as("n_lt"),
          col("n_ties"),
          round((d(col("n_gt")) -
              d(col("n_a") * col("n_b") - col("n_gt") - col("n_ties"))) /
            (d(col("n_a")) * d(col("n_b"))), 6).as("cliff_delta"))
    }),

    // ---- two-sample Cramér–von Mises (view vs signup) -------------------
    // T = Σ_v (ca+cb)·(nb·cumA − na·cumB)² / (na·nb·(na+nb)²) — the
    // ECDF-distance integral over the combined sample, exact
    // DECIMAL(38,0) numerator (HUGEINT on the DuckDB side), one double
    // division. Complements KS (sup-norm) with the L2 view.
    "agg_cvm_two_sample" -> ((s, dir) => {
      val r = twoArmRanked(s, dir, "view", "signup")
      val diff = (col("nb") * col("cuma") - col("na") * col("cumb"))
        .cast(DecimalType(38, 0))
      r.agg(max("na").as("n_a"), max("nb").as("n_b"),
          sum((col("ca") + col("cb")).cast(DecimalType(38, 0)) * diff * diff)
            .as("num"))
        .select(col("n_a"), col("n_b"),
          round(d(col("num")) /
            (d(col("n_a")) * d(col("n_b")) *
              (d(col("n_a")) + d(col("n_b"))) *
              (d(col("n_a")) + d(col("n_b")))), 6).as("cvm_t"))
    }),

    // ---- Mood's median test (k event types) -----------------------------
    // Global low-median of `value` via distinct-value running counts,
    // 2×k contingency of above-vs-at-or-below per type, χ² with each
    // per-type term 6dp-quantized before the k-row decimal sum.
    "agg_mood_median" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value").cast(DecimalType(18, 6)).as("v"))
      val byV = ev.groupBy("v").agg(count(lit(1)).as("cnt"))
      val med = GlobalRank.withRunningSums(byV,
          Seq((col("cnt"), "hi", "n")), Seq.empty, Seq(col("v").asc))
        .agg(min(when(col("hi") >= expr("(n + 1) div 2"), col("v"))).as("med"))
      val c = ev.crossJoin(broadcast(med)).groupBy("event_type")
        .agg(count(lit(1)).as("nj"),
          sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("aj"))
      val tot = c.agg(sum("nj").as("n"), sum("aj").as("a"),
        count(lit(1)).as("k"))
      val ea = d(col("nj")) * d(col("a")) / d(col("n"))
      val eb = d(col("nj")) * (d(col("n")) - d(col("a"))) / d(col("n"))
      val term = (d(col("aj")) - ea) * (d(col("aj")) - ea) / ea +
        (d(col("nj") - col("aj")) - eb) * (d(col("nj") - col("aj")) - eb) / eb
      c.crossJoin(broadcast(tot))
        .select(col("n"), col("a"), col("k"),
          round(term, 6).cast(DecimalType(38, 6)).as("term"))
        .groupBy("n", "a", "k")
        .agg(sum("term").cast(DoubleType).as("st"))
        .crossJoin(broadcast(med))
        .select(col("n"), col("k"), d(col("med")).as("median"),
          col("a").as("n_above"), round(col("st"), 6).as("chi2_mood"))
    }),

    // ---- Hoover (Robin Hood) index of customer revenue ------------------
    // H = Σ|n·xᵢ − S| / (2·n·S) over per-customer order totals in exact
    // cent units — the share of total revenue that would have to move
    // to equalize. Same revenue base as agg_gini_revenue; the n·x − S
    // deviations are exact DECIMAL(38,0) (no float mean anywhere).
    "agg_hoover_index" -> ((s, dir) => {
      val rev = Tables.orders(s, dir).groupBy("o_custkey")
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("xc"))
      val tot = rev.agg(count(lit(1)).as("n"), sum("xc").as("s"))
      rev.crossJoin(broadcast(tot))
        .select(col("n"), col("s"),
          abs((col("n") * col("xc") - col("s")).cast(DecimalType(38, 0)))
            .as("dev"))
        .groupBy("n", "s")
        .agg(sum("dev").as("sd"))
        .select(col("n").as("n_customers"),
          (d(col("s")) / 100.0).as("total_rev"),
          round(d(col("sd")) / (lit(2.0) * d(col("n")) * d(col("s"))), 6)
            .as("hoover"))
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_cliff_delta" -> s"""
      |WITH ${twoArmSql("click", "purchase")},
      |g AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
      |    CAST(max(nb) AS BIGINT) AS n_b,
      |    CAST(sum(ca * (cumb - cb)) AS BIGINT) AS n_gt,
      |    CAST(sum(ca * cb) AS BIGINT) AS n_ties
      |  FROM rk)
      |SELECT n_a, n_b, n_gt, n_a * n_b - n_gt - n_ties AS n_lt, n_ties,
      |  round((CAST(n_gt AS DOUBLE)
      |      - CAST(n_a * n_b - n_gt - n_ties AS DOUBLE))
      |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS cliff_delta
      |FROM g""".stripMargin,

    "agg_cvm_two_sample" -> s"""
      |WITH ${twoArmSql("view", "signup")},
      |g AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
      |    CAST(max(nb) AS BIGINT) AS n_b,
      |    sum(CAST(CAST(ca + cb AS HUGEINT)
      |      * CAST(nb * cuma - na * cumb AS HUGEINT)
      |      * CAST(nb * cuma - na * cumb AS HUGEINT) AS DECIMAL(38,0)))
      |      AS num
      |  FROM rk)
      |SELECT n_a, n_b,
      |  round(CAST(num AS DOUBLE) /
      |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |      * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
      |      * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6) AS cvm_t
      |FROM g""".stripMargin,

    "agg_mood_median" -> """
      |WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |byv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM ev GROUP BY v),
      |rk AS (SELECT v,
      |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS hi,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM byv),
      |med AS (SELECT min(CASE WHEN hi >= (n + 1) // 2 THEN v END) AS med
      |  FROM rk),
      |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nj,
      |    CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT) AS aj
      |  FROM ev CROSS JOIN med GROUP BY event_type),
      |tot AS (SELECT CAST(sum(nj) AS BIGINT) AS n,
      |    CAST(sum(aj) AS BIGINT) AS a, CAST(count(*) AS BIGINT) AS k
      |  FROM c),
      |t AS (SELECT n, a, k,
      |    CAST(round(
      |      (CAST(aj AS DOUBLE) - CAST(nj AS DOUBLE) * CAST(a AS DOUBLE)
      |          / CAST(n AS DOUBLE))
      |        * (CAST(aj AS DOUBLE) - CAST(nj AS DOUBLE) * CAST(a AS DOUBLE)
      |          / CAST(n AS DOUBLE))
      |        / (CAST(nj AS DOUBLE) * CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
      |      + (CAST(nj - aj AS DOUBLE) - CAST(nj AS DOUBLE)
      |            * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE)) / CAST(n AS DOUBLE))
      |        * (CAST(nj - aj AS DOUBLE) - CAST(nj AS DOUBLE)
      |            * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE)) / CAST(n AS DOUBLE))
      |        / (CAST(nj AS DOUBLE)
      |            * (CAST(n AS DOUBLE) - CAST(a AS DOUBLE)) / CAST(n AS DOUBLE))
      |      , 6) AS DECIMAL(38,6)) AS term
      |  FROM c CROSS JOIN tot),
      |g AS (SELECT n, a, k, CAST(sum(term) AS DOUBLE) AS st
      |  FROM t GROUP BY n, a, k)
      |SELECT n, k, CAST(med AS DOUBLE) AS median, a AS n_above,
      |  round(st, 6) AS chi2_mood
      |FROM g CROSS JOIN med""".stripMargin,

    "agg_hoover_index" -> """
      |WITH rev AS (SELECT o_custkey,
      |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS xc
      |  FROM orders GROUP BY o_custkey),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(xc) AS BIGINT) AS s FROM rev),
      |dv AS (SELECT n, s, abs(CAST(n * xc - s AS DECIMAL(38,0))) AS dev
      |  FROM rev CROSS JOIN tot),
      |g AS (SELECT n, s, sum(dev) AS sd FROM dv GROUP BY n, s)
      |SELECT n AS n_customers, CAST(s AS DOUBLE) / 100.0 AS total_rev,
      |  round(CAST(sd AS DOUBLE)
      |    / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS hoover
      |FROM g""".stripMargin)
}
