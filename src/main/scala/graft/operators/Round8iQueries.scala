package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 ninth wave: the remaining classical hypothesis tests beside
  * MW/KS/ANOVA/Welch/Kruskal — Ansari-Bradley (scale), Jonckheere-
  * Terpstra (ordered alternative), Bartlett (variance homogeneity) and
  * the Wilcoxon signed-rank (paired).
  *
  * Determinism: rank machinery rides the same midrank-block closed
  * forms as agg_mannwhitney (per-value blocks keep every rank sum an
  * exact integer; per-block rational terms are 6dp-rounded then
  * decimal-summed); Bartlett's per-group variances come from exact
  * decimal moments with the ANOVA re-cap discipline; divisions by
  * powers of two stay exact in binary.
  */
object Round8iQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Ansari-Bradley scale test ---------------------------------------
    // Do treatment (even user_id) and control event values differ in
    // DISPERSION per event type? AB scores a(r) = min(r, N+1−r) over
    // the per-type total (v, event_id) order; per value-block the score
    // sum has the exact triangular closed form (split at m = (N+1)/2),
    // so midscores never materialize per row — the treatment statistic
    // is Σ_blocks t_treat·S_block/t, each term 6dp-rounded then
    // decimal-summed. Null mean is the textbook parity-split closed
    // form, one division. Rides GlobalRank like agg_mannwhitney.
    "agg_ansari_bradley" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"),
        (col("user_id") % 2 === 0).as("treat"),
        col("value").cast(DecimalType(18, 6)).as("v"))
      val ranked = GlobalRank.withSeqAndCount(ev, "rn", "n_all",
        Seq("event_type"), Seq(col("v").asc, col("event_id").asc),
        groupsHint = 16) // 5 event types in the schema
      val blk = ranked.groupBy("event_type", "v")
        .agg(min("rn").as("lo"), max("rn").as("hi"), count(lit(1)).as("t"),
          count_if(col("treat")).as("tt"), max("n_all").as("n"))
      // S(lo,hi,N) = Σ_{r=lo..hi} min(r, N+1−r), split at m=(N+1) div 2;
      // (a+b)(b−a+1) is always even so the shiftright halving is exact
      val m = shiftright(col("n") + 1, 1)
      val hi1 = least(col("hi"), m)
      val lo2 = greatest(col("lo"), m + 1)
      val part1 = when(col("lo") <= hi1,
        shiftright((col("lo") + hi1) * (hi1 - col("lo") + 1), 1)).otherwise(0L)
      val part2 = when(lo2 <= col("hi"),
        (col("n") + 1) * (col("hi") - lo2 + 1) -
          shiftright((lo2 + col("hi")) * (col("hi") - lo2 + 1), 1)).otherwise(0L)
      val agg = blk.withColumn("sblk", part1 + part2)
        .groupBy("event_type")
        .agg(max("n").as("n"), sum("tt").as("n1"),
          sum(round(d(col("tt") * col("sblk")) / d(col("t")), 6)
            .cast(DecimalType(28, 6))).as("ab_raw"))
      agg.select(col("event_type"), col("n1").as("n_treat"),
          (col("n") - col("n1")).as("n_ctrl"),
          d(col("ab_raw")).as("ab_stat"),
          round(when(col("n") % 2 === 0,
              d(col("n1")) * d(col("n") + 2) / lit(4.0))
            .otherwise(d(col("n1")) * d(col("n") + 1) * d(col("n") + 1)
              / (lit(4.0) * d(col("n")))), 6).as("ab_mean_h0"))
        .orderBy("event_type")
    }),

    // ---- Jonckheere-Terpstra ordered-alternative test ---------------------
    // Does extended price rise with the quantity decile band (ordered
    // doses 0..4 = quantity 1-10,…,41-50) within each return flag?
    // J = Σ_{i<j} U_ij computed WITHOUT pairwise expansion: per (flag,
    // centi-price) block the 5 band counts pivot wide, GlobalRank's
    // distributed running sums carry each band's strictly-smaller
    // cumulative, and 2J = Σ_blocks Σ_j cnt_j·(2·Σ_{i<j} cum_i +
    // Σ_{i<j} cnt_i) — ties contribute the standard half. All integer;
    // J and the null mean (n² − Σn_b²)/4 are exact power-of-two
    // divisions. Shuffles scale with distinct prices, not pairs.
    "agg_jonckheere" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
        expr("(CAST(l_quantity AS BIGINT) - 1) div 10").as("qb"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("pc"))
      val bandCounts = (0 to 4).map(k => count_if(col("qb") === k).as(s"c$k"))
      val wide = li.groupBy("l_returnflag", "pc")
        .agg(bandCounts.head, bandCounts.tail: _*)
      // the distinct-(flag, price) ledger is catalog-scaled, so the 5
      // cumulative band counts ride GlobalRank's distributed running
      // sums (3 flags); exclusive prefix = inclusive − current.
      val cum0 = GlobalRank.withRunningSums(wide,
        (0 to 4).map(k => (col(s"c$k"), s"ic$k", s"__jt$k")),
        Seq("l_returnflag"), Seq(col("pc").asc), groupsHint = 3)
      val cum = (0 to 4).foldLeft(cum0) { (df, k) =>
        df.withColumn(s"u$k", col(s"ic$k") - col(s"c$k"))
      }
      val contrib2 = (1 to 4).map { j =>
        val lt = (0 until j).map(i => col(s"u$i")).reduce(_ + _)
        val eq = (0 until j).map(i => col(s"c$i")).reduce(_ + _)
        col(s"c$j") * (lt * 2 + eq)
      }.reduce(_ + _)
      val flagAggs = Seq(
        sum((0 to 4).map(k => col(s"c$k")).reduce(_ + _)).as("n"),
        sum("j2").as("jj")) ++
        (0 to 4).map(k => sum(col(s"c$k")).as(s"n$k"))
      cum.withColumn("j2", contrib2)
        .groupBy("l_returnflag")
        .agg(flagAggs.head, flagAggs.tail: _*)
        .select(col("l_returnflag"), col("n"),
          (d(col("jj")) / lit(2.0)).as("j_stat"),
          ((d(col("n")) * d(col("n")) -
            (0 to 4).map(k => d(col(s"n$k")) * d(col(s"n$k"))).reduce(_ + _))
            / lit(4.0)).as("j_mean_h0"))
        .orderBy("l_returnflag")
    }),

    // ---- Bartlett variance-homogeneity test --------------------------------
    // Are event-value variances equal across the 5 event types? Per-
    // group exact decimal moments (n, Σv, Σv²) with the ANOVA re-cap
    // discipline give each s² as one rational→double image, 6dp-
    // rounded before ln (both engines then log the IDENTICAL double);
    // the pooled s², the ln terms and the 1/(nᵢ−1) reciprocals are all
    // rounded-then-decimal-summed, the χ² correction C applied in one
    // final division. One corpus shuffle into 5 rows into 1.
    "agg_bartlett" -> ((s, dir) => {
      val v = col("value").cast(DecimalType(18, 6))
      val g = Tables.events(s, dir)
        .select(col("event_type"), v.as("v"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum("v").as("sg"),
          sum(col("v") * col("v")).as("ssg"))
        .withColumn("s2", round(
          (d(col("ssg")) - round(d(col("sg")) * d(col("sg")) / d(col("ng")), 8))
            / d(col("ng") - 1), 6))
      val agg = g.agg(sum("ng").as("n"), count(lit(1)).as("k"),
        sum(round((col("ng") - 1) * col("s2"), 6).cast(DecimalType(28, 6)))
          .as("pool_num"),
        sum(round((d(col("ng")) - 1.0) * round(log(col("s2")), 6), 6)
          .cast(DecimalType(28, 6))).as("lnsum"),
        sum(round(lit(1.0) / d(col("ng") - 1), 10).cast(DecimalType(28, 10)))
          .as("recip"))
      val nk = d(col("n")) - d(col("k"))
      val sp2 = round(d(col("pool_num")) / nk, 6)
      val num = nk * round(log(sp2), 6) - d(col("lnsum"))
      val c = lit(1.0) + (d(col("recip")) - lit(1.0) / nk) /
        (lit(3.0) * (d(col("k")) - 1.0))
      agg.select(col("n"), col("k"), sp2.as("pooled_var"),
        round(num / c, 4).as("chi2_stat"))
    }),

    // ---- Wilcoxon signed-rank (paired) ------------------------------------
    // Paired month-half comparison: per event type, day d's centi
    // revenue pairs with day d+15; zero differences drop (the textbook
    // exclusion), |diff| midranks come from per-|diff| blocks so the
    // W+ numerator Σ t_pos·(lo+hi) stays integer (halved exactly
    // once), and z uses the tie-corrected variance (2n(n+1)(2n+1) −
    // Σ(t³−t))/48 — integer to one sqrt and one division. Day-bounded:
    // ≤15 pairs per type regardless of SF.
    "agg_wilcoxon_signedrank" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val pairs = daily.where(col("day") <= 15)
        .join(daily.toDF("et2", "day2", "xc2"),
          col("event_type") === col("et2") && col("day2") === col("day") + 15)
        .select(col("event_type"), col("day"),
          (col("xc") - col("xc2")).as("diff"))
        .where(col("diff") =!= 0)
        .withColumn("ad", abs(col("diff")))
      val w = Window.partitionBy("event_type").orderBy(col("ad"), col("day"))
      val blk = pairs.withColumn("rn", row_number().over(w))
        .groupBy("event_type", "ad")
        .agg(min("rn").as("lo"), max("rn").as("hi"), count(lit(1)).as("t"),
          count_if(col("diff") > 0).as("tpos"))
      val agg = blk.groupBy("event_type")
        .agg(sum("t").as("n"),
          sum(col("tpos") * (col("lo") + col("hi"))).as("w2"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val wplus = d(col("w2")) / lit(2.0)
      val mean = d(col("n")) * d(col("n") + 1) / lit(4.0)
      val variance = (lit(2.0) * d(col("n")) * d(col("n") + 1)
        * d(col("n") * 2 + 1) - d(col("ties"))) / lit(48.0)
      agg.select(col("event_type"), col("n").as("n_pairs"),
          wplus.as("w_plus"), round((wplus - mean) / sqrt(variance), 6).as("z"))
        .orderBy("event_type")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_ansari_bradley" -> """
      |WITH ev AS (SELECT event_type, event_id, (user_id % 2 = 0) AS treat,
      |    CAST(value AS DECIMAL(18,6)) AS v FROM events),
      |r AS (SELECT event_type, v, treat,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY v, event_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM ev),
      |blk AS (SELECT event_type, v, min(rn) AS lo, max(rn) AS hi,
      |    CAST(count(*) AS BIGINT) AS t,
      |    CAST(count(*) FILTER (treat) AS BIGINT) AS tt, max(n) AS n
      |  FROM r GROUP BY 1, 2),
      |sc AS (SELECT event_type, n, t, tt,
      |    CASE WHEN lo <= least(hi, (n+1) // 2)
      |         THEN (lo + least(hi, (n+1) // 2))
      |              * (least(hi, (n+1) // 2) - lo + 1) // 2 ELSE 0 END
      |    + CASE WHEN greatest(lo, (n+1) // 2 + 1) <= hi
      |         THEN (n+1) * (hi - greatest(lo, (n+1) // 2 + 1) + 1)
      |              - (greatest(lo, (n+1) // 2 + 1) + hi)
      |                * (hi - greatest(lo, (n+1) // 2 + 1) + 1) // 2
      |         ELSE 0 END AS sblk
      |  FROM blk)
      |SELECT event_type, CAST(sum(tt) AS BIGINT) AS n_treat,
      |  CAST(max(n) - sum(tt) AS BIGINT) AS n_ctrl,
      |  CAST(sum(CAST(round(CAST(tt * sblk AS DOUBLE) / CAST(t AS DOUBLE), 6)
      |    AS DECIMAL(28,6))) AS DOUBLE) AS ab_stat,
      |  round(CASE WHEN max(n) % 2 = 0
      |    THEN CAST(sum(tt) AS DOUBLE) * CAST(max(n) + 2 AS DOUBLE) / 4.0
      |    ELSE CAST(sum(tt) AS DOUBLE) * CAST(max(n) + 1 AS DOUBLE)
      |         * CAST(max(n) + 1 AS DOUBLE) / (4.0 * CAST(max(n) AS DOUBLE))
      |    END, 6) AS ab_mean_h0
      |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_jonckheere" -> """
      |WITH li AS (SELECT l_returnflag,
      |    (CAST(l_quantity AS BIGINT) - 1) // 10 AS qb,
      |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS pc
      |  FROM lineitem),
      |wide AS (SELECT l_returnflag, pc,
      |    CAST(count(*) FILTER (qb = 0) AS BIGINT) AS c0,
      |    CAST(count(*) FILTER (qb = 1) AS BIGINT) AS c1,
      |    CAST(count(*) FILTER (qb = 2) AS BIGINT) AS c2,
      |    CAST(count(*) FILTER (qb = 3) AS BIGINT) AS c3,
      |    CAST(count(*) FILTER (qb = 4) AS BIGINT) AS c4
      |  FROM li GROUP BY 1, 2),
      |cum AS (SELECT *,
      |    coalesce(sum(c0) OVER w, 0) AS u0, coalesce(sum(c1) OVER w, 0) AS u1,
      |    coalesce(sum(c2) OVER w, 0) AS u2, coalesce(sum(c3) OVER w, 0) AS u3
      |  FROM wide WINDOW w AS (PARTITION BY l_returnflag ORDER BY pc
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |ct AS (SELECT l_returnflag, c0 + c1 + c2 + c3 + c4 AS nv,
      |    c0, c1, c2, c3, c4,
      |    c1 * (2 * u0 + c0)
      |    + c2 * (2 * (u0 + u1) + c0 + c1)
      |    + c3 * (2 * (u0 + u1 + u2) + c0 + c1 + c2)
      |    + c4 * (2 * (u0 + u1 + u2 + u3) + c0 + c1 + c2 + c3) AS j2
      |  FROM cum)
      |SELECT l_returnflag, CAST(sum(nv) AS BIGINT) AS n,
      |  CAST(sum(j2) AS DOUBLE) / 2.0 AS j_stat,
      |  (CAST(sum(nv) AS DOUBLE) * CAST(sum(nv) AS DOUBLE)
      |   - CAST(sum(c0) AS DOUBLE) * CAST(sum(c0) AS DOUBLE)
      |   - CAST(sum(c1) AS DOUBLE) * CAST(sum(c1) AS DOUBLE)
      |   - CAST(sum(c2) AS DOUBLE) * CAST(sum(c2) AS DOUBLE)
      |   - CAST(sum(c3) AS DOUBLE) * CAST(sum(c3) AS DOUBLE)
      |   - CAST(sum(c4) AS DOUBLE) * CAST(sum(c4) AS DOUBLE)) / 4.0
      |    AS j_mean_h0
      |FROM ct GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_bartlett" -> """
      |WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
      |    sum(CAST(value AS DECIMAL(18,6))) AS sg,
      |    sum(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))
      |      * CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))) AS ssg
      |  FROM events GROUP BY 1),
      |v AS (SELECT event_type, ng,
      |    round((CAST(ssg AS DOUBLE)
      |      - round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
      |          / CAST(ng AS DOUBLE), 8))
      |      / CAST(ng - 1 AS DOUBLE), 6) AS s2
      |  FROM g),
      |a AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    sum(CAST(round(CAST(ng - 1 AS DOUBLE) * s2, 6)
      |      AS DECIMAL(28,6))) AS pool_num,
      |    sum(CAST(round(CAST(ng - 1 AS DOUBLE) * round(ln(s2), 6), 6)
      |      AS DECIMAL(28,6))) AS lnsum,
      |    sum(CAST(round(1.0 / CAST(ng - 1 AS DOUBLE), 10)
      |      AS DECIMAL(28,10))) AS recip
      |  FROM v)
      |SELECT n, k,
      |  round(CAST(pool_num AS DOUBLE) / CAST(n - k AS DOUBLE), 6)
      |    AS pooled_var,
      |  round((CAST(n - k AS DOUBLE)
      |      * round(ln(round(CAST(pool_num AS DOUBLE)
      |          / CAST(n - k AS DOUBLE), 6)), 6)
      |      - CAST(lnsum AS DOUBLE))
      |    / (1.0 + (CAST(recip AS DOUBLE) - 1.0 / CAST(n - k AS DOUBLE))
      |        / (3.0 * CAST(k - 1 AS DOUBLE))), 4) AS chi2_stat
      |FROM a""".stripMargin,

    "agg_wilcoxon_signedrank" -> s"""
      |WITH $dailyCentiSql,
      |pairs AS (SELECT a.event_type, a.day, a.xc - b.xc AS diff,
      |    abs(a.xc - b.xc) AS ad
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type
      |    AND b.day = a.day + 15
      |  WHERE a.day <= 15 AND a.xc - b.xc <> 0),
      |r AS (SELECT event_type, ad, diff,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY ad, day) AS BIGINT) AS rn
      |  FROM pairs),
      |blk AS (SELECT event_type, ad, min(rn) AS lo, max(rn) AS hi,
      |    CAST(count(*) AS BIGINT) AS t,
      |    CAST(count(*) FILTER (diff > 0) AS BIGINT) AS tpos
      |  FROM r GROUP BY 1, 2),
      |a AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
      |    CAST(sum(tpos * (lo + hi)) AS BIGINT) AS w2,
      |    CAST(sum(t * t * t - t) AS BIGINT) AS ties
      |  FROM blk GROUP BY 1)
      |SELECT event_type, n AS n_pairs,
      |  CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
      |  round((CAST(w2 AS DOUBLE) / 2.0
      |      - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
      |    / sqrt((2.0 * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
      |        * CAST(2 * n + 1 AS DOUBLE) - CAST(ties AS DOUBLE)) / 48.0),
      |    6) AS z
      |FROM a ORDER BY event_type""".stripMargin)
}
