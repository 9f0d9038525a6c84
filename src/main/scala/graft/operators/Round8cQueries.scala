package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 third wave: the rank-based k-group test family that
  * completes the nonparametric battery (Kruskal–Wallis beside the
  * 2-arm Mann–Whitney, Friedman for matched blocks), the
  * Brown–Forsythe variance-homogeneity test (the assumption check the
  * parametric family relies on), and corpus-level Flesch–Kincaid
  * readability for the text-quality surface.
  *
  * Determinism: rank stages run on DISTINCT-VALUE count tables via
  * GlobalRank.withRunningSums (the agg_spearman shape — the shuffle
  * scales with |distinct values|, never rows), midranks stay integer
  * via the doubled 2R = lo + hi trick, and the ONLY cross-row float
  * sums (per-group squared-term reductions over ≤ k rows) are
  * 4/6dp-rounded decimals, order-free by construction.
  */
object Round8cQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Kruskal–Wallis H (k-group rank ANOVA) --------------------------
    // Does `value` differ across the k event types? Global midranks
    // over the DISTINCT-VALUE table (2R = 2·hi − cnt + 1, exact
    // integers), per-group rank sums as exact longs, tie correction
    // from exact Σ(t³−t); the per-group (S_j)²/n_j terms are
    // 4dp-rounded decimals so their k-row sum is order-free.
    "agg_kruskal_wallis" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value").cast(DecimalType(18, 6)).as("v"))
      val byV = ev.groupBy("v").agg(count(lit(1)).as("cnt"))
      val ranked = GlobalRank.withRunningSums(byV,
          Seq((col("cnt"), "hi", "__n")), Seq.empty, Seq(col("v").asc))
        .select(col("v").as("v2"), (col("hi") * 2 - col("cnt") + 1).as("r2"),
          col("cnt").as("tcnt"))
      val byGV = ev.groupBy("event_type", "v").agg(count(lit(1)).as("cj"))
      val grp = byGV.join(ranked, col("v") === col("v2"))
        .groupBy("event_type")
        .agg(sum(col("cj") * col("r2")).as("s2"), sum("cj").as("nj"))
      // term = s2²/(4·nj) as an EXACT half-up 1e-4 integer via a
      // decimal-domain quotient/remainder split (BoundaryGuard r9:
      // s2²/(4·nj) with a 2-5-smooth per-type count terminates and
      // lands exactly on 4dp half boundaries). num % den is exact on
      // decimals; (num − r)/den is an exact integer so the decimal
      // division is representation-exact; the half-up div runs only on
      // the small remainder (r·2e4 ≤ ~2e12, int64-safe at any SF), and
      // q·1e4 + frac4 carries naturally when frac4 = 1e4. q stays
      // inside decimal precision through ~sf1000.
      val tot = grp
        .withColumn("num", col("s2").cast(DecimalType(38, 0)) * col("s2"))
        .withColumn("den", col("nj") * 4)
        .withColumn("r", expr("num % den"))
        .withColumn("q", ((col("num") - col("r")) / col("den"))
          .cast(DecimalType(38, 0)))
        .withColumn("frac4", expr("(2 * 10000 * r + den) div (2 * den)"))
        .select(col("nj"), (col("q") * 10000 + col("frac4")).as("term4"))
        .agg(sum("nj").as("n"), count(lit(1)).as("k"),
          (sum(col("term4")).cast(DoubleType) / 1.0e4).as("st"))
      val ties = ranked
        .agg(sum(col("tcnt") * col("tcnt") * col("tcnt") - col("tcnt")).as("t"))
      tot.crossJoin(broadcast(ties))
        .select(col("n"), col("k"), col("t").as("tie_sum"),
          round(lit(12.0) / (d(col("n")) * (d(col("n")) + 1)) * col("st")
            - lit(3.0) * (d(col("n")) + 1), 6).as("h_stat"),
          round((lit(12.0) / (d(col("n")) * (d(col("n")) + 1)) * col("st")
            - lit(3.0) * (d(col("n")) + 1)) /
            (lit(1.0) - d(col("t")) /
              (d(col("n")) * d(col("n")) * d(col("n")) - d(col("n")))), 6)
            .as("h_tie_corrected"))
    }),

    // ---- Brown–Forsythe (Levene with medians) ---------------------------
    // Variance homogeneity across event types: deviations z = |v − m̃_j|
    // from the exact LOW-MEDIAN (value at rank ⌈n_j/2⌉ via the
    // distinct-value running counts — no row-level sort), exact decimal
    // z moments, W from the standard closed form; the k per-group
    // (Σz)²/n terms are 6dp-rounded decimals before the k-row sum.
    "agg_levene_bf" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value").cast(DecimalType(18, 6)).as("v"))
      val byGV = ev.groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
      val med = GlobalRank.withRunningSums(byGV,
          Seq((col("cnt"), "hi", "nj")), Seq("event_type"), Seq(col("v").asc),
          groupsHint = 16)
        .groupBy("event_type")
        .agg(min(when(col("hi") >= expr("(nj + 1) div 2"), col("v"))).as("med"))
      val z = ev.join(broadcast(med), "event_type")
        .withColumn("z", abs(col("v") - col("med")).cast(DecimalType(19, 6)))
        .withColumn("zz", col("z") * col("z"))
      val g = z.groupBy("event_type")
        .agg(count(lit(1)).as("nj"), sum("z").as("sz"), sum("zz").as("qz"))
      g.select(col("nj"), col("sz"), col("qz"),
          round(d(col("sz")) * d(col("sz")) / d(col("nj")), 6)
            .cast(DecimalType(38, 6)).as("term"))
        .agg(sum("nj").as("n"), count(lit(1)).as("k"),
          sum("sz").as("szt"), sum("qz").as("qzt"),
          sum("term").cast(DoubleType).as("st"))
        .select(col("n"), col("k"),
          round(((d(col("n")) - d(col("k"))) / (d(col("k")) - 1)) *
            (col("st") - d(col("szt")) * d(col("szt")) / d(col("n"))) /
            (d(col("qzt")) - col("st")), 6).as("w_stat"))
    }),

    // ---- Friedman test over (day × event type) blocks -------------------
    // Matched-block rank test: within each COMPLETE day (all k types
    // present), midrank the k daily sums (2R = lo + hi over the 5-row
    // day window — bounded by k); χ²_F from per-type exact rank-sum
    // longs, the k squared terms 4dp-rounded before summation.
    "agg_friedman" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val kRow = daily.agg(countDistinct("event_type").as("k"))
      val dayCnt = daily.groupBy("day").agg(count(lit(1)).as("c"))
      val complete = daily.join(broadcast(dayCnt), "day")
        .crossJoin(broadcast(kRow)).where(col("c") === col("k"))
      val w = Window.partitionBy("day").orderBy(col("xc"), col("event_type"))
      val rn = complete.withColumn("rn", row_number().over(w).cast("long"))
      val mid = rn
        .withColumn("lo", min("rn").over(Window.partitionBy("day", "xc")))
        .withColumn("hi", max("rn").over(Window.partitionBy("day", "xc")))
        .withColumn("r2", col("lo") + col("hi"))
      val perType = mid.groupBy("event_type")
        .agg(sum("r2").as("s2"), count(lit(1)).as("nb"), max("k").as("k"))
      perType
        .select(col("nb"), col("k"),
          round(d(col("s2")) * d(col("s2")) / 4.0, 4)
            .cast(DecimalType(38, 4)).as("term"))
        .agg(max("nb").as("n_blocks"), max("k").as("k"),
          sum("term").cast(DoubleType).as("st"))
        .select(col("n_blocks"), col("k"),
          round(lit(12.0) / (d(col("n_blocks")) * d(col("k"))
              * (d(col("k")) + 1)) * col("st")
            - lit(3.0) * d(col("n_blocks")) * (d(col("k")) + 1), 6).as("chi2_f"))
    }),

    // ---- Flesch–Kincaid readability (corpus-level, per language) --------
    // Grade = 0.39·W/S + 11.8·SY/W − 15.59 over per-language TOTALS
    // (exact long counts of words, sentence enders, vowel-group
    // syllables — corpus-level ratios, so no per-doc float mean).
    // Syllable proxy: maximal [aeiouyAEIOUY]+ groups; sentence proxy:
    // count of .!? chars, min 1 per doc. Greedy character-class
    // regexes behave identically in Java regex and RE2.
    "llm_readability_fk" -> ((s, dir) => {
      val doc = Tables.documents(s, dir).select(col("lang"),
          nTok.as("w"),
          nSent.as("sent"),
          (length(regexp_replace(col("text"), "[aeiouyAEIOUY]+", "#"))
            - length(regexp_replace(col("text"), "[aeiouyAEIOUY]+", "")))
            .cast("long").as("syl"))
        .where(col("w") >= 1)
      doc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
          sum("sent").as("sentences"), sum("syl").as("syllables"))
        .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
          col("syllables"),
          round(lit(0.39) * d(col("words")) / d(col("sentences"))
            + lit(11.8) * d(col("syllables")) / d(col("words"))
            - 15.59, 4).as("fk_grade"))
        .orderBy("lang")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_kruskal_wallis" -> """
      |WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |byv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM ev GROUP BY v),
      |rk AS (SELECT v, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) * 2 - cnt + 1 AS r2
      |  FROM byv),
      |bygv AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS cj
      |  FROM ev GROUP BY 1, 2),
      |grp AS (SELECT event_type, CAST(sum(cj * r2) AS BIGINT) AS s2,
      |    CAST(sum(cj) AS BIGINT) AS nj
      |  FROM bygv JOIN rk USING (v) GROUP BY event_type),
      |t4 AS (SELECT nj,
      |    (CAST(s2 AS HUGEINT) * s2) // (4 * nj) * 10000
      |      + (2 * 10000 * ((CAST(s2 AS HUGEINT) * s2) % (4 * nj))
      |         + 4 * nj) // (8 * nj) AS term4
      |  FROM grp),
      |tot AS (SELECT CAST(sum(nj) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(term4) AS DOUBLE) / 10000.0 AS st
      |  FROM t4),
      |tie AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t FROM rk)
      |SELECT n, k, t AS tie_sum,
      |  round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * st
      |    - 3 * (CAST(n AS DOUBLE) + 1), 6) AS h_stat,
      |  round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * st
      |    - 3 * (CAST(n AS DOUBLE) + 1)) /
      |    (1.0 - CAST(t AS DOUBLE) /
      |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        - CAST(n AS DOUBLE))), 6) AS h_tie_corrected
      |FROM tot CROSS JOIN tie""".stripMargin,

    "agg_levene_bf" -> """
      |WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |bygv AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
      |  FROM ev GROUP BY 1, 2),
      |rk AS (SELECT event_type, v,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT)
      |      AS hi,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS nj
      |  FROM bygv),
      |med AS (SELECT event_type,
      |    min(CASE WHEN hi >= (nj + 1) // 2 THEN v END) AS med
      |  FROM rk GROUP BY event_type),
      |z AS (SELECT ev.event_type,
      |    CAST(abs(v - med) AS DECIMAL(19,6)) AS z
      |  FROM ev JOIN med USING (event_type)),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nj,
      |    sum(z) AS sz, sum(z * z) AS qz
      |  FROM z GROUP BY event_type),
      |tot AS (SELECT CAST(sum(nj) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k,
      |    sum(sz) AS szt, sum(qz) AS qzt,
      |    CAST(sum(CAST(round(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
      |      / CAST(nj AS DOUBLE), 6) AS DECIMAL(38,6))) AS DOUBLE) AS st
      |  FROM g)
      |SELECT n, k,
      |  round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
      |      / (CAST(k AS DOUBLE) - 1)) *
      |    (st - CAST(szt AS DOUBLE) * CAST(szt AS DOUBLE) / CAST(n AS DOUBLE)) /
      |    (CAST(qzt AS DOUBLE) - st), 6) AS w_stat
      |FROM tot""".stripMargin,

    "agg_friedman" -> s"""
      |WITH $dailyCentiSql,
      |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily),
      |dc AS (SELECT day, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY day),
      |comp AS (SELECT daily.*, k FROM daily
      |  JOIN dc USING (day) CROSS JOIN kk WHERE c = k),
      |rn AS (SELECT event_type, day, xc, k,
      |    CAST(row_number() OVER (PARTITION BY day ORDER BY xc, event_type)
      |      AS BIGINT) AS rn
      |  FROM comp),
      |mid AS (SELECT event_type, day, k,
      |    CAST(min(rn) OVER (PARTITION BY day, xc) AS BIGINT)
      |      + CAST(max(rn) OVER (PARTITION BY day, xc) AS BIGINT) AS r2
      |  FROM rn),
      |pt AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS s2,
      |    CAST(count(*) AS BIGINT) AS nb, CAST(max(k) AS BIGINT) AS k
      |  FROM mid GROUP BY event_type),
      |tot AS (SELECT CAST(max(nb) AS BIGINT) AS n_blocks,
      |    CAST(max(k) AS BIGINT) AS k,
      |    CAST(sum(CAST(round(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / 4.0, 4)
      |      AS DECIMAL(38,4))) AS DOUBLE) AS st
      |  FROM pt)
      |SELECT n_blocks, k,
      |  round(12.0 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
      |      * (CAST(k AS DOUBLE) + 1)) * st
      |    - 3 * CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) + 1), 6)
      |    AS chi2_f
      |FROM tot""".stripMargin,

    "llm_readability_fk" -> s"""
      |WITH doc AS (SELECT lang,
      |    CAST(len($duckToks)
      |      AS BIGINT) AS w,
      |    $nSentSql
      |      AS sent,
      |    CAST(length(regexp_replace(text, '[aeiouyAEIOUY]+', '#', 'g'))
      |      - length(regexp_replace(text, '[aeiouyAEIOUY]+', '', 'g'))
      |      AS BIGINT) AS syl
      |  FROM documents),
      |f AS (SELECT * FROM doc WHERE w >= 1)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS words,
      |  CAST(sum(sent) AS BIGINT) AS sentences,
      |  CAST(sum(syl) AS BIGINT) AS syllables,
      |  round(0.39 * CAST(sum(w) AS DOUBLE) / CAST(sum(sent) AS DOUBLE)
      |    + 11.8 * CAST(sum(syl) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
      |    - 15.59, 4) AS fk_grade
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
}
