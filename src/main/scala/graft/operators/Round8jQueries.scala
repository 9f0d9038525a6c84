package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 tenth wave: distribution-distance statistics — the
  * Wasserstein-1 (earth mover's) complement of agg_ks_test's L∞, and
  * the total-variation / Hellinger / Canberra divergences between
  * categorical profiles and their corpus marginals.
  *
  * Determinism: W1 rides GlobalRank.withRunningSums exactly like
  * agg_ks_test (range-partitioned prefix sums, never a single-task
  * window) with the step widths recovered by a rank+1 equi-self-join;
  * every CDF/share comparison is an integer cross-multiplication
  * (|cumA·nB − cumB·nA|, |c·N − C·n|) summed in decimal, one final
  * division; Hellinger's per-cell √(cnt·cnt) is IEEE-exact sqrt of an
  * exact integer product, 8dp-rounded then decimal-summed.
  */
object Round8jQueries extends graft.QueryFamily {

  /** Complete source × lang grid with per-cell doc counts, per-source
    * and per-lang totals and the corpus total (zero cells kept — the
    * marginal mass a source is MISSING from a language must count). */
  private def langGrid(s: SparkSession, dir: String) = {
    val docs = Tables.documents(s, dir).select("source", "lang")
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("ns"))
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
    val total = docs.agg(count(lit(1)).as("ntot"))
    val cell = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
    bySrc.crossJoin(broadcast(byLang)) // 15 × 5 catalog-bounded grid
      .join(cell, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(total))
  }

  private val langGridSql =
    """grid AS (
      |  SELECT s.source, l.lang, s.ns, l.nl, coalesce(c.c, 0) AS c,
      |    (SELECT count(*) FROM documents) AS ntot
      |  FROM (SELECT source, CAST(count(*) AS BIGINT) AS ns
      |        FROM documents GROUP BY 1) s
      |  CROSS JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS nl
      |        FROM documents GROUP BY 1) l
      |  LEFT JOIN (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      |        FROM documents GROUP BY 1, 2) c
      |    ON s.source = c.source AND l.lang = c.lang)""".stripMargin

  /** The Wasserstein-1 pipeline over an arbitrary (event_type, v,
    * treat) frame — the declared query runs it on the fixture events;
    * ScaleDryRun replays the SAME pipeline at k× volume (the
    * llm_dedup_paragraph refactor pattern). */
  private[graft] def w1Pipeline(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val g = ev.groupBy("event_type", "v")
      .agg(count_if(col("treat")).as("ct"), count_if(!col("treat")).as("cc"))
    val r = graft.tools.Materialize.eager("emd.cum",
      GlobalRank.withRunningSums(g,
        Seq((col("ct"), "rt", "nt"), (col("cc"), "rc", "nc"),
          (lit(1L), "idx", "nv")),
        Seq("event_type"), Seq(col("v").asc),
        groupsHint = 16)) // 5 event types in the schema
    val steps = r.select(col("event_type"), col("idx"), col("v"),
        col("rt"), col("rc"), col("nt"), col("nc"))
      .join(r.select(col("event_type").as("et2"),
          (col("idx") - 1).as("idx2"), col("v").as("v2")),
        col("event_type") === col("et2") && col("idx") === col("idx2"))
      .select(col("event_type"), col("nt"), col("nc"),
        (abs(col("rt") * col("nc") - col("rc") * col("nt"))
          .cast(DecimalType(38, 0)) *
          ((col("v2") - col("v")) * 1000000)
            .cast(DecimalType(18, 0)).cast(DecimalType(38, 0)))
          .as("term"))
    steps.groupBy("event_type")
      .agg(max("nt").as("n_treat"), max("nc").as("n_ctrl"),
        sum("term").as("num"))
      .select(col("event_type"), col("n_treat"), col("n_ctrl"),
        round(d(col("num")) / (d(col("n_treat")) * d(col("n_ctrl"))
          * lit(1e6)), 6).as("w1"))
      .orderBy("event_type")
  }

  val queries: Map[String, QFn] = Map(

    // ---- Wasserstein-1 (earth mover's) distance ---------------------------
    // W1 between treatment and control value distributions per event
    // type = ∫|F_t − F_c| dv over the pooled support — the L1 sibling
    // of agg_ks_test's max gap (KS fires on any single shift, W1
    // measures how much mass moved how far). Prefix sums ride
    // withRunningSums; consecutive support values pair by a rank+1
    // equi-join (never a lead() over a global order); each step
    // contributes |cumT·nC − cumC·nT| · Δv_micro as an exact integer
    // into a decimal(38) sum, one division at the end.
    "agg_emd_wasserstein" -> ((s, dir) =>
      w1Pipeline(Tables.events(s, dir).select(col("event_type"),
        col("value").cast(DecimalType(18, 6)).as("v"),
        (col("user_id") % 2 === 0).as("treat")))),
    // ---- total-variation distance -----------------------------------------
    // TVD between each source's language profile and the corpus
    // marginal = ½ Σ_lang |p − q| — the "how skewed is this crawl
    // slice" report. Zero cells kept via the complete grid; every term
    // is the integer |c·N − n_l·n_s|, summed exactly, halved in the
    // single final division.
    "agg_tvd_lang" -> ((s, dir) =>
      langGrid(s, dir)
        .select(col("source"), col("ns"), col("ntot"),
          abs(col("c") * col("ntot") - col("nl") * col("ns")).as("num"))
        .groupBy("source")
        .agg(max("ns").as("n_docs"),
          round(d(sum("num")) / (lit(2.0) * d(max("ns")) * d(max("ntot"))), 6)
            .as("tvd"))
        .orderBy("source")),

    // ---- Hellinger distance -------------------------------------------------
    // Hellinger between the same profiles: H = √(1 − BC) with the
    // Bhattacharyya coefficient BC = Σ_l √(p·q) = Σ_l √(c·n_l) /
    // √(n_s·N). √ of an exact integer product is IEEE-correctly
    // rounded on both engines (unlike ln/pow), so each cell term is
    // √(c·n_l) rounded to 8dp and decimal-summed; one division, one
    // outer √, 6dp.
    "agg_hellinger_lang" -> ((s, dir) =>
      langGrid(s, dir)
        .select(col("source"), col("ns"), col("ntot"),
          round(sqrt(d(col("c") * col("nl"))), 8)
            .cast(DecimalType(28, 8)).as("bterm"))
        .groupBy("source")
        .agg(max("ns").as("n_docs"),
          (d(sum("bterm")) / sqrt(d(max("ns")) * d(max("ntot")))).as("bcr"))
        .select(col("source"), col("n_docs"),
          round(col("bcr"), 6).as("bhattacharyya"),
          round(sqrt(greatest(lit(0.0), lit(1.0) - col("bcr"))), 6)
            .as("hellinger"))
        .orderBy("source")),

    // ---- Canberra distance ---------------------------------------------------
    // Canberra between each event type's day-of-month activity profile
    // and the corpus profile: Σ_d |p−q|/(p+q) — the share-weighted L1
    // that amplifies small-category drift. Cross-multiplied integer
    // numerator/denominator per day (|c·N − C·n| over c·N + C·n), each
    // exact rational 8dp-rounded then decimal-summed; day grid is
    // calendar-bounded (≤31 rows per type).
    "agg_canberra_daily" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), dayofmonth(col("ts")).cast("long").as("day"))
      val byType = ev.groupBy("event_type").agg(count(lit(1)).as("nt"))
      val byDay = ev.groupBy("day").agg(count(lit(1)).as("cd"))
      val total = ev.agg(count(lit(1)).as("ntot"))
      val cell = ev.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      byType.crossJoin(broadcast(byDay)) // 5 × ≤31 calendar-bounded grid
        .join(cell, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("c"))
        .crossJoin(broadcast(total))
        .select(col("event_type"), col("nt"),
          when(col("c") * col("ntot") + col("cd") * col("nt") > 0,
            round(d(abs(col("c") * col("ntot") - col("cd") * col("nt")))
              / d(col("c") * col("ntot") + col("cd") * col("nt")), 8))
            .otherwise(lit(0.0)).cast(DecimalType(28, 8)).as("term"))
        .groupBy("event_type")
        .agg(max("nt").as("n_events"), d(sum("term")).as("canberra"))
        .orderBy("event_type")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_emd_wasserstein" -> """
      |WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
      |    (user_id % 2 = 0) AS treat FROM events),
      |g AS (SELECT event_type, v,
      |    CAST(count(*) FILTER (treat) AS BIGINT) AS ct,
      |    CAST(count(*) FILTER (NOT treat) AS BIGINT) AS cc
      |  FROM ev GROUP BY 1, 2),
      |cum AS (SELECT event_type, v,
      |    CAST(sum(ct) OVER w AS BIGINT) AS rt,
      |    CAST(sum(cc) OVER w AS BIGINT) AS rc,
      |    CAST(sum(ct) OVER p AS BIGINT) AS nt,
      |    CAST(sum(cc) OVER p AS BIGINT) AS nc,
      |    lead(v) OVER (PARTITION BY event_type ORDER BY v) AS v2
      |  FROM g
      |  WINDOW w AS (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    p AS (PARTITION BY event_type)),
      |st AS (SELECT event_type, nt, nc,
      |    CAST(abs(rt * nc - rc * nt) AS DECIMAL(38,0))
      |      * CAST(CAST((v2 - v) * 1000000 AS DECIMAL(18,0))
      |          AS DECIMAL(38,0)) AS term
      |  FROM cum WHERE v2 IS NOT NULL)
      |SELECT event_type, max(nt) AS n_treat, max(nc) AS n_ctrl,
      |  round(CAST(sum(term) AS DOUBLE)
      |    / (CAST(max(nt) AS DOUBLE) * CAST(max(nc) AS DOUBLE) * 1e6), 6)
      |    AS w1
      |FROM st GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_tvd_lang" -> s"""
      |WITH $langGridSql
      |SELECT source, max(ns) AS n_docs,
      |  round(CAST(sum(abs(c * ntot - nl * ns)) AS DOUBLE)
      |    / (2.0 * CAST(max(ns) AS DOUBLE) * CAST(max(ntot) AS DOUBLE)), 6)
      |    AS tvd
      |FROM grid GROUP BY source ORDER BY source""".stripMargin,

    "agg_hellinger_lang" -> s"""
      |WITH $langGridSql,
      |b AS (SELECT source, ns, ntot,
      |    CAST(round(sqrt(CAST(c * nl AS DOUBLE)), 8) AS DECIMAL(28,8))
      |      AS bterm
      |  FROM grid),
      |a AS (SELECT source, max(ns) AS n_docs,
      |    CAST(sum(bterm) AS DOUBLE)
      |      / sqrt(CAST(max(ns) AS DOUBLE) * CAST(max(ntot) AS DOUBLE))
      |      AS bcr
      |  FROM b GROUP BY source)
      |SELECT source, n_docs, round(bcr, 6) AS bhattacharyya,
      |  round(sqrt(greatest(0.0, 1.0 - bcr)), 6) AS hellinger
      |FROM a ORDER BY source""".stripMargin,

    "agg_canberra_daily" -> """
      |WITH ev AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day
      |  FROM events),
      |grid AS (
      |  SELECT t.event_type, dd.day, t.nt, dd.cd, coalesce(c.c, 0) AS c,
      |    (SELECT count(*) FROM ev) AS ntot
      |  FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS nt
      |        FROM ev GROUP BY 1) t
      |  CROSS JOIN (SELECT day, CAST(count(*) AS BIGINT) AS cd
      |        FROM ev GROUP BY 1) dd
      |  LEFT JOIN (SELECT event_type, day, CAST(count(*) AS BIGINT) AS c
      |        FROM ev GROUP BY 1, 2) c
      |    ON t.event_type = c.event_type AND dd.day = c.day),
      |t AS (SELECT event_type, nt,
      |    CASE WHEN c * ntot + cd * nt > 0
      |         THEN CAST(round(CAST(abs(c * ntot - cd * nt) AS DOUBLE)
      |           / CAST(c * ntot + cd * nt AS DOUBLE), 8) AS DECIMAL(28,8))
      |         ELSE CAST(0 AS DECIMAL(28,8)) END AS term
      |  FROM grid)
      |SELECT event_type, max(nt) AS n_events,
      |  CAST(sum(term) AS DOUBLE) AS canberra
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)
}
