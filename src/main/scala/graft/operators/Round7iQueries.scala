package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 ninth wave: Kendall τ-b between event-type spend series,
  * the stochastic %K/%D oscillator, Cohen's κ agreement, and
  * bounded-hop eccentricity + component labels over the near-dup
  * graph.
  *
  * Same exact-integer discipline as waves 6–8: concordance counts,
  * oscillator percentages (1e-4-percent units via positive-operand
  * rational half-up), confusion cells and BFS distances are all
  * int64; each output double is one fixed-order expression over
  * identical exact integers.
  */
object Round7iQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Kendall tau-b between spend series --------------------------------
    // Rank correlation between every pair of event types' daily spend
    // series (which demand patterns co-move?) — the concordance
    // complement of agg_spearman's midrank view. The day-aligned pair
    // table is ≤30 rows per type pair; concordant/discordant and the
    // τ-b tie corrections are exact integer counts over C(n,2) day
    // pairs; τ-b is one fixed-order double expression.
    "agg_kendall_tau" -> ((s, dir) => {
      val dy = dailyMicro(s, dir)
      val a = dy.toDF("ta", "day", "xa")
      val b = dy.toDF("tb", "day2", "xb")
      val pairDays = a.join(b, col("day") === col("day2") && col("ta") < col("tb"))
        .select(col("ta"), col("tb"), col("day"), col("xa"), col("xb"))
      val p1 = pairDays.toDF("ta", "tb", "day_i", "xai", "xbi")
      val p2 = pairDays.toDF("ta2", "tb2", "day_j", "xaj", "xbj")
      val sgnA = when(col("xaj") > col("xai"), 1L)
        .when(col("xaj") < col("xai"), -1L).otherwise(0L)
      val sgnB = when(col("xbj") > col("xbi"), 1L)
        .when(col("xbj") < col("xbi"), -1L).otherwise(0L)
      val g = p1.join(p2, col("ta") === col("ta2") && col("tb") === col("tb2") &&
          col("day_i") < col("day_j"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n0"),
          count_if(sgnA * sgnB === 1L).as("conc"),
          count_if(sgnA * sgnB === -1L).as("disc"),
          count_if(sgnA === 0L).as("tie_a"),
          count_if(sgnB === 0L).as("tie_b"))
      g.select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("n0").as("n_pairs"), col("conc"), col("disc"),
          round(d(col("conc") - col("disc")) /
            sqrt(d(col("n0") - col("tie_a")) * d(col("n0") - col("tie_b"))), 6)
            .as("tau_b"))
        .orderBy("type_a", "type_b")
    }),

    // ---- stochastic oscillator --------------------------------------------
    // %K = 100·(x − min₁₄)/(max₁₄ − min₁₄) and %D = its 3-day mean,
    // per event type. %K lives in exact 1e-4-percent integer units
    // (positive-operand rational half-up, so the int div is identical
    // across engines), %D is an integer sum of three %K units — the
    // momentum complement of win_rsi (position-in-range vs
    // gain/loss balance). Flat 14-day windows pin %K to 50 explicitly.
    "win_stochastic_osc" -> ((s, dir) => {
      val wo = Window.partitionBy("event_type").orderBy("day")
      val w14 = wo.rowsBetween(-13, Window.currentRow)
      val k = dailyMicro(s, dir)
        .withColumn("n14", count(lit(1)).over(w14))
        .withColumn("lo", min("xu").over(w14))
        .withColumn("hi", max("xu").over(w14))
        .where(col("n14") === 14)
        // int64 range bound: the half-up numerator is ≤ (2e6+1)·spread,
        // so spread must stay < 2^63 / 2.000001e6 ≈ 4.61e12 µu (~$4.6M
        // 14-day daily-sum spread). DuckDB raises on the overflow;
        // Spark would silently wrap — guard it to the same loud failure
        // instead of a cross-engine divergence. (win_bollinger_bands
        // downshifts to centi-units for headroom; here the guard keeps
        // the µu precision and makes the bound explicit.)
        .withColumn("ku",
          when(col("hi") - col("lo") > lit(4500000000000L), raise_error(lit(
            "win_stochastic_osc: 14-day micro-unit spread exceeds the " +
              "int64-safe bound (~4.6e12 µu); downshift to centi-units")))
            .when(col("hi") === col("lo"), lit(500000L))
            .otherwise(expr(
              "(2000000 * (xu - lo) + (hi - lo)) div (2 * (hi - lo))")))
      val w3 = wo.rowsBetween(-2, Window.currentRow)
      k.withColumn("n3", count(lit(1)).over(w3))
        .withColumn("du", sum("ku").over(w3))
        .where(col("n3") === 3)
        .select(col("event_type"), col("day"),
          (d(col("ku")) / 10000.0).as("k_pct"),
          (d(col("du")) / 30000.0).as("d_pct"))
        .orderBy("event_type", "day")
    }),

    // ---- Cohen's kappa ----------------------------------------------------
    // Chance-corrected agreement between two deterministic document
    // quality raters — A: n_chars ≥ 300, B: whitespace tokens ≥ 55
    // (both median-anchored length proxies) — per language: the
    // inter-annotator-agreement statistic every labeling pipeline
    // reports. Confusion cells are exact counts; po, pe and κ are one
    // fixed-order expression; pe = 1 (all mass in one cell) yields
    // NULL on both engines.
    "agg_cohens_kappa" -> ((s, dir) => {
      val fa = (col("n_chars") >= 300).cast("long")
      val fb = (nTok >= 55).cast("long")
      val g = Tables.documents(s, dir)
        .select(col("lang"), fa.as("a"), fb.as("b"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          count_if(col("a") === 1 && col("b") === 1).as("yy"),
          count_if(col("a") === 1 && col("b") === 0).as("yn"),
          count_if(col("a") === 0 && col("b") === 1).as("ny"),
          count_if(col("a") === 0 && col("b") === 0).as("nn"))
      val po = d(col("yy") + col("nn")) / d(col("n"))
      val pe = (d((col("yy") + col("yn")) * (col("yy") + col("ny"))) +
        d((col("ny") + col("nn")) * (col("yn") + col("nn")))) /
        (d(col("n")) * d(col("n")))
      g.select(col("lang"), col("n"), col("yy"), col("yn"), col("ny"),
          col("nn"),
          when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
        .orderBy("lang")
    }),

    // ---- bounded-hop eccentricity + component label -----------------------
    // Per-node 4-hop eccentricity (how deep is this node's duplication
    // neighborhood) and the min-id component label over reached nodes —
    // the cluster-diagnostics complement of harmonic centrality's
    // closeness view, riding the same multi-source BFS skeleton on the
    // memoized simhash pair artifact. Exact integer distances; the
    // label is a min aggregate, usable directly as a dedup cluster key.
    "graph_eccentricity" -> ((s, dir) => {
      val pairs = graft.tools.PairArtifacts.of(s, dir, "simhash")(
        ScaleQueries.queries("llm_dedup_simhash")(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val edges = graft.tools.Materialize.eager("ecc.edges",
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
      var dist = graft.tools.Materialize.eager("ecc.d0",
        edges.select(col("src").as("root")).distinct()
          .select(col("root"), col("root").as("node"), lit(0L).as("d")))
      for (hop <- 1 to 4) {
        val nxt = edges.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("root"), col("dst").as("node"), (col("d") + 1).as("d"))
        dist = graft.tools.Materialize.eager(s"ecc.d$hop",
          dist.union(nxt).groupBy("root", "node").agg(min("d").as("d")))
      }
      dist.groupBy("root")
        .agg(max("d").as("ecc4"), count_if(col("d") >= 1).as("n_reach"),
          min("node").as("comp_min"))
        .select(col("root").as("doc_id"), col("ecc4"), col("n_reach"),
          col("comp_min"))
        .orderBy("doc_id")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_kendall_tau" -> s"""
      |WITH $dailyMicroSql,
      |pd AS (SELECT a.event_type AS ta, b.event_type AS tb, a.day,
      |    a.xu AS xa, b.xu AS xb
      |  FROM daily a JOIN daily b ON a.day = b.day
      |    AND a.event_type < b.event_type),
      |pp AS (SELECT i.ta, i.tb,
      |    CASE WHEN j.xa > i.xa THEN 1 WHEN j.xa < i.xa THEN -1 ELSE 0 END
      |      AS sa,
      |    CASE WHEN j.xb > i.xb THEN 1 WHEN j.xb < i.xb THEN -1 ELSE 0 END
      |      AS sb
      |  FROM pd i JOIN pd j ON i.ta = j.ta AND i.tb = j.tb
      |    AND i.day < j.day),
      |g AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n0,
      |    CAST(count(*) FILTER (sa * sb = 1) AS BIGINT) AS conc,
      |    CAST(count(*) FILTER (sa * sb = -1) AS BIGINT) AS disc,
      |    CAST(count(*) FILTER (sa = 0) AS BIGINT) AS tie_a,
      |    CAST(count(*) FILTER (sb = 0) AS BIGINT) AS tie_b
      |  FROM pp GROUP BY 1, 2)
      |SELECT ta AS type_a, tb AS type_b, n0 AS n_pairs, conc, disc,
      |  round(CAST(conc - disc AS DOUBLE)
      |    / sqrt(CAST(n0 - tie_a AS DOUBLE) * CAST(n0 - tie_b AS DOUBLE)), 6)
      |    AS tau_b
      |FROM g ORDER BY type_a, type_b""".stripMargin,

    "win_stochastic_osc" -> s"""
      |WITH $dailyMicroSql,
      |f AS (SELECT event_type, day, xu,
      |    CAST(count(*) OVER w AS BIGINT) AS n14,
      |    CAST(min(xu) OVER w AS BIGINT) AS lo,
      |    CAST(max(xu) OVER w AS BIGINT) AS hi
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |k AS (SELECT event_type, day,
      |    CASE WHEN hi = lo THEN 500000
      |      ELSE (2000000 * (xu - lo) + (hi - lo)) // (2 * (hi - lo)) END
      |      AS ku
      |  FROM f WHERE n14 = 14),
      |s3 AS (SELECT event_type, day, ku,
      |    CAST(count(*) OVER w3 AS BIGINT) AS n3,
      |    CAST(sum(ku) OVER w3 AS BIGINT) AS du
      |  FROM k
      |  WINDOW w3 AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  CAST(ku AS DOUBLE) / 10000.0 AS k_pct,
      |  CAST(du AS DOUBLE) / 30000.0 AS d_pct
      |FROM s3 WHERE n3 = 3 ORDER BY event_type, day""".stripMargin,

    "agg_cohens_kappa" -> s"""
      |WITH r AS (SELECT lang,
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len($duckToks)
      |      >= 55 THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER (a = 1 AND b = 1) AS BIGINT) AS yy,
      |    CAST(count(*) FILTER (a = 1 AND b = 0) AS BIGINT) AS yn,
      |    CAST(count(*) FILTER (a = 0 AND b = 1) AS BIGINT) AS ny,
      |    CAST(count(*) FILTER (a = 0 AND b = 0) AS BIGINT) AS nn
      |  FROM r GROUP BY 1)
      |SELECT lang, n, yy, yn, ny, nn,
      |  CASE WHEN (CAST((yy + yn) * (yy + ny) AS DOUBLE)
      |        + CAST((ny + nn) * (yn + nn) AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
      |    THEN round((CAST(yy + nn AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (CAST((yy + yn) * (yy + ny) AS DOUBLE)
      |          + CAST((ny + nn) * (yn + nn) AS DOUBLE))
      |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
      |      / (1.0 - (CAST((yy + yn) * (yy + ny) AS DOUBLE)
      |          + CAST((ny + nn) * (yn + nn) AS DOUBLE))
      |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
      |  END AS kappa
      |FROM g ORDER BY lang""".stripMargin,

    "graph_eccentricity" -> {
      val pairBody = ScaleQueries.oracles("llm_dedup_simhash")
      s"""WITH RECURSIVE simpairs AS ($pairBody),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM simpairs
        |  UNION ALL SELECT doc_b, doc_a FROM simpairs),
        |walk(root, node, d) AS (
        |  SELECT DISTINCT src AS root, src AS node, CAST(0 AS BIGINT) AS d
        |    FROM edges
        |  UNION
        |  SELECT w.root, e.dst, w.d + 1 FROM walk w JOIN edges e
        |    ON e.src = w.node WHERE w.d < 4),
        |md AS (SELECT root, node, min(d) AS d FROM walk GROUP BY 1, 2)
        |SELECT root AS doc_id, CAST(max(d) AS BIGINT) AS ecc4,
        |  CAST(count(*) FILTER (d >= 1) AS BIGINT) AS n_reach,
        |  CAST(min(node) AS BIGINT) AS comp_min
        |FROM md GROUP BY root ORDER BY doc_id""".stripMargin
    })
}
