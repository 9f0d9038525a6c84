package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 second wave: sequential drift detection (Page–Hinkley),
  * stratified epidemiology (Mantel–Haenszel common odds ratio),
  * categorical association (Theil's U), multi-rater agreement
  * (Cochran's Q), parametric outlier testing (Grubbs), trading-style
  * smoothing (MACD with binary-exact decay bases), resource-allocation
  * link prediction, and RAKE keyphrase extraction.
  *
  * Determinism discipline (SURVEY §7.2, unchanged): counts/moments are
  * exact integers or decimals; every per-item float ratio that must be
  * SUMMED is first extracted to a half-up integer unit
  * (`(2·scale·num + den) div (2·den)`, positive operands, identical
  * `div`/`//` truncation both engines); closed forms are single
  * fixed-order double expressions rounded at 6dp; EWMA-style decay
  * rides EXACT INTEGER weight tables (p^r·q^(L−r) over a truncated
  * lookback) — the r8 driver run proved that even exact-binary-base
  * `pow` on doubles drifts by 1 ulp across libm builds past day 22,
  * so win_macd now has no float link at all (see its comment).
  */
object Round8bQueries extends graft.QueryFamily {

  /** win_macd truncated-EWMA lookback: weights cover offsets 0..L. */
  private val macdL = 25

  /** Exact integer decay weights for win_macd, one row per lookback
    * offset r: (fast, slow, signal) = (3^r·4^(L−r), 7^r·8^(L−r),
    * 2^r·3^(L−r)) — the integer images of decay ratios 3/4, 7/8, 2/3
    * with the common denominator cleared at the window edge. Max entry
    * 8^25 ≈ 3.8e22; a centi-spend-weighted 26-term sum is then
    * ≤ 26·xc·3.8e22, inside DECIMAL(38,0)/HUGEINT up to xc ≈ 1e14
    * centi-units/day (≈ sf100000) — no overflow at any plausible SF. */
  private val macdWeights: Seq[(Long, BigInt, BigInt, BigInt)] =
    (0 to macdL).map { r =>
      (r.toLong,
        BigInt(3).pow(r) * BigInt(4).pow(macdL - r),
        BigInt(7).pow(r) * BigInt(8).pow(macdL - r),
        BigInt(2).pow(r) * BigInt(3).pow(macdL - r))
    }

  /** The win_macd weight table as DuckDB VALUES rows (HUGEINT). */
  private val macdPwValues: String = macdWeights.map {
    case (r, wf, ws, wg) =>
      s"($r, CAST('$wf' AS HUGEINT), CAST('$ws' AS HUGEINT), " +
        s"CAST('$wg' AS HUGEINT))"
  }.mkString(",\n      |    ")

  /** The two deterministic binary document raters shared with
    * agg_cohens_kappa, plus a third (contains a digit) for Cochran. */
  private def r1 = (col("n_chars") >= 300).cast("long")
  private def r2 = (nTok >= 55).cast("long")
  private def r3 = col("text").rlike("[0-9]").cast("long")

  val queries: Map[String, QFn] = Map(

    // ---- Page–Hinkley drift detector ------------------------------------
    // Sequential mean-shift detection over the daily centi-unit spend
    // series per event type: dev_t = x_t − m_t − δ against the
    // INCLUSIVE running mean m_t (half-up integer centi), U_t = Σ dev,
    // PH_t = max_{s≤t} U_s − U_t, alarm when PH > λ (δ = 500 centi,
    // λ = 20 000 centi). Every step exact integer; windows are
    // calendar-bounded per type.
    "agg_page_hinkley" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ph = dailyCenti(s, dir)
        .withColumn("t", count(lit(1)).over(w))
        .withColumn("sx", sum("xc").over(w))
        .withColumn("m", expr("(2 * sx + t) div (2 * t)"))
        .withColumn("dev", col("xc") - col("m") - lit(500L))
        .withColumn("u", sum("dev").over(w))
        .withColumn("mx", max("u").over(w))
        .withColumn("ph", col("mx") - col("u"))
      ph.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), max("ph").as("ph_max"),
          min(when(col("ph") > 20000L, col("day"))).as("alarm_day"))
        .orderBy("event_type")
    }),

    // ---- Mantel–Haenszel common odds ratio ------------------------------
    // Across language strata, 2×2 cells from the two shared raters
    // (exposure = long doc, outcome = token-rich doc): OR_MH =
    // Σ aᵢdᵢ/nᵢ ÷ Σ bᵢcᵢ/nᵢ. Each stratum term is extracted to a
    // half-up 1e-8 integer unit, so the cross-strata sums are exact
    // longs and the single division is the only float op.
    "agg_mantel_haenszel" -> ((s, dir) => {
      val g = Tables.documents(s, dir)
        .select(col("lang"), r1.as("a1"), r2.as("b1"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          count_if(col("a1") === 1 && col("b1") === 1).as("aa"),
          count_if(col("a1") === 1 && col("b1") === 0).as("bb"),
          count_if(col("a1") === 0 && col("b1") === 1).as("cc"),
          count_if(col("a1") === 0 && col("b1") === 0).as("dd"))
      // int64 bound: 2e8·a·d must stay < 2^63 ⇒ per-stratum n ≤ ~4×10^5
      // (a·d ≤ (n/2)² ≤ 4.6e10). DuckDB raises on the overflow; guard
      // Spark to the same loud failure (the win_stochastic_osc pattern);
      // beyond that corpus size, drop the unit scale to 1e6.
      g.select(col("lang"),
          when(col("n") > 400000L, raise_error(lit(
            "agg_mantel_haenszel: stratum count exceeds the int64-safe " +
              "bound for 1e-8 unit terms (~4e5 docs); drop the scale to 1e6")))
            .otherwise(expr("(2 * 100000000 * aa * dd + n) div (2 * n)"))
            .as("num_u"),
          expr("(2 * 100000000 * bb * cc + n) div (2 * n)").as("den_u"))
        .agg(count(lit(1)).as("n_strata"),
          sum("num_u").as("num_u"), sum("den_u").as("den_u"))
        .select(col("n_strata"), col("num_u"), col("den_u"),
          when(col("den_u") === 0, lit(null).cast(DoubleType))
            .otherwise(round(d(col("num_u")) / d(col("den_u")), 6))
            .as("or_mh"))
    }),

    // ---- Theil's U (uncertainty coefficient) ----------------------------
    // Asymmetric categorical association lang ↔ source from entropies:
    // U(X|Y) = (H_x + H_y − H_xy)/H_x with H = ln N − (Σ c·q8(ln c))/N
    // — each marginal/joint entropy's only float is a per-cell
    // 8dp-quantized ln extracted to an exact decimal sum (the
    // llm_simpson_diversity discipline); the three 1-row aggregates
    // cross-join (provably 1-row broadcasts).
    "agg_theil_u" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select("lang", "source")
      def hSum(grouped: DataFrame, tag: String): DataFrame = grouped
        .select((col("c") * round(log(d(col("c"))), 8).cast(DecimalType(18, 8)))
          .as("t"))
        .agg((sum(col("t")) * 100000000).cast("long").as(s"h_$tag"),
          count(lit(1)).as(s"cells_$tag"))
      val hl = hSum(base.groupBy("lang").agg(count(lit(1)).as("c")), "l")
      val hs = hSum(base.groupBy("source").agg(count(lit(1)).as("c")), "s")
      val hj = hSum(base.groupBy("lang", "source").agg(count(lit(1)).as("c")), "j")
      val n = base.agg(count(lit(1)).as("n"))
      val one = n.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
        .crossJoin(broadcast(hj))
      def ent(tag: String): Column =
        log(d(col("n"))) - (d(col(s"h_$tag")) / 1.0e8) / d(col("n"))
      one.select(col("n"), col("cells_j").as("n_cells"),
        round(ent("l"), 6).as("h_lang"),
        round(ent("s"), 6).as("h_source"),
        round(ent("j"), 6).as("h_joint"),
        round((ent("l") + ent("s") - ent("j")) / ent("l"), 6).as("u_lang"),
        round((ent("l") + ent("s") - ent("j")) / ent("s"), 6).as("u_source"))
    }),

    // ---- Cochran's Q (k = 3 matched raters) -----------------------------
    // Do the three deterministic binary raters flag the same docs, per
    // language? Q = (k−1)(k·ΣGⱼ² − (ΣGⱼ)²)/(k·ΣLᵢ − ΣLᵢ²) — all
    // integer moments from one pass, one double division, 6dp.
    "agg_cochran_q" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("lang"), r1.as("x1"), r2.as("x2"), r3.as("x3"))
        .withColumn("l", col("x1") + col("x2") + col("x3"))
      base.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("x1").as("g1"), sum("x2").as("g2"),
          sum("x3").as("g3"), sum("l").as("sl"),
          sum(col("l") * col("l")).as("sl2"))
        .select(col("lang"), col("n"), col("g1"), col("g2"), col("g3"),
          when(lit(3L) * col("sl") - col("sl2") === 0,
              lit(null).cast(DoubleType))
            .otherwise(round(
              d(lit(2L) * (lit(3L) * (col("g1") * col("g1")
                  + col("g2") * col("g2") + col("g3") * col("g3"))
                - (col("g1") + col("g2") + col("g3"))
                  * (col("g1") + col("g2") + col("g3"))))
                / d(lit(3L) * col("sl") - col("sl2")), 6))
            .as("q_stat"))
        .orderBy("lang")
    }),

    // ---- Grubbs outlier statistic ---------------------------------------
    // Per event type: G = max|x − x̄|/s from exact decimal moments —
    // the deviation argmax runs on |x·n − S| (decimal-exact, no
    // division), the achiever set is cut by exact decimal equality
    // (min value among achievers as the deterministic representative),
    // and G is one fixed-order double closed form.
    "agg_grubbs" -> ((s, dir) => {
      val v = col("value").cast(DecimalType(18, 6))
      val v19 = col("value").cast(DecimalType(19, 6))
      val ev = Tables.events(s, dir)
        .select(col("event_type"), v.as("v"), (v19 * v19).as("v2"))
      val g = ev.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum("v").as("sv"), sum("v2").as("qv"))
      val dev = ev.join(broadcast(g), "event_type")
        .withColumn("ad", abs(col("v") * col("n").cast(DecimalType(19, 0))
          - col("sv")))
      val mx = dev.groupBy(col("event_type").as("et2"))
        .agg(max("ad").as("mxad"))
      val outlier = dev.join(broadcast(mx),
          col("event_type") === col("et2") && col("ad") === col("mxad"))
        .groupBy("event_type")
        .agg(min("v").as("outlier"), max("ad").as("mxad"))
      g.join(outlier, "event_type")
        .select(col("event_type"), col("n"), d(col("outlier")).as("outlier"),
          round((d(col("mxad")) / d(col("n"))) /
            sqrt((d(col("n")) * d(col("qv")) - d(col("sv")) * d(col("sv")))
              / (d(col("n")) * (d(col("n")) - 1))), 6).as("g_stat"))
        .orderBy("event_type")
    }),

    // ---- MACD over daily spend ------------------------------------------
    // Classic truncated-window MACD over the EXACT centi-unit daily
    // spend series: fast/slow EWMAs with decay ratios 3/4 and 7/8 over
    // a 26-day lookback, signal = the decay-2/3 EWMA of the macd
    // series, hist = macd − signal. ZERO float links (the r8 driver
    // run proved the old rounded-raw-IEEE-quotient chain was
    // environment-sensitive — libm pow drifts 1 ulp past day 22): the
    // decay weights are an exact 26-row integer table (macdWeights,
    // DECIMAL(38,0), broadcast), each weighted window sum is an exact
    // decimal integer accumulated via an explode-to-future-day
    // contribution join on the CALENDAR-BOUNDED daily aggregate
    // (≤ types×31 rows at any SF), and each EWMA is emitted as a
    // signed half-up centi integer — sign(n)·((2·|n|+d) div (2·d)),
    // positive div operands on both engines. The only doubles are the
    // final exact /100.0 display divisions.
    "win_macd" -> ((s, dir) => {
      import s.implicits._
      val pw = macdWeights.map { case (r, wf, ws, wg) =>
        (r, wf.toString, ws.toString, wg.toString)
      }.toDF("r", "wf0", "ws0", "wg0")
        .select(col("r"),
          col("wf0").cast(DecimalType(38, 0)).as("wf"),
          col("ws0").cast(DecimalType(38, 0)).as("ws"),
          col("wg0").cast(DecimalType(38, 0)).as("wg"))
      def halfUp(num: String, den: String): Column = expr(
        s"CASE WHEN $num >= 0 THEN (2 * $num + $den) div (2 * $den) " +
          s"ELSE -((2 * (-$num) + $den) div (2 * $den)) END")
      val daily = dailyCenti(s, dir)
      val cur = daily.select(col("event_type"), col("day").as("t"))
      val ew = daily
        .withColumn("t",
          explode(sequence(col("day"), col("day") + lit(macdL.toLong))))
        .withColumn("r", col("t") - col("day"))
        .join(cur, Seq("event_type", "t"))
        .join(broadcast(pw), Seq("r"))
        .groupBy(col("event_type"), col("t"))
        .agg(sum(col("xc") * col("wf")).as("nf"), sum(col("wf")).as("df_"),
          sum(col("xc") * col("ws")).as("ns"), sum(col("ws")).as("ds_"))
        .withColumn("macd_2u", halfUp("nf", "df_") - halfUp("ns", "ds_"))
      val sig = ew
        .select(col("event_type"), col("t").as("day"), col("macd_2u"))
        .withColumn("t",
          explode(sequence(col("day"), col("day") + lit(macdL.toLong))))
        .withColumn("r", col("t") - col("day"))
        .join(cur, Seq("event_type", "t"))
        .join(broadcast(pw.select(col("r"), col("wg"))), Seq("r"))
        .groupBy(col("event_type"), col("t"))
        .agg(sum(col("macd_2u") * col("wg")).as("ng"), sum(col("wg")).as("dg"))
        .withColumn("signal_2u", halfUp("ng", "dg"))
        .select(col("event_type"), col("t"), col("signal_2u"))
      ew.join(sig, Seq("event_type", "t"))
        .select(col("event_type"), col("t").as("day"),
          (d(col("macd_2u")) / 100.0).as("macd"),
          (d(col("signal_2u")) / 100.0).as("signal"),
          (d(col("macd_2u") - col("signal_2u")) / 100.0).as("hist"))
        .orderBy("event_type", "day")
    }),

    // ---- resource-allocation link prediction ----------------------------
    // RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) over the supplier
    // co-occurrence graph — Adamic–Adar's harder-decaying sibling.
    // Wedges enumerate keyed by the shared neighbor (Σ deg² bound,
    // never all-pairs); each 1/deg term is a half-up 1e-8 integer so
    // the pair sums are EXACT longs; non-edges only, top-20 under a
    // total (ra, a, b) order.
    "graph_resource_alloc" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("ra.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val nb = e.select(col("sa").as("c"), col("sb").as("x"))
        .union(e.select(col("sb").as("c"), col("sa").as("x")))
      val deg = nb.groupBy(col("c")).agg(count(lit(1)).as("deg"))
      val nbd = nb.join(deg, "c")
        .withColumn("ra_u", expr("(2 * 100000000 + deg) div (2 * deg)"))
      val pairs = nbd.select(col("c"), col("x").as("a"), col("ra_u"))
        .join(nbd.select(col("c").as("c2"), col("x").as("b")),
          col("c") === col("c2") && col("a") < col("b"))
        .groupBy("a", "b")
        .agg(sum("ra_u").as("ra_sum"), count(lit(1)).as("cn"))
      pairs
        .join(e, pairs("a") === e("sa") && pairs("b") === e("sb"), "left_anti")
        .orderBy(col("ra_sum").desc, col("a").asc, col("b").asc)
        .limit(20)
        .select(col("a"), col("b"), col("cn"),
          (d(col("ra_sum")) / 1.0e8).as("ra"))
        // ra is a monotone image of ra_sum, so this re-sort is the same
        // total order as the cut above
        .orderBy(col("ra").desc, col("a").asc, col("b").asc)
    }),

    // ---- RAKE keyphrase extraction --------------------------------------
    // Rapid Automatic Keyword Extraction over the corpus: stopwords =
    // top-20 document-frequency tokens (corpus-derived, broadcast);
    // candidate phrases = maximal non-stopword runs (gaps-and-islands
    // per doc — doc-keyed windows); word score = deg/freq with
    // deg(w) = Σ phrase length over phrases containing w, extracted to
    // half-up 1e-8 integer units so phrase scores (Σ word scores) are
    // EXACT longs; top-10 distinct phrases under (score, phrase).
    "llm_rake_keyphrases" -> ((s, dir) => {
      // r15: tokenization through the TokenList kernel; the docTok /
      // phraseWords reuse stays LAZY — measured (3 ABBA pairs each at
      // sf0.1): checkpointing docTok+phraseWords cost +0.23 s
      // [+0.08, +0.39] vs the lazy form, and phraseWords alone was a
      // wash-to-worse — the corpus-token-sized checkpoint write costs
      // more than the repeated map stage + windows it saves here.
      val docTok = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      val stop = docTok.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok").asc).limit(20)
        .select(col("tok").as("stok"))
      val content = docTok
        .join(broadcast(stop), col("tok") === col("stok"), "left_anti")
      val wIsl = Window.partitionBy("doc_id").orderBy("pos")
      val phraseWords = content
        .withColumn("grp", col("pos") - row_number().over(wIsl))
        .withColumn("len",
          count(lit(1)).over(Window.partitionBy("doc_id", "grp")))
      val wordStats = phraseWords.groupBy(col("tok").as("w"))
        .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
        .withColumn("wscore_u", expr("(2 * 100000000 * deg + freq) div (2 * freq)"))
      val phrases = phraseWords
        .join(wordStats, col("tok") === col("w"))
        .groupBy("doc_id", "grp")
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            p => p.getField("tok")), " ").as("phrase"),
          max("len").as("n_words"), sum("wscore_u").as("score_u"))
      phrases.groupBy("phrase")
        .agg(max("n_words").as("n_words"), max("score_u").as("score_u"),
          count(lit(1)).as("phrase_freq"))
        .select(col("phrase"), col("n_words"), col("phrase_freq"),
          (d(col("score_u")) / 1.0e8).as("score"))
        .orderBy(col("score_u").desc, col("phrase").asc)
        .limit(10)
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_page_hinkley" -> s"""
      |WITH $dailyCentiSql,
      |r AS (SELECT event_type, day, xc,
      |    CAST(count(*) OVER w AS BIGINT) AS t,
      |    CAST(sum(xc) OVER w AS BIGINT) AS sx
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |dev AS (SELECT event_type, day,
      |    xc - ((2 * sx + t) // (2 * t)) - 500 AS dev
      |  FROM r),
      |u AS (SELECT event_type, day,
      |    CAST(sum(dev) OVER w AS BIGINT) AS u
      |  FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |ph AS (SELECT event_type, day,
      |    CAST(max(u) OVER w AS BIGINT) - u AS ph
      |  FROM u WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(max(ph) AS BIGINT) AS ph_max,
      |  min(CASE WHEN ph > 20000 THEN day END) AS alarm_day
      |FROM ph GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_mantel_haenszel" -> """
      |WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER (n_chars >= 300 AND
      |      len(list_filter(string_split(text,' '), x -> x <> '')) >= 55)
      |      AS BIGINT) AS aa,
      |    CAST(count(*) FILTER (n_chars >= 300 AND
      |      len(list_filter(string_split(text,' '), x -> x <> '')) < 55)
      |      AS BIGINT) AS bb,
      |    CAST(count(*) FILTER (n_chars < 300 AND
      |      len(list_filter(string_split(text,' '), x -> x <> '')) >= 55)
      |      AS BIGINT) AS cc,
      |    CAST(count(*) FILTER (n_chars < 300 AND
      |      len(list_filter(string_split(text,' '), x -> x <> '')) < 55)
      |      AS BIGINT) AS dd
      |  FROM documents GROUP BY lang),
      |t AS (SELECT lang,
      |    (2 * 100000000 * aa * dd + n) // (2 * n) AS num_u,
      |    (2 * 100000000 * bb * cc + n) // (2 * n) AS den_u
      |  FROM g)
      |SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |  CAST(sum(num_u) AS BIGINT) AS num_u,
      |  CAST(sum(den_u) AS BIGINT) AS den_u,
      |  CASE WHEN sum(den_u) = 0 THEN NULL
      |    ELSE round(CAST(sum(num_u) AS DOUBLE) / CAST(sum(den_u) AS DOUBLE), 6)
      |  END AS or_mh
      |FROM t""".stripMargin,

    "agg_theil_u" -> """
      |WITH hl AS (SELECT CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)), 8)
      |      AS DECIMAL(18,8))) * 100000000 AS BIGINT) AS h_l,
      |    CAST(count(*) AS BIGINT) AS cells_l
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang)),
      |hs AS (SELECT CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)), 8)
      |      AS DECIMAL(18,8))) * 100000000 AS BIGINT) AS h_s,
      |    CAST(count(*) AS BIGINT) AS cells_s
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY source)),
      |hj AS (SELECT CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)), 8)
      |      AS DECIMAL(18,8))) * 100000000 AS BIGINT) AS h_j,
      |    CAST(count(*) AS BIGINT) AS cells_j
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
      |        GROUP BY lang, source)),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
      |SELECT n, cells_j AS n_cells,
      |  round(ln(CAST(n AS DOUBLE)) - (CAST(h_l AS DOUBLE) / 1e8)
      |    / CAST(n AS DOUBLE), 6) AS h_lang,
      |  round(ln(CAST(n AS DOUBLE)) - (CAST(h_s AS DOUBLE) / 1e8)
      |    / CAST(n AS DOUBLE), 6) AS h_source,
      |  round(ln(CAST(n AS DOUBLE)) - (CAST(h_j AS DOUBLE) / 1e8)
      |    / CAST(n AS DOUBLE), 6) AS h_joint,
      |  round(((ln(CAST(n AS DOUBLE)) - (CAST(h_l AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE))
      |    + (ln(CAST(n AS DOUBLE)) - (CAST(h_s AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE))
      |    - (ln(CAST(n AS DOUBLE)) - (CAST(h_j AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE)))
      |    / (ln(CAST(n AS DOUBLE)) - (CAST(h_l AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE)), 6) AS u_lang,
      |  round(((ln(CAST(n AS DOUBLE)) - (CAST(h_l AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE))
      |    + (ln(CAST(n AS DOUBLE)) - (CAST(h_s AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE))
      |    - (ln(CAST(n AS DOUBLE)) - (CAST(h_j AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE)))
      |    / (ln(CAST(n AS DOUBLE)) - (CAST(h_s AS DOUBLE) / 1e8)
      |      / CAST(n AS DOUBLE)), 6) AS u_source
      |FROM nn CROSS JOIN hl CROSS JOIN hs CROSS JOIN hj""".stripMargin,

    "agg_cochran_q" -> """
      |WITH b AS (SELECT lang,
      |    CAST(n_chars >= 300 AS BIGINT) AS x1,
      |    CAST(len(list_filter(string_split(text,' '), x -> x <> '')) >= 55
      |      AS BIGINT) AS x2,
      |    CAST(regexp_matches(text, '[0-9]') AS BIGINT) AS x3
      |  FROM documents),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x1) AS BIGINT) AS g1, CAST(sum(x2) AS BIGINT) AS g2,
      |    CAST(sum(x3) AS BIGINT) AS g3,
      |    CAST(sum(x1 + x2 + x3) AS BIGINT) AS sl,
      |    CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sl2
      |  FROM b GROUP BY lang)
      |SELECT lang, n, g1, g2, g3,
      |  CASE WHEN 3 * sl - sl2 = 0 THEN NULL
      |    ELSE round(CAST(2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)
      |        - (g1 + g2 + g3) * (g1 + g2 + g3)) AS DOUBLE)
      |      / CAST(3 * sl - sl2 AS DOUBLE), 6)
      |  END AS q_stat
      |FROM g ORDER BY lang""".stripMargin,

    "agg_grubbs" -> """
      |WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
      |    CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) AS v2
      |  FROM events),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    sum(v) AS sv, sum(v2) AS qv
      |  FROM ev GROUP BY event_type),
      |dev AS (SELECT ev.event_type, v,
      |    abs(v * CAST(n AS DECIMAL(19,0)) - sv) AS ad
      |  FROM ev JOIN g USING (event_type)),
      |mx AS (SELECT event_type, max(ad) AS mxad FROM dev GROUP BY event_type),
      |o AS (SELECT dev.event_type, min(v) AS outlier, max(ad) AS mxad
      |  FROM dev JOIN mx ON dev.event_type = mx.event_type AND dev.ad = mx.mxad
      |  GROUP BY dev.event_type)
      |SELECT g.event_type, n, CAST(outlier AS DOUBLE) AS outlier,
      |  round((CAST(o.mxad AS DOUBLE) / CAST(n AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE) * CAST(qv AS DOUBLE)
      |        - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6) AS g_stat
      |FROM g JOIN o ON g.event_type = o.event_type
      |ORDER BY g.event_type""".stripMargin,

    "win_macd" -> s"""
      |WITH $dailyCentiSql,
      |pw(r, wf, ws, wg) AS (VALUES
      |    $macdPwValues),
      |contrib AS (SELECT d.event_type, d.xc, d.day + p.r AS t, p.wf, p.ws
      |  FROM daily d CROSS JOIN pw p),
      |ew AS (SELECT c.event_type, c.t AS day,
      |    sum(c.xc * c.wf) AS nf, sum(c.wf) AS df_,
      |    sum(c.xc * c.ws) AS ns, sum(c.ws) AS ds_
      |  FROM contrib c JOIN daily cur
      |    ON c.event_type = cur.event_type AND c.t = cur.day
      |  GROUP BY 1, 2),
      |m AS (SELECT event_type, day,
      |    (CASE WHEN nf >= 0 THEN (2*nf + df_) // (2*df_)
      |          ELSE -((2*(-nf) + df_) // (2*df_)) END)
      |    - (CASE WHEN ns >= 0 THEN (2*ns + ds_) // (2*ds_)
      |          ELSE -((2*(-ns) + ds_) // (2*ds_)) END) AS macd_2u
      |  FROM ew),
      |scontrib AS (SELECT m.event_type, m.macd_2u, m.day + p.r AS t, p.wg
      |  FROM m CROSS JOIN pw p),
      |sg AS (SELECT c.event_type, c.t AS day,
      |    sum(c.macd_2u * c.wg) AS ng, sum(c.wg) AS dg
      |  FROM scontrib c JOIN daily cur
      |    ON c.event_type = cur.event_type AND c.t = cur.day
      |  GROUP BY 1, 2),
      |s2 AS (SELECT event_type, day,
      |    CASE WHEN ng >= 0 THEN (2*ng + dg) // (2*dg)
      |         ELSE -((2*(-ng) + dg) // (2*dg)) END AS signal_2u
      |  FROM sg)
      |SELECT m.event_type, m.day,
      |  CAST(m.macd_2u AS DOUBLE) / 100.0 AS macd,
      |  CAST(s2.signal_2u AS DOUBLE) / 100.0 AS signal,
      |  CAST(m.macd_2u - s2.signal_2u AS DOUBLE) / 100.0 AS hist
      |FROM m JOIN s2 ON m.event_type = s2.event_type AND m.day = s2.day
      |ORDER BY m.event_type, m.day""".stripMargin,

    "graph_resource_alloc" -> ("WITH " + GraphStatsQueries.edgesSql +
      """,
        |nb AS (SELECT sa AS c, sb AS x FROM e
        |       UNION ALL SELECT sb AS c, sa AS x FROM e),
        |deg AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY c),
        |nbd AS (SELECT nb.c, nb.x, (2 * 100000000 + deg) // (2 * deg) AS ra_u
        |  FROM nb JOIN deg ON nb.c = deg.c),
        |p AS (SELECT a.x AS a, b.x AS b,
        |    CAST(sum(a.ra_u) AS BIGINT) AS ra_sum,
        |    CAST(count(*) AS BIGINT) AS cn
        |  FROM nbd a JOIN nbd b ON a.c = b.c AND a.x < b.x
        |  GROUP BY 1, 2),
        |ne AS (SELECT p.* FROM p LEFT JOIN e
        |    ON p.a = e.sa AND p.b = e.sb WHERE e.sa IS NULL)
        |SELECT a, b, cn, CAST(ra_sum AS DOUBLE) / 1e8 AS ra
        |FROM ne ORDER BY ra_sum DESC, a, b LIMIT 20""".stripMargin),

    "llm_rake_keyphrases" -> s"""
      |WITH dt AS (SELECT doc_id, sym[i] AS tok, i AS pos
      |  FROM (SELECT doc_id,
      |          $duckToks AS sym
      |        FROM documents) sy,
      |       unnest(generate_series(1, len(sym))) AS u(i)),
      |stop AS (SELECT tok FROM (SELECT DISTINCT doc_id, tok FROM dt)
      |  GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20),
      |content AS (SELECT doc_id, tok, pos FROM dt
      |  WHERE tok NOT IN (SELECT tok FROM stop)),
      |isl AS (SELECT doc_id, tok, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM content),
      |pw AS (SELECT doc_id, tok, pos, grp,
      |    CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS len
      |  FROM isl),
      |ws AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(len) AS BIGINT) AS deg
      |  FROM pw GROUP BY tok),
      |wsu AS (SELECT w, (2 * 100000000 * deg + freq) // (2 * freq) AS wscore_u
      |  FROM ws),
      |ph AS (SELECT doc_id, grp,
      |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
      |    CAST(max(len) AS BIGINT) AS n_words,
      |    CAST(sum(wscore_u) AS BIGINT) AS score_u
      |  FROM pw JOIN wsu ON pw.tok = wsu.w
      |  GROUP BY doc_id, grp),
      |agg AS (SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
      |    CAST(max(score_u) AS BIGINT) AS score_u,
      |    CAST(count(*) AS BIGINT) AS phrase_freq
      |  FROM ph GROUP BY phrase)
      |SELECT phrase, n_words, phrase_freq,
      |  CAST(score_u AS DOUBLE) / 1e8 AS score
      |FROM agg ORDER BY score_u DESC, phrase LIMIT 10""".stripMargin)
}
