package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 seventeenth wave: multiple-testing and categorical-
  * agreement statistics — Holm step-down correction (the FWER
  * complement of agg_fdr_bh), Page's L trend test for repeated
  * measures, the Cochran-Armitage binary trend test and Fleiss' kappa
  * (the multi-rater extension of agg_cohens_kappa).
  *
  * Determinism: the Holm family reuses agg_fdr_bh's EXACT p-value
  * construction (6dp z, Abramowitz-Stegun tail, 8dp p — identical
  * doubles on both engines, so threshold compares agree); Page/CA/
  * Fleiss are integer rank/count ledgers to one closed form of
  * correctly-rounded IEEE ops (×, ÷, √) over exact-integer-valued
  * doubles.
  */
object Round8qQueries extends graft.QueryFamily {

  /** The agg_fdr_bh p-value family: 35 (event type × day-of-week)
    * mean-shift z-tests with 8dp two-sided normal p-values. */
  private def pFamily(s: SparkSession, dir: String) = {
    val v6 = col("value").cast(DecimalType(18, 6))
    val v19 = col("value").cast(DecimalType(19, 6))
    val ev = Tables.events(s, dir)
      .select(col("event_type"), (dayofmonth(col("ts")) % 7).cast("long").as("dow"),
        v6.as("v"), (v19 * v19).as("v2"))
    val cells = ev.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_c"), sum("v").as("sc"))
    val types = ev.groupBy(col("event_type").as("et2"))
      .agg(count(lit(1)).as("n_t"), sum("v").as("st"), sum("v2").as("sxx"))
    val meanC = d(col("sc")) / d(col("n_c"))
    val meanT = d(col("st")) / d(col("n_t"))
    val varT = (d(col("sxx")) - d(col("st")) * d(col("st")) / d(col("n_t"))) /
      (d(col("n_t")) - 1.0)
    val zq = cells.join(broadcast(types), col("event_type") === col("et2"))
      .select(col("event_type"), col("dow"), col("n_c"),
        round((meanC - meanT) / sqrt(varT / d(col("n_c"))), 6).as("z"))
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * abs(col("z")))
    val poly = lit(0.319381530) * t - lit(0.356563782) * t * t +
      lit(1.781477937) * t * t * t - lit(1.821255978) * t * t * t * t +
      lit(1.330274429) * t * t * t * t * t
    zq.withColumn("p",
      round(lit(2.0) * exp(-(col("z") * col("z")) / 2.0) /
        sqrt(lit(2.0) * lit(math.Pi)) * poly, 8))
  }

  private val pFamilySql =
    """ev AS (SELECT event_type, CAST(day(ts) % 7 AS BIGINT) AS dow,
      |    CAST(value AS DECIMAL(18,6)) AS v,
      |    CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) AS v2
      |  FROM events),
      |cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_c,
      |    sum(v) AS sc FROM ev GROUP BY 1, 2),
      |types AS (SELECT event_type AS et2, CAST(count(*) AS BIGINT) AS n_t,
      |    sum(v) AS st, sum(v2) AS sxx FROM ev GROUP BY 1),
      |zq AS (SELECT event_type, dow, n_c,
      |    round((CAST(sc AS DOUBLE) / CAST(n_c AS DOUBLE)
      |        - CAST(st AS DOUBLE) / CAST(n_t AS DOUBLE))
      |      / sqrt(((CAST(sxx AS DOUBLE) - CAST(st AS DOUBLE)
      |            * CAST(st AS DOUBLE) / CAST(n_t AS DOUBLE))
      |          / (CAST(n_t AS DOUBLE) - 1.0)) / CAST(n_c AS DOUBLE)), 6)
      |      AS z
      |  FROM cells JOIN types ON event_type = et2),
      |pv AS (SELECT event_type, dow, n_c, z,
      |    round(2.0 * exp(-(z * z) / 2.0) / sqrt(2.0 * pi())
      |      * (0.319381530 * tt - 0.356563782 * tt * tt
      |        + 1.781477937 * tt * tt * tt
      |        - 1.821255978 * tt * tt * tt * tt
      |        + 1.330274429 * tt * tt * tt * tt * tt), 8) AS p
      |  FROM (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS tt FROM zq) q)"""
      .stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- Holm step-down FWER correction -----------------------------------
    // Same 35-test family as agg_fdr_bh, controlled family-wise at
    // α = 0.10: sort p ascending, test p_(i) ≤ α/(m−i+1), reject the
    // prefix before the first failure (step-down). The prefix-AND is a
    // running min of the per-rank pass flag.
    "agg_holm_bonferroni" -> ((s, dir) => {
      val wAll = Window.partitionBy()
      val wPre = wAll.orderBy(col("p_rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pFamily(s, dir)
        .withColumn("p_rank", row_number().over(
          Window.partitionBy().orderBy(col("p"), col("event_type"), col("dow")))
          .cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("ok",
          when(col("p") * d(col("m") - col("p_rank") + 1) <= 0.10, 1L)
            .otherwise(0L))
        .withColumn("rejected", min("ok").over(wPre) === 1)
        .select(col("event_type"), col("dow"), col("n_c"), col("z"),
          col("p"), col("p_rank"), col("rejected"))
        .orderBy("event_type", "dow")
    }),

    // ---- Page's L trend test --------------------------------------------------
    // Do event types keep their alphabetical revenue ordering across
    // day blocks? Within each COMPLETE day block (all k types present)
    // types rank by (daily centi revenue, type) — exact integers —
    // and L = Σ_j j·R_j with j the alphabetical treatment index.
    // z = (L − b·k(k+1)²/4) / √(b·k²(k+1)(k²−1)/144), one closed form.
    "agg_page_trend" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val k = daily.select("event_type").distinct()
        .withColumn("j", row_number().over(
          Window.partitionBy().orderBy("event_type")).cast("long"))
      val complete = daily.groupBy("day").agg(count(lit(1)).as("nt"))
      val kcnt = k.agg(count(lit(1)).as("k"))
      val blocks = daily
        .join(complete, Seq("day"))
        .crossJoin(broadcast(kcnt))
        .where(col("nt") === col("k"))
      val ranked = blocks.withColumn("r", row_number().over(
        Window.partitionBy("day").orderBy(col("xc"), col("event_type")))
        .cast("long"))
      val rj = ranked.join(broadcast(k), Seq("event_type"))
        .groupBy("j").agg(sum("r").as("rj"), count(lit(1)).as("b"))
      rj.agg(max("b").as("b"), count(lit(1)).as("k"),
          sum(col("j") * col("rj")).as("l"))
        .select(col("b").as("n_blocks"), col("k"), col("l").as("page_l"),
          round((d(col("l")) - d(col("b")) * d(col("k")) * d(col("k") + 1)
              * d(col("k") + 1) / 4.0)
            / sqrt(d(col("b")) * d(col("k")) * d(col("k"))
              * d(col("k") + 1) * (d(col("k")) * d(col("k")) - 1.0) / 144.0),
            6).as("z"))
    }),

    // ---- Cochran-Armitage trend test ---------------------------------------------
    // Does the return probability trend with the quantity band
    // (scores t = 0..4)? T' = n·Σt·r_i − R·Σt·n_i (exact integer);
    // z = T'·√n / √(R(n−R)·(n·Σt²n_i − (Σt·n_i)²)) — every factor an
    // exact-integer-valued double, correctly-rounded ops only.
    "agg_cochran_armitage" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        expr("(CAST(l_quantity AS BIGINT) - 1) div 10").as("t"),
        (col("l_returnflag") === "R").as("ret"))
      val bands = li.groupBy("t")
        .agg(count(lit(1)).as("ni"), count_if(col("ret")).as("ri"))
      bands.agg(sum("ni").as("n"), sum("ri").as("rr"),
          sum(col("t") * col("ri")).as("str"),
          sum(col("t") * col("ni")).as("stn"),
          sum(col("t") * col("t") * col("ni")).as("st2n"))
        .select(col("n"), col("rr").as("n_returns"),
          (col("n") * col("str") - col("rr") * col("stn"))
            .cast(DoubleType).as("t_stat"),
          round(d(col("n") * col("str") - col("rr") * col("stn"))
            * sqrt(d(col("n")))
            / sqrt(d(col("rr")) * d(col("n") - col("rr"))
              * (d(col("n")) * d(col("st2n"))
                - d(col("stn")) * d(col("stn")))), 6).as("z"))
    }),

    // ---- Fleiss' kappa -----------------------------------------------------------
    // Multi-rater chance-corrected agreement (the m-rater extension of
    // agg_cohens_kappa): subjects = orders with exactly 4 lineitems,
    // raters = the lineitems, categories = return flags.
    // P̄ = (ΣΣn_ij² − Nm)/(Nm(m−1)), P̄e = Σ(c_j/Nm)², κ one closed
    // form — all from exact integer counts.
    "agg_fleiss_kappa" -> ((s, dir) => {
      val m = 4
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_returnflag")
      val subj = li.groupBy("l_orderkey").agg(count(lit(1)).as("nl"))
        .where(col("nl") === m).select("l_orderkey")
      val cells = li.join(subj, Seq("l_orderkey"))
        .groupBy("l_orderkey", "l_returnflag").agg(count(lit(1)).as("nij"))
      val s2 = cells.agg(
        sum(col("nij") * col("nij")).as("s2"),
        count_distinct(col("l_orderkey")).as("nsub"))
      val cj = cells.groupBy("l_returnflag").agg(sum("nij").as("cj"))
        .agg(sum(col("cj") * col("cj")).as("sc2"))
      val pbar = (d(col("s2")) - d(col("nsub")) * m) /
        (d(col("nsub")) * m * (m - 1))
      val pe = d(col("sc2")) / (d(col("nsub")) * m * d(col("nsub")) * m)
      s2.crossJoin(broadcast(cj))
        .select(col("nsub").as("n_subjects"), lit(m.toLong).as("m_raters"),
          round(pbar, 6).as("p_bar"), round(pe, 6).as("p_e"),
          round((pbar - pe) / (lit(1.0) - pe), 6).as("fleiss_kappa"))
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_holm_bonferroni" -> s"""
      |WITH $pFamilySql,
      |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p, event_type, dow)
      |      AS BIGINT) AS p_rank,
      |    CAST(count(*) OVER () AS BIGINT) AS m
      |  FROM pv),
      |ok AS (SELECT *, CASE WHEN p * CAST(m - p_rank + 1 AS DOUBLE) <= 0.10
      |    THEN 1 ELSE 0 END AS ok FROM rk)
      |SELECT event_type, dow, n_c, z, p, p_rank,
      |  (min(ok) OVER (ORDER BY p_rank
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) = 1
      |    AS rejected
      |FROM ok ORDER BY event_type, dow""".stripMargin,

    "agg_page_trend" -> s"""
      |WITH $dailyCentiSql,
      |tr AS (SELECT event_type, CAST(row_number() OVER (ORDER BY event_type)
      |    AS BIGINT) AS j
      |  FROM (SELECT DISTINCT event_type FROM daily) x),
      |kc AS (SELECT CAST(count(*) AS BIGINT) AS k FROM tr),
      |comp AS (SELECT day FROM daily GROUP BY day
      |  HAVING count(*) = (SELECT k FROM kc)),
      |rk AS (SELECT d.event_type, d.day,
      |    CAST(row_number() OVER (PARTITION BY d.day ORDER BY d.xc,
      |      d.event_type) AS BIGINT) AS r
      |  FROM daily d JOIN comp USING (day)),
      |rj AS (SELECT tr.j, CAST(sum(rk.r) AS BIGINT) AS rj,
      |    CAST(count(*) AS BIGINT) AS b
      |  FROM rk JOIN tr USING (event_type) GROUP BY tr.j),
      |a AS (SELECT max(b) AS b, CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(j * rj) AS BIGINT) AS l
      |  FROM rj)
      |SELECT b AS n_blocks, k, l AS page_l,
      |  round((CAST(l AS DOUBLE) - CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
      |      * CAST(k + 1 AS DOUBLE) * CAST(k + 1 AS DOUBLE) / 4.0)
      |    / sqrt(CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
      |      * CAST(k + 1 AS DOUBLE)
      |      * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) / 144.0), 6)
      |    AS z
      |FROM a""".stripMargin,

    "agg_cochran_armitage" -> """
      |WITH li AS (SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS t,
      |    (l_returnflag = 'R') AS ret FROM lineitem),
      |bands AS (SELECT t, CAST(count(*) AS BIGINT) AS ni,
      |    CAST(count(*) FILTER (ret) AS BIGINT) AS ri
      |  FROM li GROUP BY t),
      |a AS (SELECT CAST(sum(ni) AS BIGINT) AS n,
      |    CAST(sum(ri) AS BIGINT) AS rr,
      |    CAST(sum(t * ri) AS BIGINT) AS str,
      |    CAST(sum(t * ni) AS BIGINT) AS stn,
      |    CAST(sum(t * t * ni) AS BIGINT) AS st2n
      |  FROM bands)
      |SELECT n, rr AS n_returns,
      |  CAST(n * str - rr * stn AS DOUBLE) AS t_stat,
      |  round(CAST(n * str - rr * stn AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
      |    / sqrt(CAST(rr AS DOUBLE) * CAST(n - rr AS DOUBLE)
      |      * (CAST(n AS DOUBLE) * CAST(st2n AS DOUBLE)
      |        - CAST(stn AS DOUBLE) * CAST(stn AS DOUBLE))), 6) AS z
      |FROM a""".stripMargin,

    "agg_fleiss_kappa" -> """
      |WITH subj AS (SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING count(*) = 4),
      |cells AS (SELECT l.l_orderkey, l.l_returnflag,
      |    CAST(count(*) AS BIGINT) AS nij
      |  FROM lineitem l JOIN subj USING (l_orderkey)
      |  GROUP BY 1, 2),
      |s2 AS (SELECT CAST(sum(nij * nij) AS BIGINT) AS s2,
      |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nsub FROM cells),
      |cj AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS sc2 FROM (
      |    SELECT l_returnflag, CAST(sum(nij) AS BIGINT) AS cj
      |    FROM cells GROUP BY 1) x)
      |SELECT nsub AS n_subjects, CAST(4 AS BIGINT) AS m_raters,
      |  round((CAST(s2 AS DOUBLE) - CAST(nsub AS DOUBLE) * 4)
      |    / (CAST(nsub AS DOUBLE) * 4 * 3), 6) AS p_bar,
      |  round(CAST(sc2 AS DOUBLE)
      |    / (CAST(nsub AS DOUBLE) * 4 * CAST(nsub AS DOUBLE) * 4), 6)
      |    AS p_e,
      |  round(((CAST(s2 AS DOUBLE) - CAST(nsub AS DOUBLE) * 4)
      |      / (CAST(nsub AS DOUBLE) * 4 * 3)
      |    - CAST(sc2 AS DOUBLE)
      |      / (CAST(nsub AS DOUBLE) * 4 * CAST(nsub AS DOUBLE) * 4))
      |    / (1.0 - CAST(sc2 AS DOUBLE)
      |      / (CAST(nsub AS DOUBLE) * 4 * CAST(nsub AS DOUBLE) * 4)), 6)
      |    AS fleiss_kappa
      |FROM s2 CROSS JOIN cj""".stripMargin)
}
