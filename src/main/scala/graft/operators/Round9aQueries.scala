package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 first wave: ordinal-association statistics — Goodman–Kruskal
  * gamma, Somers' D and Stuart's tau-c over the (quantity, discount)
  * contingency table, plus Kendall's W rank concordance across daily
  * event-type revenue rankings.
  *
  * Scale design: concordant/discordant/tie pair counts are NEVER
  * row×row — they come from a self-join of the per-flag contingency
  * CELLS (≤ 50 quantities × 11 discount levels per flag, catalog-
  * bounded regardless of row count), with per-cell counts held as
  * DECIMAL(18,0) so the cell-pair products stay inside DECIMAL(37,0)
  * and their sums inside DECIMAL(38,0) far past 100 TB row counts.
  *
  * Determinism: all pair ledgers are exact integers; each emitted
  * statistic is one fixed chain of correctly-rounded IEEE double ops
  * mirrored operation-for-operation in the oracle; Kendall's W ranks
  * are total (revenue desc, event_type asc tiebreak) and the W
  * numerator uses the doubled-residual trick (2·Rᵢ − k·(n+1))² so no
  * half ever materializes.
  */
object Round9aQueries extends graft.QueryFamily {

  /** Per-returnflag ordinal pair ledger from the (quantity, discount-
    * centi) contingency cells: n rows, distinct level counts, and the
    * concordant / discordant / tied-x-only / tied-y-only / both-tied
    * unordered pair counts as exact DECIMAL(38,0). Frame-parametric
    * so ScaleDryRun measures the SHIPPED pipeline.
    */
  private[graft] def ordinalPairsOf(li: DataFrame): DataFrame = {
    val cells = li
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast(DecimalType(18, 0)).cast("long").as("x"),
        (col("l_discount").cast(DecimalType(18, 2)) * 100)
          .cast(DecimalType(18, 0)).cast("long").as("y"))
      .groupBy("flag", "x", "y")
      .agg(count(lit(1)).cast(DecimalType(18, 0)).as("cnt"))
    val b = cells.select(col("flag").as("bflag"), col("x").as("bx"),
      col("y").as("by"), col("cnt").as("bcnt"))
    // every unordered cross-cell pair exactly once: b strictly before a
    // in (x, y) lex order within the flag
    val cross = cells.join(broadcast(b),
      col("flag") === col("bflag") &&
        (col("bx") < col("x") ||
          (col("bx") === col("x") && col("by") < col("y"))))
      .groupBy("flag")
      .agg(
        sum(when(col("bx") < col("x") && col("by") < col("y"),
          col("cnt") * col("bcnt"))).as("c0"),
        sum(when(col("bx") < col("x") && col("by") > col("y"),
          col("cnt") * col("bcnt"))).as("d0"),
        sum(when(col("bx") === col("x"), col("cnt") * col("bcnt")))
          .as("tx0"),
        sum(when(col("by") === col("y"), col("cnt") * col("bcnt")))
          .as("ty0"))
    val within = cells.groupBy("flag")
      .agg(sum(col("cnt")).cast("long").as("n"),
        countDistinct("x").as("mx"), countDistinct("y").as("my"))
    val z = lit(0).cast(DecimalType(38, 0))
    within.join(cross, Seq("flag"))
      .select(col("flag"), col("n"), col("mx"), col("my"),
        coalesce(col("c0"), z).as("c"), coalesce(col("d0"), z).as("dd"),
        coalesce(col("tx0"), z).as("tx"), coalesce(col("ty0"), z).as("ty"))
  }

  private def ordinalPairs(s: SparkSession, dir: String): DataFrame =
    ordinalPairsOf(Tables.lineitem(s, dir))

  /** Shared oracle CTE mirroring [[ordinalPairs]] (DuckDB). */
  private val ordinalSql =
    """cells AS (SELECT l_returnflag AS flag,
      |    CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS x,
      |    CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
      |      AS DECIMAL(18,0)) AS BIGINT) AS y,
      |    CAST(count(*) AS DECIMAL(18,0)) AS cnt
      |  FROM lineitem GROUP BY 1, 2, 3),
      |cross_p AS (SELECT a.flag,
      |    sum(CASE WHEN b.x < a.x AND b.y < a.y
      |      THEN a.cnt * b.cnt END) AS c0,
      |    sum(CASE WHEN b.x < a.x AND b.y > a.y
      |      THEN a.cnt * b.cnt END) AS d0,
      |    sum(CASE WHEN b.x = a.x THEN a.cnt * b.cnt END) AS tx0,
      |    sum(CASE WHEN b.y = a.y THEN a.cnt * b.cnt END) AS ty0
      |  FROM cells a JOIN cells b ON a.flag = b.flag
      |    AND (b.x < a.x OR (b.x = a.x AND b.y < a.y))
      |  GROUP BY 1),
      |within AS (SELECT flag, CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(count(DISTINCT x) AS BIGINT) AS mx,
      |    CAST(count(DISTINCT y) AS BIGINT) AS my
      |  FROM cells GROUP BY 1),
      |p AS (SELECT w.flag, w.n, w.mx, w.my,
      |    CAST(coalesce(c.c0, 0) AS DECIMAL(38,0)) AS c,
      |    CAST(coalesce(c.d0, 0) AS DECIMAL(38,0)) AS dd,
      |    CAST(coalesce(c.tx0, 0) AS DECIMAL(38,0)) AS tx,
      |    CAST(coalesce(c.ty0, 0) AS DECIMAL(38,0)) AS ty
      |  FROM within w JOIN cross_p c ON w.flag = c.flag)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- Goodman–Kruskal gamma ------------------------------------------------
    // γ = (C − D)/(C + D) per return flag on (quantity, discount):
    // the tie-ignoring ordinal association. Pair ledgers as exact
    // decimals, displayed as doubles, one division.
    "agg_gk_gamma" -> ((s, dir) =>
      ordinalPairs(s, dir)
        .select(col("flag"), col("n"), d(col("c")).as("c_pairs"),
          d(col("dd")).as("d_pairs"),
          round((d(col("c")) - d(col("dd"))) / (d(col("c")) + d(col("dd"))), 6)
            .as("gamma"))
        .orderBy("flag")),

    // ---- Somers' D (both directions) -----------------------------------------
    // d_yx = (C−D)/(C+D+T_y) and d_xy = (C−D)/(C+D+T_x): the
    // asymmetric ordinal association, penalizing ties on the
    // dependent side only.
    "agg_somers_d" -> ((s, dir) =>
      ordinalPairs(s, dir)
        .select(col("flag"), col("n"),
          round((d(col("c")) - d(col("dd")))
            / (d(col("c")) + d(col("dd")) + d(col("ty"))), 6).as("d_yx"),
          round((d(col("c")) - d(col("dd")))
            / (d(col("c")) + d(col("dd")) + d(col("tx"))), 6).as("d_xy"))
        .orderBy("flag")),

    // ---- Stuart's tau-c --------------------------------------------------------
    // τ_c = 2m(C−D)/(n²(m−1)) with m = min(levels_x, levels_y): the
    // rectangular-table Kendall correction. One fixed double chain.
    "agg_stuart_tau_c" -> ((s, dir) =>
      ordinalPairs(s, dir)
        .select(col("flag"), col("n"),
          least(col("mx"), col("my")).as("m"),
          round(lit(2.0) * d(least(col("mx"), col("my")))
            * (d(col("c")) - d(col("dd")))
            / (d(col("n")) * d(col("n"))
              * (d(least(col("mx"), col("my"))) - lit(1.0))), 6)
            .as("tau_c"))
        .orderBy("flag")),

    // ---- Kendall's W (rank concordance) ----------------------------------------
    // Do the daily event-type revenue rankings agree across days?
    // Judges = complete days (all types present), objects = event
    // types, ranks total under (revenue desc, type asc). W =
    // 3·Σ(2Rᵢ − k(n+1))² / (k²(n³−n)) — the doubled-residual image of
    // 12S/(k²(n³−n)), all-integer until one final division.
    "agg_kendall_w" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val nt = daily.agg(countDistinct("event_type").as("n_obj"))
      val fullDays = daily.groupBy("day")
        .agg(count(lit(1)).as("tod"))
        .crossJoin(broadcast(nt))
        .where(col("tod") === col("n_obj"))
        .select("day")
      val kept = daily.join(broadcast(fullDays), Seq("day"))
      val w = Window.partitionBy("day")
        .orderBy(col("xc").desc, col("event_type").asc)
      val r = kept.withColumn("rk", row_number().over(w).cast("long"))
        .groupBy("event_type").agg(sum("rk").as("ri"))
      val k = kept.agg(countDistinct("day").as("k_judges"))
      r.crossJoin(broadcast(k)).crossJoin(broadcast(nt))
        .select(col("event_type"), col("ri"), col("k_judges"), col("n_obj"),
          (lit(2) * col("ri") - col("k_judges") * (col("n_obj") + 1))
            .as("res2"))
        .groupBy("k_judges", "n_obj")
        .agg(sum(col("res2") * col("res2")).as("s4"))
        .select(col("k_judges"), col("n_obj"),
          round(lit(3.0) * d(col("s4"))
            / (d(col("k_judges")) * d(col("k_judges"))
              * (d(col("n_obj")) * d(col("n_obj")) * d(col("n_obj"))
                - d(col("n_obj")))), 6).as("w"))
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_gk_gamma" -> s"""
      |WITH $ordinalSql
      |SELECT flag, n, CAST(c AS DOUBLE) AS c_pairs,
      |  CAST(dd AS DOUBLE) AS d_pairs,
      |  round((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
      |    / (CAST(c AS DOUBLE) + CAST(dd AS DOUBLE)), 6) AS gamma
      |FROM p ORDER BY flag""".stripMargin,

    "agg_somers_d" -> s"""
      |WITH $ordinalSql
      |SELECT flag, n,
      |  round((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
      |    / (CAST(c AS DOUBLE) + CAST(dd AS DOUBLE)
      |      + CAST(ty AS DOUBLE)), 6) AS d_yx,
      |  round((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
      |    / (CAST(c AS DOUBLE) + CAST(dd AS DOUBLE)
      |      + CAST(tx AS DOUBLE)), 6) AS d_xy
      |FROM p ORDER BY flag""".stripMargin,

    "agg_stuart_tau_c" -> s"""
      |WITH $ordinalSql
      |SELECT flag, n, least(mx, my) AS m,
      |  round(2.0 * CAST(least(mx, my) AS DOUBLE)
      |    * (CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |      * (CAST(least(mx, my) AS DOUBLE) - 1.0)), 6) AS tau_c
      |FROM p ORDER BY flag""".stripMargin,

    "agg_kendall_w" -> s"""
      |WITH $dailyCentiSql,
      |nt AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_obj
      |  FROM daily),
      |full_days AS (SELECT day FROM daily, nt
      |  GROUP BY day, nt.n_obj HAVING count(*) = nt.n_obj),
      |kept AS (SELECT d.* FROM daily d JOIN full_days f ON d.day = f.day),
      |r AS (SELECT event_type, CAST(sum(rk) AS BIGINT) AS ri
      |  FROM (SELECT event_type,
      |      CAST(row_number() OVER (PARTITION BY day
      |        ORDER BY xc DESC, event_type) AS BIGINT) AS rk
      |    FROM kept) x
      |  GROUP BY 1),
      |k AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS k_judges
      |  FROM kept),
      |s AS (SELECT k.k_judges, nt.n_obj,
      |    sum((2 * r.ri - k.k_judges * (nt.n_obj + 1))
      |      * (2 * r.ri - k.k_judges * (nt.n_obj + 1))) AS s4
      |  FROM r, k, nt GROUP BY 1, 2)
      |SELECT k_judges, n_obj,
      |  round(3.0 * CAST(s4 AS DOUBLE)
      |    / (CAST(k_judges AS DOUBLE) * CAST(k_judges AS DOUBLE)
      |      * (CAST(n_obj AS DOUBLE) * CAST(n_obj AS DOUBLE)
      |        * CAST(n_obj AS DOUBLE) - CAST(n_obj AS DOUBLE))), 6) AS w
      |FROM s""".stripMargin)
}
