package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 fourteenth wave: size-proportional systematic sampling and
  * the Durbin-Watson autocorrelation statistic (the wave's MRR@10 and
  * MAP@10 live in [[AnnQueries]]).
  *
  * Determinism: the sampler selects by integer boundary-crossing
  * arithmetic on withRunningSums prefix token counts (zero
  * randomness); DW is a ratio of integer (scaled-residual) sums in
  * decimal(38).
  */
object Round8nQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- size-proportional systematic sample ---------------------------------
    // Deterministic PPS sampling: docs in doc_id order, k = 100 equal
    // token-mass strata over the exclusive prefix sums C_i; a doc is
    // drawn once per stratum boundary its token span crosses
    // (copies = ⌊(C+w)k/T⌋ − ⌊Ck/T⌋) — the classic systematic
    // π_i ∝ size design with ZERO randomness: any cluster, any
    // partitioning, same sample. Prefix sums ride withRunningSums.
    "llm_weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), nTok.as("w"))
      val r = GlobalRank.withRunningSums(docs,
        Seq((col("w"), "cw", "tot")), Seq(), Seq(col("doc_id").asc))
      r.select(col("doc_id"), col("lang"), col("w"),
          (expr("cw * 100 div tot") - expr("(cw - w) * 100 div tot"))
            .as("n_copies"))
        .where(col("n_copies") >= 1)
        .orderBy("doc_id")
    }),

    // ---- Durbin-Watson statistic ------------------------------------------------
    // First-order autocorrelation of daily revenue residuals per event
    // type: DW = Σ(e_d − e_{d−1})² / Σe_d² over the SCALED integer
    // residuals e_d = n·x_d − S (the CUSUM idiom — the n² factor
    // cancels in the ratio, so no fractional mean ever materializes).
    // Day-bounded series; decimal(38) squares; one division, 6dp.
    "agg_durbin_watson" -> ((s, dir) => {
      val daily = dailyCenti(s, dir)
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("xc").as("sx"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.join(broadcast(tot), Seq("event_type"))
        .withColumn("e", col("nd") * col("xc") - col("sx"))
        .withColumn("pe", lag("e", 1).over(w))
        .groupBy("event_type")
        .agg(max("nd").as("n_days"),
          sum(when(col("pe").isNotNull,
            ((col("e") - col("pe")).cast(DecimalType(38, 0)) *
              (col("e") - col("pe")).cast(DecimalType(38, 0))))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as("num"),
          sum(col("e").cast(DecimalType(38, 0)) *
            col("e").cast(DecimalType(38, 0))).as("den"))
        .select(col("event_type"), col("n_days"),
          round(d(col("num")) / d(col("den")), 6).as("dw"))
        .orderBy("event_type")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "llm_weighted_sample" -> s"""
      |WITH docs AS (SELECT doc_id, lang,
      |    CAST(len($duckToks)
      |      AS BIGINT) AS w
      |  FROM documents),
      |c AS (SELECT doc_id, lang, w,
      |    CAST(sum(w) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cw,
      |    CAST(sum(w) OVER () AS BIGINT) AS tot
      |  FROM docs)
      |SELECT doc_id, lang, w,
      |  (cw * 100) // tot - ((cw - w) * 100) // tot AS n_copies
      |FROM c
      |WHERE (cw * 100) // tot - ((cw - w) * 100) // tot >= 1
      |ORDER BY doc_id""".stripMargin,

    "agg_durbin_watson" -> s"""
      |WITH $dailyCentiSql,
      |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(xc) AS BIGINT) AS sx
      |  FROM daily GROUP BY 1),
      |e AS (SELECT d.event_type, d.day, t.nd, t.nd * d.xc - t.sx AS e,
      |    lag(t.nd * d.xc - t.sx, 1) OVER (PARTITION BY d.event_type
      |      ORDER BY d.day) AS pe
      |  FROM daily d JOIN tot t ON d.event_type = t.event_type)
      |SELECT event_type, max(nd) AS n_days,
      |  round(CAST(sum(CASE WHEN pe IS NOT NULL
      |      THEN CAST(e - pe AS DECIMAL(38,0)) * CAST(e - pe AS DECIMAL(38,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE)
      |    / CAST(sum(CAST(e AS DECIMAL(38,0)) * CAST(e AS DECIMAL(38,0)))
      |        AS DOUBLE), 6) AS dw
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)
}
