package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 fourteenth wave: the last two ANN ranking-quality metrics
  * (MRR@10, MAP@10 — completing recall@1 / recall@10 / NDCG@10),
  * size-proportional systematic sampling, and the Durbin-Watson
  * autocorrelation statistic.
  *
  * Determinism: MRR/MAP ride the exact llm_ann_ndcg probe scaffolding
  * (same IVF cells, same tie-breaks) with per-query rationals
  * round(·, 8)-quantized before every cross-query decimal sum; the
  * sampler selects by integer boundary-crossing arithmetic on
  * withRunningSums prefix token counts (zero randomness); DW is a
  * ratio of integer (scaled-residual) sums in decimal(38).
  */
object Round8nQueries extends graft.QueryFamily {

  /** (hits, nVecs): probe-top10 rows that are exact-top10 relevant,
    * as (a_id, rk) — the shared base of MRR/MAP (the llm_ann_ndcg
    * scaffolding verbatim, distinct memo tags). */
  private def annHits(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.functions.AnnCodebook
    import graft.functions.VectorFunctions.vecDot
    val (e, cent) = AnnCodebook.indexed(s, dir)
    val sample = AnnCodebook.hashSample(e, 256)
    val aS = e.select(col("vec_id").as("a_id"),
      col("embedding").as("a_v"), col("nrm").as("a_n"))
      .join(broadcast(sample), Seq("a_id"))
    val cos = (vecDot(col("a_v"), col("b_v")) /
      (col("a_n") * col("b_n"))).as("cos_sim")
    def top10(pairs: DataFrame): DataFrame = pairs
      .withColumn("rk", row_number().over(Window.partitionBy("a_id")
        .orderBy(col("cos_sim").desc, col("b_id").asc)))
      .where(col("rk") <= 10)
    val ex10 = top10(
      e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
        col("nrm").as("b_n"))
        .crossJoin(broadcast(aS))
        .where(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"), cos))
      .select("a_id", "b_id")
    val probes = AnnCodebook.probeCells(aS, cent)
    val ann10 = top10(probes.join(aS, "a_id")
      .join(e.select(col("cell").as("pcell"), col("vec_id").as("b_id"),
        col("embedding").as("b_v"), col("nrm").as("b_n")), "pcell")
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), cos))
      .select("a_id", "b_id", "rk")
    (ann10.join(ex10, Seq("a_id", "b_id")).select("a_id", "rk"),
      sample.agg(count(lit(1)).as("n_vecs")))
  }

  /** Shared oracle CTE prefix ending in hits(a_id, rk) + ksmp. */
  private def hitsCtes: String =
    s"WITH ${graft.functions.AnnCodebook.oracleCtes}," +
      s"""
        |ke AS (SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS ev,
        |    kcells.cell AS cell
        |  FROM embeddings e JOIN kcells ON e.vec_id = kcells.vec_id),
        |n AS (SELECT vec_id, ev, cell,
        |    sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum')) AS nrm
        |  FROM ke),
        |ksmp AS (SELECT vec_id AS a_id FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY
        |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id) AS rk
        |    FROM embeddings) WHERE rk <= 256),
        |asd AS (SELECT a_id, ev AS a_v, nrm AS a_n
        |  FROM n JOIN ksmp ON n.vec_id = ksmp.a_id),
        |kqs AS (SELECT a_id, qv FROM kq JOIN ksmp ON kq.vec_id = ksmp.a_id),
        |${graft.functions.AnnCodebook.oracleProbeCells},
        |p AS (SELECT a.a_id, b.vec_id AS b_id, b.cell AS bcell,
        |    list_aggregate(list_transform(list_zip(a.a_v, b.ev), z -> z[1] * z[2]), 'sum')
        |      / (a.a_n * b.nrm) AS cos_sim
        |  FROM asd a JOIN n b ON b.vec_id <> a.a_id),
        |ex10 AS (SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
        |      ORDER BY cos_sim DESC, b_id ASC) AS rk FROM p) WHERE rk <= 10),
        |an10 AS (SELECT a_id, b_id, rk FROM (
        |    SELECT p.a_id, p.b_id, row_number() OVER (PARTITION BY p.a_id
        |      ORDER BY cos_sim DESC, b_id ASC) AS rk
        |    FROM p JOIN kpr ON p.a_id = kpr.a_id AND p.bcell = kpr.pcell)
        |  WHERE rk <= 10),
        |hits AS (SELECT a_id, rk FROM an10 JOIN ex10 USING (a_id, b_id))"""
        .stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- MRR@10 of the IVF probe vs exact ----------------------------------
    // Mean reciprocal rank of the FIRST exact-relevant item in the
    // probe's top-10 — "how soon does the index show something right".
    // Per-query 1/min(rk) is round(·, 8)-quantized before the decimal
    // sum; no-hit queries contribute 0 via the sample-count
    // denominator.
    "llm_ann_mrr" -> ((s, dir) => {
      val (hits, nv) = annHits(s, dir)
      hits.groupBy("a_id").agg(min("rk").as("minrk"))
        .agg(sum(round(lit(1.0) / d(col("minrk")), 8)
          .cast(DecimalType(18, 8))).as("srr"))
        .crossJoin(broadcast(nv))
        .select(col("n_vecs"),
          round(d(col("srr")) / d(col("n_vecs")), 6).as("mean_mrr10"))
    }),

    // ---- MAP@10 of the IVF probe vs exact ----------------------------------
    // Mean average precision: per query AP = (1/10)·Σ_hits
    // precision@rk with precision@rk = (hit index among hits by rank)
    // / rk — every precision an exact small rational, round(·, 8)-
    // quantized, summed per query then across the sample.
    "llm_ann_map" -> ((s, dir) => {
      val (hits, nv) = annHits(s, dir)
      val prec = hits.withColumn("hi", row_number().over(
        Window.partitionBy("a_id").orderBy("rk")))
      prec.groupBy("a_id")
        .agg(sum(round(d(col("hi")) / d(col("rk")), 8)
          .cast(DecimalType(18, 8))).as("psum"))
        .agg(sum(round(d(col("psum")) / 10.0, 8).cast(DecimalType(18, 8)))
          .as("sap"))
        .crossJoin(broadcast(nv))
        .select(col("n_vecs"),
          round(d(col("sap")) / d(col("n_vecs")), 6).as("mean_map10"))
    }),

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

    "llm_ann_mrr" -> (hitsCtes + """,
        |rr AS (SELECT a_id, min(rk) AS minrk FROM hits GROUP BY a_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ksmp) AS n_vecs,
        |  round(CAST(sum(CAST(round(1.0 / CAST(minrk AS DOUBLE), 8)
        |      AS DECIMAL(18,8))) AS DOUBLE)
        |    / (SELECT CAST(count(*) AS DOUBLE) FROM ksmp), 6) AS mean_mrr10
        |FROM rr""").stripMargin,

    "llm_ann_map" -> (hitsCtes + """,
        |prec AS (SELECT a_id, rk, row_number() OVER (PARTITION BY a_id
        |    ORDER BY rk) AS hi FROM hits),
        |ap AS (SELECT a_id,
        |    sum(CAST(round(CAST(hi AS DOUBLE) / CAST(rk AS DOUBLE), 8)
        |      AS DECIMAL(18,8))) AS psum
        |  FROM prec GROUP BY a_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ksmp) AS n_vecs,
        |  round(CAST(sum(CAST(round(CAST(psum AS DOUBLE) / 10.0, 8)
        |      AS DECIMAL(18,8))) AS DOUBLE)
        |    / (SELECT CAST(count(*) AS DOUBLE) FROM ksmp), 6) AS mean_map10
        |FROM ap""").stripMargin,

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
