package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.functions.AnnCodebook
import graft.functions.VectorFunctions.vecDot
import graft.sources.Tables

/** Round-8 twenty-first wave: embedding-space geometry diagnostics —
  * the pairwise-cosine spectrum and intra/inter-label separation (the
  * 1-NN label accuracy and split-half drift of the same wave live in
  * [[AnnQueries]]).
  *
  * Determinism: every cosine rides the pinned-order FloatVecDot fold
  * (identical double on both engines), is round(·, 6)-quantized before
  * any bucket/compare/sum; sample pairs come from the deterministic
  * 256-vector eval slice (constant-bounded cross joins).
  */
object Round8uQueries extends graft.QueryFamily {

  /** Within-slice (a < b) cosine pairs over the 256-vector eval slice
    * — the shared base of the spectrum/separation queries. */
  private def samplePairs(s: SparkSession, dir: String): DataFrame = {
    val (_, sv) = AnnCodebook.evalSlice(AnnCodebook.indexed(s, dir)._1)
    sv.toDF("ia", "va", "na")
      .crossJoin(broadcast(sv.toDF("ib", "vb", "nb")))
      .where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
  }

  /** Oracle CTEs ending in pairs(ia, ib, cos) over the same slice. */
  private val samplePairsSql: String =
    s"""${AnnCodebook.rawVectorsSql},
      |${AnnCodebook.evalSliceSql},
      |pairs AS (SELECT a.a_id AS ia, b.a_id AS ib,
      |    round(list_aggregate(list_transform(list_zip(a.a_v, b.a_v),
      |        z -> z[1] * z[2]), 'sum') / (a.a_n * b.a_n), 6) AS cos
      |  FROM asd a JOIN asd b ON a.a_id < b.a_id)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- pairwise-cosine spectrum -------------------------------------------
    // Histogram of within-sample pairwise cosines in 0.1 bands — the
    // corpus-geometry health check (anisotropic/collapsed embedding
    // spaces pile mass near 1). Bands floor the 6dp-quantized cosine;
    // 32,640 constant pairs regardless of corpus size.
    "llm_cosine_hist" -> ((s, dir) => {
      val p = samplePairs(s, dir)
      val tot = p.agg(count(lit(1)).as("np"))
      p.withColumn("band",
          greatest(least(floor(col("cos") * 10).cast("long"), lit(9L)),
            lit(-10L)))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_pairs"),
          round(d(col("n_pairs")) / d(col("np")), 6).as("share"))
        .orderBy("band")
    }),

    // ---- intra/inter-label separation ------------------------------------------
    // Mean within-sample cosine split by label agreement — the
    // one-number separability check behind llm_cluster_purity (a good
    // label space has intra ≫ inter). 6dp cosines decimal-summed.
    "llm_label_separation" -> ((s, dir) => {
      val lbl = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("lab"))
      val p = samplePairs(s, dir)
        .join(lbl.toDF("ia", "la"), Seq("ia"))
        .join(lbl.toDF("ib", "lb"), Seq("ib"))
      p.groupBy((col("la") === col("lb")).as("same_label"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cos").cast(DecimalType(18, 6))).as("sc"))
        .select(col("same_label"), col("n_pairs"),
          round(d(col("sc")) / d(col("n_pairs")), 6).as("mean_cos"))
        .orderBy("same_label")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "llm_cosine_hist" -> s"""
      |WITH $samplePairsSql,
      |b AS (SELECT greatest(least(CAST(floor(cos * 10) AS BIGINT), 9), -10)
      |    AS band FROM pairs),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS np FROM b)
      |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(CAST(count(*) AS DOUBLE)
      |    / (SELECT CAST(np AS DOUBLE) FROM tot), 6) AS share
      |FROM b GROUP BY band ORDER BY band""".stripMargin,

    "llm_label_separation" -> s"""
      |WITH $samplePairsSql,
      |lp AS (SELECT (la.label = lb.label) AS same_label, p.cos
      |  FROM pairs p
      |  JOIN embeddings la ON p.ia = la.vec_id
      |  JOIN embeddings lb ON p.ib = lb.vec_id)
      |SELECT same_label, CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS mean_cos
      |FROM lp GROUP BY same_label ORDER BY same_label""".stripMargin)
}
