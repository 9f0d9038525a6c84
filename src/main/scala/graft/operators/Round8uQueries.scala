package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twenty-first wave: embedding-space geometry diagnostics —
  * the pairwise-cosine spectrum, intra/inter-label separation, 1-NN
  * label accuracy and the split-half centroid drift.
  *
  * Determinism: every cosine rides the pinned-order FloatVecDot fold
  * (identical double on both engines), is round(·, 6)-quantized before
  * any bucket/compare/sum; sample pairs come from the deterministic
  * 256-vector hash sample (constant-bounded cross joins); drift
  * centroids use 6dp-quantized components decimal-summed (order-free),
  * one IEEE √ per label.
  */
object Round8uQueries extends graft.QueryFamily {

  /** Within-sample (a < b) cosine pairs over the 256-vector hash
    * sample — the shared base of the spectrum/separation queries. */
  private def samplePairs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AnnCodebook
    import graft.functions.VectorFunctions.vecDot
    val (e, _) = AnnCodebook.indexed(s, dir)
    val sample = AnnCodebook.hashSample(e, 256)
    val sv = e.join(broadcast(sample), col("vec_id") === col("a_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
    sv.toDF("ia", "va", "na")
      .crossJoin(broadcast(sv.toDF("ib", "vb", "nb")))
      .where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
  }

  /** Oracle CTEs ending in pairs(ia, ib, cos) over the same sample. */
  private val samplePairsSql: String =
    """ke AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |  FROM embeddings),
      |n AS (SELECT vec_id, ev,
      |    sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum')) AS nrm
      |  FROM ke),
      |ksmp AS (SELECT vec_id AS a_id FROM (
      |    SELECT vec_id, row_number() OVER (ORDER BY
      |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
      |      vec_id) AS rk
      |    FROM embeddings) WHERE rk <= 256),
      |sv AS (SELECT vec_id, ev, nrm FROM n JOIN ksmp ON vec_id = a_id),
      |pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    round(list_aggregate(list_transform(list_zip(a.ev, b.ev),
      |        z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm), 6) AS cos
      |  FROM sv a JOIN sv b ON a.vec_id < b.vec_id)""".stripMargin

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
    }),

    // ---- 1-NN label accuracy ------------------------------------------------------
    // Exact nearest-neighbor label prediction over the eval sample —
    // the classification view of embedding quality (llm_ann_recall
    // grades the INDEX; this grades the SPACE). Constant 256-row
    // broadcast against the corpus, ties broken by vec_id.
    "llm_knn_label_acc" -> ((s, dir) => {
      import graft.functions.AnnCodebook
      import graft.functions.VectorFunctions.vecDot
      val (e, _) = AnnCodebook.indexed(s, dir)
      val sample = AnnCodebook.hashSample(e, 256)
      val lbl = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("lab"))
      val aS = e.join(broadcast(sample), col("vec_id") === col("a_id"))
        .select(col("a_id"), col("embedding").as("a_v"), col("nrm").as("a_n"))
      val nn = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
          col("nrm").as("b_n"))
        .crossJoin(broadcast(aS))
        .where(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          (vecDot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
            .as("cos_sim"))
        .withColumn("rk", row_number().over(Window.partitionBy("a_id")
          .orderBy(col("cos_sim").desc, col("b_id").asc)))
        .where(col("rk") === 1)
      nn.join(lbl.toDF("a_id", "la"), Seq("a_id"))
        .join(lbl.toDF("b_id", "lb"), Seq("b_id"))
        .agg(count(lit(1)).as("n_eval"),
          count_if(col("la") === col("lb")).as("n_correct"))
        .select(col("n_eval"), col("n_correct"),
          round(d(col("n_correct")) / d(col("n_eval")), 6).as("accuracy"))
    }),

    // ---- split-half centroid drift ---------------------------------------------------
    // Per label: L2 distance between the even-vec_id and odd-vec_id
    // half centroids — the reproducibility/drift check (a stable
    // embedding space has near-identical half centroids). Components
    // 6dp-quantized and decimal-summed per (label, dim); squared
    // deltas 10dp-quantized before the cross-dim sum; one √.
    "llm_emb_drift" -> ((s, dir) => {
      val g = Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("lab"),
          (col("vec_id") % 2 === 0).as("even"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("lab", "pos")
        .agg(
          sum(when(col("even"), round(d(col("v")), 6))
            .otherwise(lit(0.0)).cast(DecimalType(28, 6))).as("se"),
          count_if(col("even")).as("ne"),
          sum(when(!col("even"), round(d(col("v")), 6))
            .otherwise(lit(0.0)).cast(DecimalType(28, 6))).as("so"),
          count_if(!col("even")).as("no"))
      val delta = d(col("se")) / d(col("ne")) - d(col("so")) / d(col("no"))
      g.select(col("lab"), col("ne"), col("no"),
          round(delta * delta, 10).cast(DecimalType(28, 10)).as("d2"))
        .groupBy("lab")
        .agg(max("ne").as("n_even"), max("no").as("n_odd"),
          round(sqrt(d(sum("d2"))), 6).as("drift"))
        .orderBy("lab")
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
      |FROM lp GROUP BY same_label ORDER BY same_label""".stripMargin,

    "llm_knn_label_acc" -> s"""
      |WITH $samplePairsSql,
      |asd AS (SELECT vec_id AS a_id, ev AS a_v, nrm AS a_n FROM sv),
      |cand AS (SELECT a.a_id, b.vec_id AS b_id,
      |    list_aggregate(list_transform(list_zip(a.a_v, b.ev),
      |      z -> z[1] * z[2]), 'sum') / (a.a_n * b.nrm) AS cos_sim
      |  FROM asd a JOIN n b ON b.vec_id <> a.a_id),
      |nn AS (SELECT a_id, b_id FROM (
      |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
      |      ORDER BY cos_sim DESC, b_id ASC) AS rk FROM cand)
      |  WHERE rk = 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_eval,
      |  CAST(count(*) FILTER (la.label = lb.label) AS BIGINT) AS n_correct,
      |  round(CAST(count(*) FILTER (la.label = lb.label) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS accuracy
      |FROM nn
      |JOIN embeddings la ON nn.a_id = la.vec_id
      |JOIN embeddings lb ON nn.b_id = lb.vec_id""".stripMargin,

    "llm_emb_drift" -> """
      |WITH x AS (SELECT CAST(label AS BIGINT) AS lab,
      |    (vec_id % 2 = 0) AS even, u.pos - 1 AS pos,
      |    CAST(u.v AS DOUBLE) AS v
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) AS pos) u),
      |g AS (SELECT lab, pos,
      |    sum(CASE WHEN even THEN CAST(round(v, 6) AS DECIMAL(28,6))
      |        ELSE CAST(0 AS DECIMAL(28,6)) END) AS se,
      |    CAST(count(*) FILTER (even) AS BIGINT) AS ne,
      |    sum(CASE WHEN NOT even THEN CAST(round(v, 6) AS DECIMAL(28,6))
      |        ELSE CAST(0 AS DECIMAL(28,6)) END) AS so,
      |    CAST(count(*) FILTER (NOT even) AS BIGINT) AS no
      |  FROM x GROUP BY 1, 2),
      |dd AS (SELECT lab, ne, no,
      |    CAST(round((CAST(se AS DOUBLE) / CAST(ne AS DOUBLE)
      |      - CAST(so AS DOUBLE) / CAST(no AS DOUBLE))
      |      * (CAST(se AS DOUBLE) / CAST(ne AS DOUBLE)
      |      - CAST(so AS DOUBLE) / CAST(no AS DOUBLE)), 10)
      |      AS DECIMAL(28,10)) AS d2
      |  FROM g)
      |SELECT lab, max(ne) AS n_even, max(no) AS n_odd,
      |  round(sqrt(CAST(sum(d2) AS DOUBLE)), 6) AS drift
      |FROM dd GROUP BY lab ORDER BY lab""".stripMargin)
}
