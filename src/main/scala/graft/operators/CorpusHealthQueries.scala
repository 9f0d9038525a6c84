package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Corpus-health batch (round 2, batch 8): label-outlier detection over
  * embeddings (the mislabeled-sample sweep every labeled dataset needs)
  * and a Zipf-law fit per language (the token-distribution sanity check
  * for synthetic or corrupted corpora). The batch's ANN recall@1 lives
  * in [[AnnQueries]].
  *
  * Scale notes (100 TB):
  *  - `llm_label_outliers` is long-form relational algebra: one
  *    bounded aggregation to the per-(label, pos) centroid (label
  *    cardinality × dim rows — catalog-sized, AQE broadcasts it), one
  *    join back to the exploded vectors co-partitioned on (label, pos),
  *    one per-vector reduction, one bounded top-k window per label.
  *    Nothing grows faster than the corpus.
  *  - `llm_zipf_slope` is tf-idf's shuffle shape (corpus-linear
  *    (lang, token) counts) plus per-lang GlobalRank ranks and one
  *    regression aggregate per language.
  *
  * Determinism: the outlier query's floating sums (centroid means,
  * dot/norm reductions) are rounded-then-decimal-summed — order-free
  * and engine-exact. The Zipf regression aggregates accumulate raw
  * doubles like every other regr_/stddev query in the surface and rely
  * on the established r4 convention (inherently order-dependent stats
  * round to 4 on both engines — QueryUtils scaladoc).
  */
object CorpusHealthQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- per-label embedding outliers (mislabel candidates) -------------
    // For each label: the 3 vectors with the LOWEST cosine to their own
    // label centroid. Centroid means and all dot/norm reductions use
    // rounded decimal partials so no summation order (Spark partitioning
    // or DuckDB's) can move a bit.
    "llm_label_outliers" -> ((s, dir) => {
      val ex = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("label"), col("pos"),
          col("x").cast("double").as("x"))
      // r15 batch 4: cent feeds THREE consumers (labelNorm, the
      // broadcast centroid arrays, and transitively every per-vector
      // score); left lazy, each reference re-ran the full corpus
      // explode + aggregation (the plan showed two separate
      // scan+Generate subtrees). One eager checkpoint of the
      // labels×dims table (≤ 640 rows) keeps the explode pass
      // single-eval (guide §2.4).
      val cent = graft.tools.Materialize.eager("lblout.cent",
        ex.groupBy("label", "pos")
          .agg((sum(round(col("x"), 9).cast(DecimalType(18, 9)))
            .cast(DoubleType) / count(lit(1))).as("m")))
      // the centroid self-norm is constant per label: sum it ONCE over
      // the catalog-sized centroid table and join it back, instead of
      // re-summing the identical 64 terms for every vector inside the
      // big (vec_id, label) aggregation (same decimal terms, same
      // order-free sum — bit-identical, at a fraction of the work)
      val labelNorm = cent.groupBy("label")
        .agg(sum(round(col("m") * col("m"), 12).cast(DecimalType(18, 12)))
          .cast(DoubleType).as("mm"))
      // r15 batch 4: the per-vector reductions no longer ride a 64×
      // posexplode → (label, pos) join → (vec_id, label) re-aggregation
      // (two fact-sized exchanges carrying n·64 rows). The catalog-sized
      // centroid table collapses to one pos-ordered array per label
      // (array_sort on (pos, m) structs = ascending pos, the join key
      // order), broadcasts, and RoundedVecDot computes the SAME
      // `sum(round(term, 12)::decimal(18,12))::double` reduction per
      // row — identical HALF_UP per-term rounding (Spark RoundBase
      // semantics replicated; see the kernel scaladoc), exact decimal
      // accumulation (order-free, so the fold order change is
      // invisible), one double image at the end. A vector shorter than
      // the centroid array folds over its own length, exactly the rows
      // the old inner join on pos would keep. RoundedVecDotSpec pins
      // kernel-vs-expression equality cell-by-cell on the real corpus.
      val centArr = cent.groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("label"), col("pm.m").as("mv"))
      import graft.functions.VectorFunctions.roundedVecDot
      val per = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding"))
        .join(broadcast(centArr), "label")
        .select(col("vec_id"), col("label"),
          roundedVecDot(col("embedding"), col("mv"), 12).as("dot"),
          roundedVecDot(col("embedding"), col("embedding"), 12).as("xx"))
        .join(labelNorm, "label")
        .where(col("xx") > 0 && col("mm") > 0)
        .select(col("vec_id"), col("label"),
          r4(col("dot") / (sqrt(col("xx")) * sqrt(col("mm")))).as("cos_cent"))
      // bottom-3 per label via TopKPerGroupExec (bounded per-group
      // heaps over the per-vector table — no label-cardinality-task
      // window); ranking the ≤ 3×|labels| cut afterwards is bounded.
      val cut = graft.plans.GraftOps.topKPerGroup(per, Seq("label"),
        Seq("cos_cent" -> true, "vec_id" -> true), 3)
      val w = Window.partitionBy("label")
        .orderBy(col("cos_cent").asc, col("vec_id").asc)
      cut.withColumn("rk", row_number().over(w).cast("long"))
        .select("label", "rk", "vec_id", "cos_cent")
        .orderBy("label", "rk")
    }),

    // ---- Zipf-law slope per language ------------------------------------
    // Fit log2(count) ~ log2(rank) over the token frequency table of
    // each language; natural text lands near slope -1, templated or
    // synthetic text deviates hard. Rank ties break on the token so the
    // regression inputs are identical on both engines.
    "llm_zipf_slope" -> ((s, dir) => {
      // (lang, tok) counts roll up from the shared unigram ledger
      // (r10 verdict item 6) — no fresh corpus tokenize
      val tf = graft.tools.TokenArtifacts.byLang(s, dir)
        .withColumnRenamed("cnt", "c")
      // per-lang rank over the corpus-vocabulary (lang, token) table:
      // GlobalRank (5 langs), the llm_token_gini shape
      GlobalRank.withSeqAndCount(tf, "rank", "__zs_n", Seq("lang"),
          Seq(col("c").desc, col("tok").asc), groupsHint = 5)
        .groupBy("lang")
        .agg(
          r4(regr_slope(log2(col("c")), log2(col("rank")))).as("zipf_slope"),
          r4(regr_r2(log2(col("c")), log2(col("rank")))).as("fit_r2"),
          count(lit(1)).as("n_types"))
        .orderBy("lang")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_label_outliers" ->
      """WITH ex AS (SELECT vec_id, label, x.i AS pos, CAST(x.v AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label,
        |          unnest(list_transform(generate_series(1, len(embedding)),
        |            i -> struct_pack(i := i - 1, v := embedding[i]))) AS x
        |        FROM embeddings)),
        |cent AS (SELECT label, pos,
        |    CAST(sum(CAST(round(x, 9) AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m
        |  FROM ex GROUP BY label, pos),
        |label_norm AS (SELECT label,
        |    CAST(sum(CAST(round(m * m, 12) AS DECIMAL(18,12))) AS DOUBLE) AS mm
        |  FROM cent GROUP BY label),
        |per AS (SELECT vec_id, ex.label AS label,
        |    CAST(sum(CAST(round(x * m, 12) AS DECIMAL(18,12))) AS DOUBLE) AS dot,
        |    CAST(sum(CAST(round(x * x, 12) AS DECIMAL(18,12))) AS DOUBLE) AS xx
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
        |  GROUP BY vec_id, ex.label),
        |scored AS (SELECT vec_id, per.label AS label,
        |    round(dot / (sqrt(xx) * sqrt(mm)), 4) AS cos_cent
        |  FROM per JOIN label_norm ON per.label = label_norm.label
        |  WHERE xx > 0 AND mm > 0),
        |ranked AS (SELECT label, vec_id, cos_cent,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY cos_cent ASC, vec_id ASC) AS rk
        |  FROM scored)
        |SELECT label, CAST(rk AS BIGINT) AS rk, vec_id, cos_cent
        |FROM ranked WHERE rk <= 3 ORDER BY label, rk""".stripMargin,

    "llm_zipf_slope" ->
      s"""WITH tf AS (SELECT lang,
        |    unnest($duckToks) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tf GROUP BY lang, tok),
        |r AS (SELECT lang, c,
        |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok ASC) AS rank
        |  FROM c)
        |SELECT lang,
        |  round(regr_slope(log2(c), log2(rank)), 4) AS zipf_slope,
        |  round(regr_r2(log2(c), log2(rank)), 4) AS fit_r2,
        |  CAST(count(*) AS BIGINT) AS n_types
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin
  )
}
