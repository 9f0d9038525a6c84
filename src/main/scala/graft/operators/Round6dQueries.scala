package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.functions.VectorFunctions.vecDot
import graft.sources.Tables

/** §2.N (r6, fourth wave) — retrieval-training hard-negative mining
  * over the IVF index, bounded k-core graph peeling, the Mann-Whitney
  * U nonparametric test (midranks via GlobalRank), and paragraph-level
  * (sub-document) dedup.
  *
  * Determinism (§7.2): ranks/counts/degrees are exact integers;
  * midranks stay as integer numerators divided by 2 exactly once;
  * cosine scores reuse the ANN family's left-fold convention (Spark
  * `FloatVecDot` ≡ DuckDB `list_aggregate 'sum'` element order); the
  * one sqrt-bearing z closed form rounds to 6dp; chunk hashes are md5
  * of identical strings on both engines.
  */
object Round6dQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- hard-negative mining -------------------------------------------
    // The retrieval-training data op: for every anchor vector, the 3
    // most cosine-similar vectors in the SAME IVF cell with a
    // DIFFERENT label — near the anchor geometrically, wrong
    // semantically — exactly what contrastive training wants as hard
    // negatives. Candidates are cell-keyed (Σ cell² bound, the ANN
    // family's bucket-join shape, never all-pairs); the per-anchor
    // top-3 is a high-cardinality keyed window (scale-safe); scores
    // ride the build-once memoized codebook index.
    "llm_hard_negatives" -> ((s, dir) => {
      val (e, _) = graft.functions.AnnCodebook.indexed(s, dir)
      val ei = e.join(
        Tables.embeddings(s, dir).select(col("vec_id"), col("label")), "vec_id")
      val a = ei.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("nrm").as("na"), col("cell"), col("label").as("la"))
      val b = ei.select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("cell").as("cell2"), col("label").as("lb"))
      a.join(b, col("cell") === col("cell2") && col("la") =!= col("lb"))
        .select(col("a"), col("b"), col("cell"), col("la"), col("lb"),
          (vecDot(col("ea"), col("eb")) / (col("na") * col("nb")))
            .as("cos_sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("a").orderBy(col("cos_sim").desc, col("b").asc))
          .cast("long"))
        .where(col("rn") <= 3)
        .orderBy(col("a"), col("rn"))
    }),

    // ---- bounded k-core peeling -----------------------------------------
    // Four peel rounds toward the 3-core of the supplier co-occurrence
    // graph: each round drops nodes with degree < 3 and the edges they
    // carried — the standard "dense backbone" extraction (community
    // seeds, spam-ring cores). Each round is one degree count + two
    // semi-join filters with an eager checkpoint (the bounded-round
    // pagerank/label-propagation skeleton); counts are exact integers.
    "graph_kcore" -> ((s, dir) => {
      val k = 3
      var edges = graft.tools.Materialize.eager("kcore.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val perRound = (1 to 4).map { r =>
        val deg = edges.select(col("sa").as("v"))
          .union(edges.select(col("sb").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val keep = deg.where(col("deg") >= k).select("v")
        edges = graft.tools.Materialize.eager(s"kcore.r$r", edges
          .join(keep.toDF("ka"), col("sa") === col("ka"), "left_semi")
          .join(keep.toDF("kb"), col("sb") === col("kb"), "left_semi"))
        keep.agg(count(lit(1)).as("nodes_kept"))
          .crossJoin(edges.agg(count(lit(1)).as("edges_kept")))
          .select(lit(r.toLong).as("round"), col("nodes_kept"),
            col("edges_kept"))
      }
      perRound.reduce(_ union _).orderBy("round")
    }),

    // ---- Mann-Whitney U test --------------------------------------------
    // Nonparametric treat-vs-control comparison of event value per
    // event type (the rank-sum complement of agg_diff_in_diff's means):
    // midranks from GlobalRank's per-type total order + a value-keyed
    // tie rollup, U from the treatment midrank sum, z with the tie
    // correction. Midrank sums stay integer numerators (Σ t_treat·
    // (lo+hi), halved exactly once); the z closed form rounds to 6dp.
    "agg_mannwhitney" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"),
        (col("user_id") % 2 === 0).as("treat"),
        col("value").cast(DecimalType(18, 6)).as("v"))
      val ranked = GlobalRank.withSeqAndCount(ev, "rn", "n_all",
        Seq("event_type"), Seq(col("v").asc, col("event_id").asc),
        groupsHint = 16) // 5 event types in the schema
      val grp = ranked.groupBy("event_type", "v")
        .agg(min("rn").as("lo"), max("rn").as("hi"), count(lit(1)).as("t"),
          count_if(col("treat")).as("t_treat"))
      val agg = grp.groupBy("event_type")
        .agg(sum("t").as("n"), sum("t_treat").as("n1"),
          sum(col("t_treat") * (col("lo") + col("hi"))).as("rs2"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
        .withColumn("n2", col("n") - col("n1"))
      val u = d(col("rs2") - col("n1") * (col("n1") + 1)) / lit(2.0)
      val mu = d(col("n1") * col("n2")) / lit(2.0)
      val sigma2 = d(col("n1") * col("n2")) / lit(12.0) *
        (d(col("n") + 1) - d(col("ties")) / (d(col("n")) * d(col("n") - 1)))
      agg.select(col("event_type"), col("n1").as("n_treat"),
          col("n2").as("n_ctrl"), u.as("u_stat"),
          round((u - mu) / sqrt(sigma2), 6).as("z"))
        .orderBy("event_type")
    }),

    // ---- paragraph-level dedup ------------------------------------------
    // Sub-document dedup (the RefinedWeb-style pass whole-doc hashing
    // misses): documents chunk into non-overlapping 20-token
    // paragraphs, chunks hash by md5, and a chunk instance counts as
    // duplicated when its hash appears in MORE THAN ONE document.
    // Per-source duplicated-chunk mass = the boilerplate the crawl
    // carries. Chunking is map-side; the hash rollup is one
    // chunk-keyed shuffle (scales with distinct paragraphs); ratios
    // are integer/integer single divisions.
    "llm_dedup_paragraph" -> ((s, dir) =>
      paragraphDupStats(Tables.documents(s, dir)))
  )

  /** The paragraph-dedup pipeline over an arbitrary documents frame
    * (doc_id, source, text) — the declared query runs it on the fixture
    * table; ScaleDryRun replays the SAME pipeline at k× volume. */
  private[graft] def paragraphDupStats(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r14: chunking via the codegen'd WordChunkList kernel — identical
    // tokenization (split ' ', empties dropped), identical 20-token
    // windows and space join; the transform(sequence(...)) form
    // interpreted its slice+concat_ws lambda per chunk.
    val ch = docs.select(col("doc_id"), col("source"),
        explode_outer(
          graft.functions.TextNGrams.mkWordChunks(col("text"), 20)).as("chunk"))
      .where(col("chunk").isNotNull)
      .select(col("doc_id"), col("source"), md5(col("chunk")).as("h"))
    val hs = ch.groupBy("h").agg(countDistinct("doc_id").as("nd"))
    ch.join(hs, "h")
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_chunks"),
        count_if(col("nd") > 1).as("dup_chunks"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("dup_chunks"),
        (col("dup_chunks").cast(DoubleType) /
          col("n_chunks").cast(DoubleType)).as("dup_chunk_rate"))
      .orderBy("source")
  }

  /** Unrolled one-round peel: degrees of `prev`, keep degree ≥ 3,
    * filter edges to kept endpoints. */
  private def kcoreRoundSql(r: Int, prev: String): String =
    s"""d$r AS (SELECT v, count(*) AS deg FROM
       |  (SELECT sa AS v FROM $prev UNION ALL SELECT sb AS v FROM $prev)
       |  GROUP BY v),
       |k$r AS (SELECT v FROM d$r WHERE deg >= 3),
       |e$r AS (SELECT sa, sb FROM $prev
       |  WHERE sa IN (SELECT v FROM k$r) AND sb IN (SELECT v FROM k$r))""".stripMargin

  val oracles: Map[String, String] = Map(

    "llm_hard_negatives" ->
      (s"WITH ${graft.functions.AnnCodebook.oracleCtes}," +
        """
        |ke AS (SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS ev,
        |    sqrt(list_aggregate(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
        |    kcells.cell AS cell, e.label
        |  FROM embeddings e JOIN kcells ON e.vec_id = kcells.vec_id),
        |pr AS (SELECT a.vec_id AS a, b.vec_id AS b, a.cell,
        |    a.label AS la, b.label AS lb,
        |    list_aggregate(list_transform(list_zip(a.ev, b.ev),
        |      p -> p[1] * p[2]), 'sum') / (a.nrm * b.nrm) AS cos_sim
        |  FROM ke a JOIN ke b ON a.cell = b.cell AND a.label <> b.label),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY a
        |    ORDER BY cos_sim DESC, b) AS BIGINT) AS rn FROM pr)
        |SELECT a, b, cell, la, lb, cos_sim, rn FROM r WHERE rn <= 3
        |ORDER BY a, rn""".stripMargin),

    "graph_kcore" -> {
      val rounds = (1 to 4)
        .map(r => kcoreRoundSql(r, if (r == 1) "e" else s"e${r - 1}"))
        .mkString(",\n")
      val rows = (1 to 4).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT CAST(count(*) AS BIGINT) FROM k$r) AS nodes_kept,
           |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS edges_kept"""
          .stripMargin).mkString("\nUNION ALL\n")
      s"WITH ${GraphStatsQueries.edgesSql},\n$rounds\n$rows\nORDER BY round"
    },

    "agg_mannwhitney" -> """
      |WITH ev AS (SELECT event_type, event_id, user_id % 2 = 0 AS treat,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |rk AS (SELECT event_type, v, treat,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY v, event_id) AS BIGINT) AS rn
      |  FROM ev),
      |g AS (SELECT event_type, v, min(rn) AS lo, max(rn) AS hi,
      |    CAST(count(*) AS BIGINT) AS t,
      |    CAST(count(*) FILTER (treat) AS BIGINT) AS t_treat
      |  FROM rk GROUP BY event_type, v),
      |a AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
      |    CAST(sum(t_treat) AS BIGINT) AS n1,
      |    CAST(sum(t_treat * (lo + hi)) AS BIGINT) AS rs2,
      |    CAST(sum(t * t * t - t) AS BIGINT) AS ties
      |  FROM g GROUP BY event_type),
      |b AS (SELECT *, n - n1 AS n2 FROM a)
      |SELECT event_type, n1 AS n_treat, n2 AS n_ctrl,
      |  CAST(rs2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u_stat,
      |  round((CAST(rs2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
      |      - CAST(n1 * n2 AS DOUBLE) / 2.0)
      |    / sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
      |      * (CAST(n + 1 AS DOUBLE)
      |        - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 6)
      |    AS z
      |FROM b ORDER BY event_type""".stripMargin,

    "llm_dedup_paragraph" -> s"""
      |WITH d AS (SELECT doc_id, source, $duckToks AS tok FROM documents
      |  WHERE len($duckToks) >= 1),
      |ch AS (SELECT doc_id, source,
      |    md5(array_to_string(list_slice(tok, i * 20 + 1, i * 20 + 20), ' ')) AS h
      |  FROM d, unnest(generate_series(0, (len(tok) + 19) // 20 - 1)) u(i)),
      |hs AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
      |SELECT source, CAST(count(DISTINCT ch.doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(count(*) FILTER (nd > 1) AS BIGINT) AS dup_chunks,
      |  CAST(count(*) FILTER (nd > 1) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    AS dup_chunk_rate
      |FROM ch JOIN hs ON ch.h = hs.h GROUP BY source ORDER BY source""".stripMargin
  )
}
