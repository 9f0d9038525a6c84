package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.QueryUtils._

/** Round-8 seventh wave: the remaining classic link-prediction indices
  * (Jaccard, Salton/cosine) beside Adamic–Adar / resource-allocation /
  * common-neighbors, and two shortest-path statistics (bounded
  * closeness centrality, the path-length distribution) riding the same
  * multi-source 4-hop BFS skeleton as harmonic centrality and
  * eccentricity.
  *
  * Determinism: pair scores order by EXACT half-up integer-unit keys
  * (the resource-allocation idiom — never a float sort key); BFS
  * distances are exact integer min-plus iterates over Materialize.eager
  * checkpoints; every displayed ratio is one IEEE double op chain from
  * exact longs, round(…, 6).
  */
object Round8gQueries extends graft.QueryFamily {

  /** 4-hop multi-source BFS min-distance table over the simhash dup
    * graph (the harmonic-centrality skeleton, distinct memo names). */
  private def bfs4(s: SparkSession, dir: String, tag: String) = {
    val pairs = graft.tools.PairArtifacts.of(s, dir, "simhash")(
      ScaleQueries.queries("llm_dedup_simhash")(s, dir))
      .select(col("doc_a"), col("doc_b"))
    val edges = graft.tools.Materialize.eager(s"$tag.edges",
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    var dist = graft.tools.Materialize.eager(s"$tag.d0",
      edges.select(col("src").as("root")).distinct()
        .select(col("root"), col("root").as("node"), lit(0L).as("d")))
    for (hop <- 1 to 4) {
      val nxt = edges.join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("root"), col("dst").as("node"), (col("d") + 1).as("d"))
      dist = graft.tools.Materialize.eager(s"$tag.d$hop",
        dist.union(nxt).groupBy("root", "node").agg(min("d").as("d")))
    }
    dist
  }

  private val walkSql: String =
    """edges AS (SELECT doc_a AS src, doc_b AS dst FROM simpairs
      |  UNION ALL SELECT doc_b, doc_a FROM simpairs),
      |walk(root, node, d) AS (
      |  SELECT DISTINCT src AS root, src AS node, CAST(0 AS BIGINT) AS d
      |    FROM edges
      |  UNION
      |  SELECT w.root, e.dst, w.d + 1 FROM walk w JOIN edges e
      |    ON e.src = w.node WHERE w.d < 4),
      |md AS (SELECT root, node, min(d) AS d FROM walk GROUP BY 1, 2)"""
      .stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- Jaccard link prediction ----------------------------------------
    // J(a,b) = CN / (deg a + deg b − CN) over wedge-connected
    // non-edges; the score sorts by its EXACT half-up 1e-8 integer
    // image (monotone in the rational), top-20.
    "graph_jaccard_coeff" -> ((s, dir) => {
      val cand = GraphStatsQueries.candidatePairs(s, dir, "jacc")
      cand
        .withColumn("den", col("deg_a") + col("deg_b") - col("cn"))
        .withColumn("ju",
          expr("(2 * 100000000 * cn + den) div (2 * den)"))
        .orderBy(col("ju").desc, col("a").asc, col("b").asc)
        .limit(20)
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          (d(col("ju")) / 1.0e8).as("jaccard"))
        .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
    }),

    // ---- Salton (cosine) link prediction --------------------------------
    // S(a,b) = CN / √(deg a · deg b); sorts by the exact half-up 1e-12
    // image of S² = CN²/(deg a·deg b) (squares preserve the order of
    // non-negatives), displays one IEEE sqrt from exact longs.
    "graph_salton_index" -> ((s, dir) => {
      val cand = GraphStatsQueries.candidatePairs(s, dir, "salton")
      cand
        .withColumn("su", expr(
          "(2 * 1000000000000 * cn * cn + deg_a * deg_b) div (2 * deg_a * deg_b)"))
        .orderBy(col("su").desc, col("a").asc, col("b").asc)
        .limit(20)
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          round(d(col("cn")) / sqrt(d(col("deg_a")) * d(col("deg_b"))), 6)
            .as("salton"))
        .orderBy(col("salton").desc, col("a").asc, col("b").asc)
    }),

    // ---- bounded closeness centrality -----------------------------------
    // closeness₄ = |reached| / Σd over the ≤4-hop neighborhood of the
    // simhash dup graph — the reciprocal-mean-distance complement of
    // harmonic centrality (which sums reciprocals). Exact longs, one
    // division.
    "graph_closeness_centrality" -> ((s, dir) => {
      bfs4(s, dir, "clos")
        .where(col("d") >= 1)
        .groupBy("root")
        .agg(count(lit(1)).as("n_reach"), sum("d").as("sum_d"))
        .select(col("root").as("doc_id"), col("n_reach"), col("sum_d"),
          round(d(col("n_reach")) / d(col("sum_d")), 6).as("closeness4"))
        .orderBy("doc_id")
    }),

    // ---- shortest-path length distribution ------------------------------
    // Ordered-pair counts at min-distance d ∈ 1..4 on the simhash dup
    // graph, with share of all ≤4-hop pairs and the running mean
    // distance — the small-world profile of the dup neighborhood in
    // four rows.
    "graph_path_length_dist" -> ((s, dir) => {
      val md = bfs4(s, dir, "pld").where(col("d") >= 1)
      val tot = md.agg(count(lit(1)).as("n_pairs"), sum("d").as("td"))
      md.groupBy("d").agg(count(lit(1)).as("pairs"))
        .crossJoin(broadcast(tot))
        .select(col("d"), col("pairs"),
          round(d(col("pairs")) / d(col("n_pairs")), 6).as("share"),
          round(d(col("td")) / d(col("n_pairs")), 6).as("mean_dist"))
        .orderBy("d")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "graph_jaccard_coeff" -> ("WITH " + GraphStatsQueries.edgesSql + ",\n" +
      GraphStatsQueries.candidateSql +
      """,
        |ju AS (SELECT a, b, cn, deg_a, deg_b,
        |    (2 * 100000000 * cn + (deg_a + deg_b - cn))
        |      // (2 * (deg_a + deg_b - cn)) AS ju
        |  FROM cand)
        |SELECT a, b, cn, deg_a, deg_b, CAST(ju AS DOUBLE) / 1e8 AS jaccard
        |FROM ju ORDER BY ju DESC, a, b LIMIT 20""".stripMargin),

    "graph_salton_index" -> ("WITH " + GraphStatsQueries.edgesSql + ",\n" +
      GraphStatsQueries.candidateSql +
      """,
        |su AS (SELECT a, b, cn, deg_a, deg_b,
        |    (2 * 1000000000000 * cn * cn + deg_a * deg_b)
        |      // (2 * deg_a * deg_b) AS su
        |  FROM cand)
        |SELECT a, b, cn, deg_a, deg_b,
        |  round(CAST(cn AS DOUBLE)
        |    / sqrt(CAST(deg_a AS DOUBLE) * CAST(deg_b AS DOUBLE)), 6)
        |    AS salton
        |FROM su ORDER BY su DESC, a, b LIMIT 20""".stripMargin),

    "graph_closeness_centrality" -> {
      val pairBody = ScaleQueries.oracles("llm_dedup_simhash")
      s"""WITH RECURSIVE simpairs AS ($pairBody),
        |$walkSql
        |SELECT root AS doc_id, CAST(count(*) AS BIGINT) AS n_reach,
        |  CAST(sum(d) AS BIGINT) AS sum_d,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(d) AS DOUBLE), 6)
        |    AS closeness4
        |FROM md WHERE d >= 1 GROUP BY root ORDER BY doc_id""".stripMargin
    },

    "graph_path_length_dist" -> {
      val pairBody = ScaleQueries.oracles("llm_dedup_simhash")
      s"""WITH RECURSIVE simpairs AS ($pairBody),
        |$walkSql,
        |r AS (SELECT root, node, d FROM md WHERE d >= 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(d) AS BIGINT) AS td FROM r)
        |SELECT d, CAST(count(*) AS BIGINT) AS pairs,
        |  round(CAST(count(*) AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
        |    AS share,
        |  round(CAST(td AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS mean_dist
        |FROM r CROSS JOIN tot GROUP BY d, n_pairs, td ORDER BY d""".stripMargin
    })
}
