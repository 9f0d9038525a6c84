package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 twelfth wave: graph statistics II — preferential-attachment
  * link prediction (completing the CN / Adamic-Adar / RA / Jaccard /
  * Salton index family), average neighbor degree (the degree-
  * correlation profile behind assortativity's single number), per-node
  * triangle participation, and directed-transition reciprocity.
  *
  * Determinism: PA ranks by an exact integer product key; knn(k) and
  * the reciprocity ratios are single divisions of exact integer sums;
  * triangle participation counts ride the same a<b<c wedge-close
  * enumeration as graph_triangles (Σ deg² bound, no all-pairs).
  */
object Round8lQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- preferential-attachment index -------------------------------------
    // PA(a,b) = deg(a)·deg(b) over the wedge-connected non-edge
    // candidates — the degree-driven null model the other indices are
    // judged against. Top-20 by the EXACT integer product key
    // (pa desc, a, b); no float enters the ordering.
    "graph_pref_attachment" -> ((s, dir) =>
      GraphStatsQueries.candidatePairs(s, dir, "pa8l")
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          (col("deg_a") * col("deg_b")).as("pa"))
        .orderBy(col("pa").desc, col("a"), col("b"))
        .limit(20)),

    // ---- average neighbor degree profile ------------------------------------
    // knn(k) = mean neighbor degree over nodes of degree k — the full
    // degree-correlation curve (assortativity is its single-number
    // summary). Per class: Σ_nodes Σ_nb deg(nb) / (k·n_k), one exact
    // integer division per row; shuffles bounded by edges then degree
    // classes.
    "graph_avg_neighbor_degree" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("knn8l.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val nb = e.select(col("sa").as("v"), col("sb").as("u"))
        .union(e.select(col("sb").as("v"), col("sa").as("u")))
      val deg = nb.groupBy("v").agg(count(lit(1)).as("deg"))
      val nbdeg = nb.join(deg.toDF("u2", "udeg"), col("u") === col("u2"))
        .groupBy("v").agg(sum("udeg").as("snd"))
      deg.join(nbdeg, Seq("v"))
        .groupBy("deg")
        .agg(count(lit(1)).as("n_nodes"), sum("snd").as("tot"))
        .select(col("deg"), col("n_nodes"),
          round(d(col("tot")) / (d(col("deg")) * d(col("n_nodes"))), 6)
            .as("knn"))
        .orderBy("deg")
    }),

    // ---- triangle participation histogram ------------------------------------
    // How many nodes sit in exactly t triangles — the local-clustering
    // mass profile (graph_triangles' global count says nothing about
    // concentration). Triangles enumerate once as a<b<c wedge-closes;
    // each contributes to its three corners; zero-participation nodes
    // kept via the vertex table. All integer.
    "graph_triangle_participation" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("tripart.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val tri = e.toDF("a", "b")
        .join(e.toDF("b", "c"), Seq("b"))
        .join(e.toDF("a", "c").withColumn("hit", lit(1)), Seq("a", "c"))
      val perNode = tri.select(col("a").as("v"))
        .union(tri.select(col("b").as("v")))
        .union(tri.select(col("c").as("v")))
        .groupBy("v").agg(count(lit(1)).as("t"))
      val nodes = e.select(col("sa").as("v"))
        .union(e.select(col("sb").as("v"))).distinct()
      nodes.join(perNode, Seq("v"), "left")
        .na.fill(0L, Seq("t"))
        .groupBy("t").agg(count(lit(1)).as("n_nodes"))
        .orderBy("t")
    }),

    // ---- directed-transition reciprocity --------------------------------------
    // Over the user-session event-type transition graph (the
    // agg_markov_transitions edge set): binary reciprocity = share of
    // ordered type pairs a≠b whose reverse edge exists; weighted
    // reciprocity = Σ min(w_ab, w_ba) / Σ w_ab — how symmetric the
    // behavioral flow is. Catalog-bounded (≤ k² pairs); exact integer
    // ratios.
    "graph_reciprocity" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          col("ts"), col("event_id"))
        .where(col("prev_type").isNotNull &&
          col("prev_type") =!= col("event_type"))
        .groupBy(col("prev_type").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("wab"))
      val rev = tr.select(col("b").as("a"), col("a").as("b"),
        col("wab").as("wba"))
      tr.join(rev, Seq("a", "b"), "left")
        .na.fill(0L, Seq("wba"))
        .agg(count(lit(1)).as("n_pairs"),
          count_if(col("wba") > 0).as("n_recip"),
          sum("wab").as("wtot"), sum(least(col("wab"), col("wba"))).as("wmin"))
        .select(col("n_pairs"),
          round(d(col("n_recip")) / d(col("n_pairs")), 6).as("reciprocity"),
          round(d(col("wmin")) / d(col("wtot")), 6).as("reciprocity_weighted"))
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "graph_pref_attachment" ->
      ("WITH " + GraphStatsQueries.edgesSql + ",\n" + GraphStatsQueries.candidateSql + """
      |SELECT a, b, cn, deg_a, deg_b, deg_a * deg_b AS pa
      |FROM cand ORDER BY pa DESC, a, b LIMIT 20""").stripMargin,

    "graph_avg_neighbor_degree" ->
      ("WITH " + GraphStatsQueries.edgesSql + """,
      |nb AS (SELECT sa AS v, sb AS u FROM e
      |       UNION ALL SELECT sb AS v, sa AS u FROM e),
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY v),
      |nd AS (SELECT nb.v, CAST(sum(du.deg) AS BIGINT) AS snd
      |  FROM nb JOIN deg du ON nb.u = du.v GROUP BY nb.v)
      |SELECT deg.deg, CAST(count(*) AS BIGINT) AS n_nodes,
      |  round(CAST(sum(nd.snd) AS DOUBLE)
      |    / (CAST(deg.deg AS DOUBLE) * CAST(count(*) AS DOUBLE)), 6) AS knn
      |FROM deg JOIN nd ON deg.v = nd.v
      |GROUP BY deg.deg ORDER BY deg.deg""").stripMargin,

    "graph_triangle_participation" ->
      ("WITH " + GraphStatsQueries.edgesSql + """,
      |tri AS (SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
      |  FROM e e1 JOIN e e2 ON e1.sb = e2.sa
      |  JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb),
      |pn AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM (
      |    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) x GROUP BY v),
      |nodes AS (SELECT sa AS v FROM e UNION SELECT sb FROM e)
      |SELECT coalesce(pn.t, 0) AS t, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM nodes LEFT JOIN pn ON nodes.v = pn.v
      |GROUP BY 1 ORDER BY 1""").stripMargin,

    "graph_reciprocity" -> """
      |WITH tr AS (SELECT prev_type AS a, event_type AS b,
      |    CAST(count(*) AS BIGINT) AS wab
      |  FROM (SELECT event_type, lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |    FROM events) x
      |  WHERE prev_type IS NOT NULL AND prev_type <> event_type
      |  GROUP BY 1, 2),
      |j AS (SELECT t.a, t.b, t.wab, coalesce(r.wab, 0) AS wba
      |  FROM tr t LEFT JOIN tr r ON t.a = r.b AND t.b = r.a)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(CAST(count(*) FILTER (wba > 0) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS reciprocity,
      |  round(CAST(sum(least(wab, wba)) AS DOUBLE)
      |    / CAST(sum(wab) AS DOUBLE), 6) AS reciprocity_weighted
      |FROM j""".stripMargin)
}
