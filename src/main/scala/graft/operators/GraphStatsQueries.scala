package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryUtils.{QFn, ts}
import graft.sources.Tables

/** §2.N — graph analytics over a relational co-occurrence graph, plus
  * bitmap exact-distinct, robust outlier stats, and Spark-4 collation.
  *
  * The dedup pair lists are correct but tiny at test SF (14-59 edges),
  * so the graph family here runs on a graph with real structure at
  * every SF: suppliers co-occurring in March-1997 orders (1 091 edges /
  * 100 nodes / 2 973 triangles at sf0.01). The graph is built
  * relationally — order-window scan, per-order supplier pairs — so the
  * edge list grows with the window, not corpus², and every step is a
  * keyed shuffle.
  *
  * Scale notes (100 TB): per-order pair expansion is bounded by
  * lines-per-order² (≤ 7² here, and in any sane schema a small
  * constant); the triangle join is edge ⋈ edge on the shared endpoint,
  * bounded by Σ deg(v)² — the production refinement is degree-ordered
  * orientation (point each edge at the higher-degree endpoint), which
  * caps the wedge count at O(E^1.5); PageRank keeps all mass in exact
  * integer units (1e-12 of a unit rank), so partial aggregation order
  * cannot perturb a single bit, and each of the 5 rounds is one
  * equi-join + one keyed sum with an eager checkpoint to keep lineage
  * flat — the label-propagation skeleton already proven in
  * llm_dedup_cluster.
  */
object GraphStatsQueries extends graft.QueryFamily {

  /** Undirected supplier co-occurrence edges (sa < sb, distinct) from
    * orders placed in March 1997: two suppliers are linked when one
    * order contains lines from both. */
  private[operators] def supplierEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .where(col("o_orderdate") >= ts("1997-03-01") &&
        col("o_orderdate") < ts("1997-04-01"))
      .select("o_orderkey")
    val li = Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_suppkey")
    // r15 (guide §2.4): pair expansion via ONE order-keyed aggregation
    // + generate instead of the equi-self-join — the join shuffled the
    // (order, supplier) stream twice and hashed it once; this shuffles
    // it once into per-order supplier sets (bounded by lines-per-order)
    // and expands pairs map-side. Every unordered supplier pair {x, y}
    // of an order appears exactly once as (min, max) in both forms, so
    // the distinct edge set is row-identical.
    li.groupBy("l_orderkey")
      .agg(collect_set(col("l_suppkey")).as("ss"))
      .select(explode(col("ss")).as("sa"), col("ss"))
      .select(col("sa"), explode(col("ss")).as("sb"))
      .where(col("sa") < col("sb"))
      .select("sa", "sb").distinct()
  }

  /** Wedge-connected candidate pairs of the supplier graph with common
    * neighbor count and endpoint degrees, edges removed — the shared
    * base of the link-prediction index family (Σ deg² bound).
    * `tag` names the eager edge stage. */
  private[operators] def candidatePairs(s: SparkSession, dir: String, tag: String) = {
    val e = graft.tools.Materialize.eager(s"$tag.edges",
      supplierEdges(s, dir))
    val nb = e.select(col("sa").as("c"), col("sb").as("x"))
      .union(e.select(col("sb").as("c"), col("sa").as("x")))
    val deg = nb.groupBy(col("c").as("v")).agg(count(lit(1)).as("deg"))
    val pairs = nb.select(col("c"), col("x").as("a"))
      .join(nb.select(col("c").as("c2"), col("x").as("b")),
        col("c") === col("c2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    pairs
      .join(e, pairs("a") === e("sa") && pairs("b") === e("sb"), "left_anti")
      .join(deg.toDF("va", "deg_a"), col("a") === col("va"))
      .join(deg.toDF("vb", "deg_b"), col("b") === col("vb"))
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"))
  }

  /** DuckDB twin of [[candidatePairs]]: CTE `cand` over the [[edgesSql]]
    * edges `e` (no leading WITH). */
  private[operators] val candidateSql: String =
    """nb AS (SELECT sa AS c, sb AS x FROM e
      |       UNION ALL SELECT sb AS c, sa AS x FROM e),
      |deg AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS deg
      |  FROM nb GROUP BY c),
      |p AS (SELECT a.x AS a, b.x AS b, CAST(count(*) AS BIGINT) AS cn
      |  FROM nb a JOIN nb b ON a.c = b.c AND a.x < b.x GROUP BY 1, 2),
      |cand AS (SELECT p.a, p.b, p.cn, da.deg AS deg_a, db.deg AS deg_b
      |  FROM p LEFT JOIN e ON p.a = e.sa AND p.b = e.sb
      |  JOIN deg da ON p.a = da.v JOIN deg db ON p.b = db.v
      |  WHERE e.sa IS NULL)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- triangle count -------------------------------------------------
    // Global clustering structure of the co-occurrence graph: nodes,
    // edges, wedges, triangles in one row. Triangles enumerate as
    // (a<b) ⋈ (b<c) wedges closed by an (a,c) edge — every join an
    // equi-join on node ids, candidate volume bounded by Σ deg²; no
    // all-pairs anywhere.
    "graph_triangles" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("triangles.edges", supplierEdges(s, dir))
      val e1 = e.select(col("sa").as("a"), col("sb").as("b"))
      val e2 = e.select(col("sa").as("b"), col("sb").as("c"))
      val e3 = e.select(col("sa").as("a"), col("sb").as("c"), lit(1).as("hit"))
      val wedges = e1.join(e2, Seq("b"))
      val tri = wedges.join(e3, Seq("a", "c"))
      val nNodes = e.select(col("sa").as("v"))
        .union(e.select(col("sb").as("v"))).distinct().count()
      val nEdges = e.count()
      val nWedges = wedges.count()
      tri.agg(count(lit(1)).as("n_triangles"))
        .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
          lit(nWedges).as("n_wedges"), col("n_triangles"))
    }),

    // ---- 5-round integer PageRank ---------------------------------------
    // Damped PageRank in exact integer rank units (1 unit = 1e-12):
    // r₀ = 1e12; rₜ₊₁(v) = 0.15·1e12 + ⌊85·Σᵤ ⌊rₜ(u)/deg(u)⌋ / 100⌋.
    // Integer floor-division everywhere makes the result bit-identical
    // under any partial-sum order AND replayable by the oracle's CTE
    // chain — a double-precision PageRank would be neither. Headroom:
    // Σ rank ≤ N·1e12, so 85·Σ stays under 2^63 up to N ≈ 10⁸ nodes
    // per component; at larger N drop the unit scale to 1e9.
    "graph_pagerank" -> ((s, dir) => {
      // r15: the undirected pair list feeds BOTH legs of the
      // symmetrizing union — materialized once so the edge build runs
      // once, not twice (guide §2.4; the triangles.edges idiom).
      val pairs = graft.tools.Materialize.eager("pr.pairs", supplierEdges(s, dir))
      val edges = graft.tools.Materialize.eager("pr.edges",
        pairs.select(col("sa").as("src"), col("sb").as("dst"))
          .union(pairs.select(col("sb").as("src"), col("sa").as("dst"))))
      // r14 (guide §2.3/§2.4): the per-node share r div deg is computed
      // ONCE per node on the rank frame and the result attached to
      // edges with a single join — the old form joined rank AND deg to
      // the edge list separately (two edge-sized joins per round), and
      // re-derived `nodes` via a distinct exchange over the edges every
      // round. deg now rides inside the checkpointed rank frame (every
      // node appears as a src in the symmetrized edge list, so deg's
      // key set IS the node set), so each round is one edge join, one
      // keyed count, one node-sized left join. The integer arithmetic
      // (floor divisions, exact sums) is untouched — bit-identical.
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      var rank = graft.tools.Materialize.eager("pr.r0",
        deg.withColumn("r", lit(1000000000000L)))
      for (round <- 1 to 5) {
        val contrib = edges
          .join(rank.select(col("node").as("src"),
            expr("r div deg").as("c")), "src")
          .select(col("dst").as("node"), col("c"))
          .groupBy("node").agg(sum("c").as("in_mass"))
        rank = graft.tools.Materialize.eager(s"pr.r$round",
          rank.select("node", "deg").join(contrib, Seq("node"), "left")
            .select(col("node"), col("deg"),
              (lit(150000000000L) +
                expr("85 * coalesce(in_mass, 0L) div 100")).as("r")))
      }
      rank.select(col("node").as("s_suppkey"), col("r").as("rank_units"))
        .orderBy("s_suppkey")
    }),

    // ---- exact distributed distinct via bitmaps -------------------------
    // Spark-4 bitmap aggregates: per (group, 32k-bucket) bitmaps OR-
    // merge order-free, then bitmap_count sums to an EXACT distinct —
    // the scale path for exact count-distinct over dense integer key
    // spaces (count_distinct shuffles raw keys; this shuffles ≤4 KB
    // per bucket regardless of row count).
    "agg_bitmap_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_partkey"))
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
          .as("bm"))
        .groupBy("l_returnflag")
        .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_distinct"))
        .orderBy("l_returnflag")
    }),

    // ---- median / MAD robust outliers -----------------------------------
    // Median absolute deviation per event type and the count of
    // |x − med| > 3·MAD outliers — the robust alternative to z-scores
    // (win_moving_stats). Three keyed passes; the per-group scalars
    // broadcast back (group cardinality = event types, tiny at any
    // corpus size). Exact percentile interpolation is deterministic
    // IEEE arithmetic on both engines, so the doubles ship unrounded.
    "win_mad_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_type", "value")
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
          count_if(col("adev") > lit(3.0) * col("mad")).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- Spark-4 collation-aware grouping -------------------------------
    // Case-insensitive grouping through a UTF8_LCASE-collated key —
    // the Spark-4 collation surface (comparison/grouping semantics
    // carried by the TYPE, not by lower() rewrites). The mixed-case
    // column is synthesized deterministically (even doc_ids upper-
    // cased) so the collation is doing real work; the output key is
    // lower()ed because a collated group's representative member is
    // engine-defined.
    "fn_collate_lcase" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0, upper(col("lang")))
            .otherwise(col("lang")).as("m"))
        .groupBy(expr("collate(m, 'UTF8_LCASE')").as("mk"))
        .agg(min(lower(col("m"))).as("lang"),
          count(lit(1)).as("n_docs"))
        .select("lang", "n_docs")
        .orderBy("lang")
    })
  )

  private[operators] val edgesSql: String =
    """o AS (SELECT o_orderkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-03-01'
      |    AND o_orderdate < TIMESTAMP '1997-04-01'),
      |li AS (SELECT l_orderkey, l_suppkey FROM lineitem
      |  JOIN o ON l_orderkey = o_orderkey),
      |e AS (SELECT DISTINCT a.l_suppkey sa, b.l_suppkey sb
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey)""".stripMargin

  val oracles: Map[String, String] = Map(

    "graph_triangles" ->
      s"""WITH $edgesSql
        |SELECT
        |  (SELECT count(*) FROM (SELECT sa v FROM e UNION SELECT sb FROM e) t)
        |    AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM e e1 JOIN e e2 ON e1.sb = e2.sa) AS n_wedges,
        |  (SELECT count(*) FROM e e1 JOIN e e2 ON e1.sb = e2.sa
        |     JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb) AS n_triangles""".stripMargin,

    "graph_pagerank" -> {
      // unrolled 5-round CTE chain: DuckDB disallows aggregates in a
      // recursive term, and unrolling replays the exact integer updates
      val rounds = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst AS node, sum(r${i - 1}.r // d.deg) AS in_mass
           |  FROM e JOIN r${i - 1} ON r${i - 1}.node = e.src
           |  JOIN d ON d.src = e.src GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |    CAST(150000000000 + (85 * coalesce(c$i.in_mass, 0)) // 100
           |      AS BIGINT) AS r
           |  FROM n LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSql,
        |ed AS (SELECT sa AS src, sb AS dst FROM e
        |  UNION ALL SELECT sb, sa FROM e),
        |d AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
        |n AS (SELECT DISTINCT src AS node FROM ed),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM n),
        |$rounds
        |SELECT node AS s_suppkey, r AS rank_units FROM r5 ORDER BY node"""
        .stripMargin.replace("FROM e JOIN", "FROM ed e JOIN")
        .replaceAll("ON (r\\d) ", "ON $1 ")
    },

    "agg_bitmap_distinct" ->
      """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT)
        |    AS n_distinct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "win_mad_outliers" ->
      """WITH med AS (SELECT event_type, median(value) AS med
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        |  FROM events e JOIN med m ON e.event_type = m.event_type),
        |mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
        |SELECT d.event_type, min(d.med) AS med, min(a.mad) AS mad,
        |  CAST(count(*) FILTER (d.adev > 3.0 * a.mad) AS BIGINT)
        |    AS n_outliers,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM dev d JOIN mad a ON d.event_type = a.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "fn_collate_lcase" ->
      """SELECT lower(m) AS lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
        |    AS m FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
