package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-9 seventh wave: link-analysis depth — bipartite HITS
  * authorities, two-hop reach amplification, the edge-embeddedness
  * histogram — and the tuple-IN subquery surface.
  *
  * Scale design: HITS iterations are keyed equi-joins on the bipartite
  * edge list with each round eagerly materialized (the graph_pagerank
  * regime); two-hop and embeddedness candidates enumerate keyed by the
  * shared neighbor (Σ deg² bound, never all-pairs).
  *
  * Determinism: HITS mass is pure integer micro-units with a
  * max-normalization to 1e6 after every half-step (integer div of a
  * DECIMAL(38) product — no float, no norm sqrt); reach amplification
  * is one exact-integer division; the tuple-IN subquery is planned by
  * both engines' real subquery machinery over identical SQL semantics.
  */
object Round9gQueries extends graft.QueryFamily {

  /** Bipartite customer→supplier edges from March-1997 orders. */
  private def buyEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .where(col("o_orderdate") >= ts("1997-03-01") &&
        col("o_orderdate") < ts("1997-04-01"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .distinct()
  }

  /** Two full HITS iterations over an arbitrary (c, sp) edge frame:
    * integer micro-unit mass, max-normalized per half-step, each round
    * eagerly materialized (frame-parametric so ScaleDryRun measures
    * the shipped pipeline). Returns the (sp, a) authority table. */
  private[graft] def hitsAuthOf(edges: DataFrame): DataFrame = {
    val e = graft.tools.Materialize.eager("hits.edges", edges)
    def normalized(m: DataFrame, key: String, v: String): DataFrame = {
      val mx = m.agg(max(col(v)).as("mx"))
      m.crossJoin(broadcast(mx))
        .select(col(key),
          expr(s"CAST($v AS DECIMAL(38,0)) * 1000000 div mx")
            .cast("long").as(v))
    }
    val hub0 = e.select(col("c")).distinct()
      .withColumn("h", lit(1000000L))
    def authStep(hub: DataFrame, tag: String): DataFrame =
      graft.tools.Materialize.eager(s"hits.a$tag", normalized(
        e.join(hub, "c").groupBy("sp").agg(sum("h").as("a")), "sp", "a"))
    def hubStep(auth: DataFrame, tag: String): DataFrame =
      graft.tools.Materialize.eager(s"hits.h$tag", normalized(
        e.join(auth, "sp").groupBy("c").agg(sum("a").as("h")), "c", "h"))
    authStep(hubStep(authStep(hub0, "1"), "1"), "2")
  }

  private val buyEdgesSql =
    """o AS (SELECT o_orderkey, o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-03-01'
      |    AND o_orderdate < TIMESTAMP '1997-04-01'),
      |be AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sp
      |  FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- bipartite HITS authorities ----------------------------------------------
    // Two full hub↔authority iterations over the customer→supplier
    // graph, hub⁰ = 1e6 per customer; after every half-step the mass
    // is max-normalized back to 1e6 integer units (a DECIMAL(38)
    // product + integer div — HITS' usual L2 norm would drag a sqrt
    // into every round). Authorities = supplier scores.
    "graph_hits" -> ((s, dir) =>
      hitsAuthOf(buyEdges(s, dir))
        .select(col("sp").as("s_suppkey"), col("a").as("auth_units"))
        .orderBy("s_suppkey")),

    // ---- two-hop reach amplification ------------------------------------------------
    // Per supplier-graph node: direct degree, the distinct ≤2-hop
    // neighborhood size (self excluded) and the amplification ratio —
    // how much one more hop widens the horizon. Candidates keyed by
    // the middle node (Σ deg² bound).
    "graph_two_hop_reach" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("reach2.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val nb = e.select(col("sa").as("a"), col("sb").as("b"))
        .union(e.select(col("sb").as("a"), col("sa").as("b")))
      val two = nb.select(col("a"), col("b").as("m"))
        .join(nb.select(col("a").as("m2"), col("b").as("t")),
          col("m") === col("m2"))
        .where(col("a") =!= col("t"))
        .select(col("a"), col("t"))
      val reach = nb.select(col("a"), col("b").as("t")).union(two)
        .distinct()
        .groupBy("a").agg(count(lit(1)).as("reach2"))
      nb.groupBy("a").agg(count(lit(1)).as("deg"))
        .join(reach, "a")
        .select(col("a").as("node"), col("deg"), col("reach2"),
          round(d(col("reach2")) / d(col("deg")), 6).as("amplification"))
        .orderBy("node")
    }),

    // ---- edge-embeddedness histogram --------------------------------------------------
    // For every supplier-graph edge: how many common neighbors embed
    // it (0 = a local bridge), histogrammed — the cohesion spectrum
    // generalizing graph_local_bridges' zero bucket. Wedges enumerate
    // keyed by the shared neighbor.
    "graph_edge_embeddedness" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("embed.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val nb = e.select(col("sa").as("z"), col("sb").as("x"))
        .union(e.select(col("sb").as("z"), col("sa").as("x")))
      val wedges = nb.select(col("z"), col("x").as("sa"))
        .join(nb.select(col("z").as("z2"), col("x").as("sb")),
          col("z") === col("z2") && col("sa") < col("sb"))
        .select("sa", "sb")
      val emb = e.join(wedges.groupBy("sa", "sb")
          .agg(count(lit(1)).as("cn")), Seq("sa", "sb"), "left")
        .select(coalesce(col("cn"), lit(0L)).as("embeddedness"))
      emb.groupBy("embeddedness").agg(count(lit(1)).as("n_edges"))
        .orderBy("embeddedness")
    }),

    // ---- tuple-IN subquery ---------------------------------------------------------
    // Orders on (customer, day) pairs that placed ≥2 orders that day —
    // the multi-column IN subquery surface (both engines plan it as a
    // semi-join on the composite key).
    "sub_in_tuple" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderkey, o_custkey,
              |  CAST(o_orderdate AS DATE) AS order_day
              |FROM orders_v
              |WHERE (o_custkey, CAST(o_orderdate AS DATE)) IN
              |  (SELECT o_custkey, CAST(o_orderdate AS DATE)
              |   FROM orders_v GROUP BY 1, 2 HAVING count(*) >= 2)
              |ORDER BY o_orderkey""".stripMargin)
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "graph_hits" -> s"""
      |WITH $buyEdgesSql,
      |a1r AS (SELECT sp, 1000000 * CAST(count(*) AS BIGINT) AS a
      |  FROM be GROUP BY 1),
      |a1 AS (SELECT sp, CAST(CAST(a AS HUGEINT) * 1000000
      |    // (SELECT max(a) FROM a1r) AS BIGINT) AS a FROM a1r),
      |h1r AS (SELECT be.c, CAST(sum(a1.a) AS BIGINT) AS h
      |  FROM be JOIN a1 ON be.sp = a1.sp GROUP BY 1),
      |h1 AS (SELECT c, CAST(CAST(h AS HUGEINT) * 1000000
      |    // (SELECT max(h) FROM h1r) AS BIGINT) AS h FROM h1r),
      |a2r AS (SELECT be.sp, CAST(sum(h1.h) AS BIGINT) AS a
      |  FROM be JOIN h1 ON be.c = h1.c GROUP BY 1),
      |a2 AS (SELECT sp, CAST(CAST(a AS HUGEINT) * 1000000
      |    // (SELECT max(a) FROM a2r) AS BIGINT) AS a FROM a2r)
      |SELECT sp AS s_suppkey, a AS auth_units
      |FROM a2 ORDER BY s_suppkey""".stripMargin,

    "graph_two_hop_reach" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |nb AS (SELECT sa AS a, sb AS b FROM e
      |  UNION ALL SELECT sb AS a, sa AS b FROM e),
      |two AS (SELECT n1.a, n2.b AS t
      |  FROM nb n1 JOIN nb n2 ON n1.b = n2.a
      |  WHERE n1.a <> n2.b),
      |reach AS (SELECT a, CAST(count(*) AS BIGINT) AS reach2 FROM (
      |    SELECT DISTINCT a, t FROM (
      |      SELECT a, b AS t FROM nb UNION ALL SELECT a, t FROM two) u) v
      |  GROUP BY 1),
      |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY 1)
      |SELECT deg.a AS node, deg.deg, reach.reach2,
      |  round(CAST(reach.reach2 AS DOUBLE) / CAST(deg.deg AS DOUBLE), 6)
      |    AS amplification
      |FROM deg JOIN reach ON deg.a = reach.a
      |ORDER BY node""".stripMargin,

    "graph_edge_embeddedness" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |nb AS (SELECT sa AS z, sb AS x FROM e
      |  UNION ALL SELECT sb AS z, sa AS x FROM e),
      |w AS (SELECT n1.x AS sa, n2.x AS sb, CAST(count(*) AS BIGINT) AS cn
      |  FROM nb n1 JOIN nb n2 ON n1.z = n2.z AND n1.x < n2.x
      |  GROUP BY 1, 2),
      |emb AS (SELECT coalesce(w.cn, 0) AS embeddedness
      |  FROM e LEFT JOIN w ON e.sa = w.sa AND e.sb = w.sb)
      |SELECT embeddedness, CAST(count(*) AS BIGINT) AS n_edges
      |FROM emb GROUP BY 1 ORDER BY embeddedness""".stripMargin,

    // DuckDB has no multi-column IN; the equivalent EXISTS semi-join
    // replays the same composite-key semantics
    "sub_in_tuple" -> """
      |SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_day
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM (
      |    SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS dy
      |    FROM orders GROUP BY 1, 2 HAVING count(*) >= 2) m
      |  WHERE m.ck = o.o_custkey AND m.dy = CAST(o.o_orderdate AS DATE))
      |ORDER BY o_orderkey""".stripMargin)
}
