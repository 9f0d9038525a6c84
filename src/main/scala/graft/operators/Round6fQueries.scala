package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N (r6, sixth wave) — a count-min sketch with oracle-replayable
  * estimates, graph modularity of the nation partition, and weekly
  * growth accounting (new / retained / resurrected / churned).
  *
  * Determinism (§7.2): the CMS is pure integer arithmetic over
  * md5-derived row hashes (the shared hash60 idiom); modularity terms
  * are 8dp-rounded then decimal-summed with a 6dp closed form; growth
  * states are exact set counts keyed by an engine-independent
  * day-arithmetic week index ((day − 1) div 7 — NOT ISO weeks, whose
  * definitions the two engines can disagree on).
  */
object Round6fQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- count-min sketch ------------------------------------------------
    // The streaming-frequency sketch at its classic depth-3 × width-64
    // configuration: every token count folds into 3 hashed counter
    // rows, and a probe's estimate is the MIN over its 3 counters —
    // always an OVERestimate, never under. Probes are the top-20 true
    // tokens, so the one-sided error is directly measurable. The grid
    // is 192 counters regardless of corpus size (the whole point of
    // the sketch at 100 TB: counters fit one cache line per row);
    // building it is one token-keyed shuffle + one 192-key rollup.
    "llm_sketch_cms" -> ((s, dir) => {
      val tokCounts = Tables.documents(s, dir)
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .transform(df => graft.tools.Materialize.eager("cms.toks", df))
        // ^ grid + probes both read it; build once
      val rows = tokCounts.select(col("tok"), col("cnt"),
          explode(array((0 until 3).map(lit): _*)).as("j"))
        .select(col("j"), col("cnt"),
          (hash60(concat(lit("cms-"), col("j"), lit("-"), col("tok"))) % 64)
            .as("w"))
      val grid = rows.groupBy("j", "w").agg(sum("cnt").as("c"))
      val probes = tokCounts.orderBy(col("cnt").desc, col("tok").asc).limit(20)
        .select(col("tok").as("ptok"), col("cnt").as("true_cnt"))
        .select(col("ptok"), col("true_cnt"),
          explode(array((0 until 3).map(lit): _*)).as("pj"))
        .select(col("ptok"), col("true_cnt"), col("pj"),
          (hash60(concat(lit("cms-"), col("pj"), lit("-"), col("ptok"))) % 64)
            .as("pw"))
      probes.join(broadcast(grid),
          col("pj") === col("j") && col("pw") === col("w"))
        .groupBy(col("ptok").as("tok"))
        .agg(max("true_cnt").as("true_cnt"), min("c").as("cms_estimate"))
        .withColumn("overcount", col("cms_estimate") - col("true_cnt"))
        .orderBy(col("true_cnt").desc, col("tok").asc)
    }),

    // ---- graph modularity ------------------------------------------------
    // Newman modularity Q of the supplier co-occurrence graph under
    // the NATION partition: Q = Σ_i (e_ii/m − (a_i/2m)²) — "do
    // same-nation suppliers co-occur more than a degree-preserving
    // random graph predicts". Per-community internal-edge and degree
    // sums are exact integers off node-keyed joins; the 5-25 community
    // terms are 8dp-rounded then decimal-summed; Q rounds to 6dp.
    "graph_modularity" -> ((s, dir) => {
      val e = graft.tools.Materialize
        .eager("modularity.edges", GraphStatsQueries.supplierEdges(s, dir))
      val com = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("v"), col("s_nationkey").as("c"))
      val withC = e
        .join(com.toDF("va", "ca"), col("sa") === col("va"))
        .join(com.toDF("vb", "cb"), col("sb") === col("vb"))
      val mRow = e.agg(count(lit(1)).as("m")) // 1-row edge-count broadcast
      val internal = withC.where(col("ca") === col("cb"))
        .groupBy(col("ca").as("cin")).agg(count(lit(1)).as("e_in"))
      val degSum = withC.select(col("ca").as("cd")).union(withC.select(col("cb")))
        .groupBy("cd").agg(count(lit(1)).as("a_i"))
      val md = col("m").cast(DoubleType)
      val terms = degSum
        .join(internal, col("cd") === col("cin"), "left")
        .crossJoin(broadcast(mRow))
        .select(col("m"), coalesce(col("e_in"), lit(0L)).as("e_in"),
          round(coalesce(col("e_in"), lit(0L)).cast(DoubleType) / md -
            (col("a_i").cast(DoubleType) / (lit(2.0) * md)) *
              (col("a_i").cast(DoubleType) / (lit(2.0) * md)), 8)
            .cast(DecimalType(18, 8)).as("term"))
      // round the EXACT decimal(18,8) term sum BEFORE the double cast
      // (BoundaryGuard r9: an 8dp sum ending in ...50 sits exactly on
      // the 6dp half boundary; decimal half-up is engine-exact)
      terms.agg(max("m").as("m_edges"), count(lit(1)).as("n_communities"),
        sum("e_in").as("internal_edges"),
        round(sum("term"), 6).cast(DoubleType).as("modularity"))
    }),

    // ---- weekly growth accounting ----------------------------------------
    // The product-growth ledger: for every consecutive week pair, how
    // many users were RETAINED (active both), CHURNED (dropped out),
    // NEW (first-ever activity), or RESURRECTED (returned after a
    // gap). Week = (day-of-month − 1) div 7 — plain integer
    // arithmetic both engines evaluate identically (ISO week
    // definitions differ). One (user, week) distinct, one self-join
    // on consecutive weeks, exact counts.
    "agg_growth_accounting" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id").as("u"),
          ((dayofmonth(col("ts")) - 1) / 7).cast("int").as("wk"))
        .distinct()
        .transform(df => graft.tools.Materialize.eager("growth.uw", df))
        // ^ four consumers below; build once
      val first = uw.groupBy("u").agg(min("wk").as("fw"))
      val cur = uw.toDF("cu", "cw")
      val nxt = uw.toDF("nu", "nw")
      val weeks = uw.select(col("wk")).distinct()
        .where(col("wk") < 4).select(col("wk").as("w0"))
      weeks
        .join(cur, col("cw") === col("w0"), "left")
        .join(nxt, col("nu") === col("cu") && col("nw") === col("w0") + 1, "left")
        .groupBy("w0")
        .agg(count_if(col("nu").isNotNull).as("retained"),
          count_if(col("nu").isNull && col("cu").isNotNull).as("churned"))
        .join(
          // arrivals into week w0+1: new (first week) vs resurrected
          uw.toDF("au", "aw")
            .join(cur.toDF("pu", "pw"),
              col("pu") === col("au") && col("pw") === col("aw") - 1, "left_anti")
            .join(first, col("u") === col("au"))
            .groupBy((col("aw") - 1).as("w1"))
            .agg(count_if(col("fw") === col("aw")).as("new_users"),
              count_if(col("fw") < col("aw")).as("resurrected")),
          col("w0") === col("w1"), "left") // no arrivals → a zero row, not a dropped week
        .select(col("w0").as("week"), col("retained"), col("churned"),
          coalesce(col("new_users"), lit(0L)).as("new_users"),
          coalesce(col("resurrected"), lit(0L)).as("resurrected"))
        .orderBy("week")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_sketch_cms" -> """
      |WITH t AS (SELECT unnest(list_filter(string_split(text, ' '),
      |    x -> x <> '')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY tok),
      |r AS (SELECT j, ('0x' || substr(md5('cms-' || j || '-' || tok), 1, 15))
      |    ::BIGINT % 64 AS w, cnt
      |  FROM c, unnest([0, 1, 2]) u(j)),
      |grid AS (SELECT j, w, CAST(sum(cnt) AS BIGINT) AS gc
      |  FROM r GROUP BY j, w),
      |p AS (SELECT tok AS ptok, cnt AS true_cnt FROM c
      |  ORDER BY cnt DESC, tok LIMIT 20),
      |pr AS (SELECT ptok, true_cnt, j AS pj,
      |    ('0x' || substr(md5('cms-' || j || '-' || ptok), 1, 15))
      |      ::BIGINT % 64 AS pw
      |  FROM p, unnest([0, 1, 2]) u(j))
      |SELECT ptok AS tok, max(true_cnt) AS true_cnt,
      |  CAST(min(gc) AS BIGINT) AS cms_estimate,
      |  CAST(min(gc) - max(true_cnt) AS BIGINT) AS overcount
      |FROM pr JOIN grid ON pj = grid.j AND pw = grid.w
      |GROUP BY ptok ORDER BY true_cnt DESC, tok""".stripMargin,

    "graph_modularity" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |com AS (SELECT s_suppkey AS v, s_nationkey AS c FROM supplier),
      |wc AS (SELECT e.sa, e.sb, ca.c AS ca, cb.c AS cb FROM e
      |  JOIN com ca ON e.sa = ca.v JOIN com cb ON e.sb = cb.v),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
      |i AS (SELECT ca AS cin, CAST(count(*) AS BIGINT) AS e_in
      |  FROM wc WHERE ca = cb GROUP BY ca),
      |d AS (SELECT cd, CAST(count(*) AS BIGINT) AS a_i FROM
      |  (SELECT ca AS cd FROM wc UNION ALL SELECT cb AS cd FROM wc)
      |  GROUP BY cd),
      |terms AS (SELECT d.cd, coalesce(i.e_in, 0) AS e_in, d.a_i,
      |    CAST(round(CAST(coalesce(i.e_in, 0) AS DOUBLE) / m.m
      |      - (CAST(d.a_i AS DOUBLE) / (2.0 * m.m))
      |        * (CAST(d.a_i AS DOUBLE) / (2.0 * m.m)), 8)
      |      AS DECIMAL(18,8)) AS term
      |  FROM d LEFT JOIN i ON d.cd = i.cin CROSS JOIN m)
      |SELECT (SELECT m FROM m) AS m_edges,
      |  CAST(count(*) AS BIGINT) AS n_communities,
      |  CAST(sum(e_in) AS BIGINT) AS internal_edges,
      |  CAST(round(sum(term), 6) AS DOUBLE) AS modularity
      |FROM terms""".stripMargin,

    "agg_growth_accounting" -> """
      |WITH uw AS (SELECT DISTINCT user_id AS u,
      |    CAST((day(ts) - 1) // 7 AS INTEGER) AS wk FROM events),
      |first AS (SELECT u, min(wk) AS fw FROM uw GROUP BY u),
      |weeks AS (SELECT DISTINCT wk AS w0 FROM uw WHERE wk < 4),
      |rc AS (SELECT w.w0,
      |    CAST(count(*) FILTER (n.u IS NOT NULL) AS BIGINT) AS retained,
      |    CAST(count(*) FILTER (n.u IS NULL AND c.u IS NOT NULL) AS BIGINT)
      |      AS churned
      |  FROM weeks w
      |  LEFT JOIN uw c ON c.wk = w.w0
      |  LEFT JOIN uw n ON n.u = c.u AND n.wk = w.w0 + 1
      |  GROUP BY w.w0),
      |arr AS (SELECT a.wk - 1 AS w1,
      |    CAST(count(*) FILTER (f.fw = a.wk) AS BIGINT) AS new_users,
      |    CAST(count(*) FILTER (f.fw < a.wk) AS BIGINT) AS resurrected
      |  FROM uw a
      |  JOIN first f ON f.u = a.u
      |  WHERE NOT EXISTS (SELECT 1 FROM uw p
      |    WHERE p.u = a.u AND p.wk = a.wk - 1)
      |  GROUP BY a.wk - 1)
      |SELECT rc.w0 AS week, rc.retained, rc.churned,
      |  CAST(coalesce(arr.new_users, 0) AS BIGINT) AS new_users,
      |  CAST(coalesce(arr.resurrected, 0) AS BIGINT) AS resurrected
      |FROM rc LEFT JOIN arr ON rc.w0 = arr.w1 ORDER BY week""".stripMargin
  )
}
