package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 fifth wave: bounded-hop harmonic centrality over the
  * near-dup graph, a deterministic one-pass Bayesian bootstrap
  * (the scale-out replacement for resampling-by-copy), the Pettitt
  * rank-based changepoint test, and per-corpus n-gram novelty
  * (first-occurrence attribution of shingles).
  *
  * Scale notes: the bootstrap is THE at-scale resampling shape — the
  * B=64 replicate weights are a hash of (replicate, key), so the whole
  * estimate is one explode + one map-side-combinable aggregate to
  * |groups|×64 cells; no data copies, no driver loop. Harmonic
  * centrality reuses the memoized simhash pair artifact and runs 4
  * frontier rounds keyed by (root, node) — state is bounded by
  * Σ component², and near-dup components are replica-sized cliques.
  * Pettitt runs entirely on the ≤31-row-per-type daily table. Novelty
  * is one shingle-keyed window pass (the dedup family's shuffle key),
  * corpus-linear.
  */
object Round7eQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- bounded-hop harmonic centrality ---------------------------------
    // C_H(v) = Σ_{u: 1 ≤ d(v,u) ≤ 4} 1/d(v,u) over the simhash
    // near-dup graph — "how central is this document inside its
    // duplication neighborhood" (the cluster-representative picker's
    // tie-breaking signal). Multi-source bounded BFS: frontier state is
    // (root, node, min-hops), 4 eagerly-materialized join rounds, the
    // same skeleton as graph_bfs_hops but rooted at EVERY node. The
    // harmonic sum is computed from the four per-distance counts in one
    // fixed-order expression, never by summing per-row 1/d doubles
    // (whose addition order is partial-dependent).
    "graph_harmonic_centrality" -> ((s, dir) => {
      val pairs = graft.tools.PairArtifacts.of(s, dir, "simhash")(
        ScaleQueries.queries("llm_dedup_simhash")(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val edges = graft.tools.Materialize.eager("harm.edges",
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
      var dist = graft.tools.Materialize.eager("harm.d0",
        edges.select(col("src").as("root")).distinct()
          .select(col("root"), col("root").as("node"), lit(0L).as("d")))
      for (hop <- 1 to 4) {
        val nxt = edges.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("root"), col("dst").as("node"), (col("d") + 1).as("d"))
        dist = graft.tools.Materialize.eager(s"harm.d$hop",
          dist.union(nxt).groupBy("root", "node").agg(min("d").as("d")))
      }
      dist.groupBy("root")
        .agg(count_if(col("d") >= 1).as("n_reach"),
          count_if(col("d") === 1).as("n1"),
          count_if(col("d") === 2).as("n2"),
          count_if(col("d") === 3).as("n3"),
          count_if(col("d") === 4).as("n4"))
        .select(col("root").as("doc_id"), col("n_reach"),
          round(d(col("n1")) + d(col("n2")) / 2.0 + d(col("n3")) / 3.0 +
            d(col("n4")) / 4.0, 6).as("harmonic"))
        .orderBy("doc_id")
    }),

    // ---- deterministic Bayesian bootstrap SE ------------------------------
    // Standard error (and normal CI) of mean order price per priority
    // via the Bayesian bootstrap (Rubin 1981): replicate b reweights
    // every order by an Exp(1) draw, here the deterministic transform
    // -ln(u) of a md5-derived uniform keyed by (b, orderkey) — so a
    // 1000-executor run and DuckDB derive bit-identical replicates
    // with no RNG state. One explode(0..63) + one (priority, b)
    // aggregate (map-side combined), weights 8dp-quantized decimals,
    // weighted sums exact decimal products; each replicate mean is
    // 6dp-quantized before the across-replicate moment pass.
    "agg_bootstrap_se" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          col("o_orderkey"), col("o_totalprice").cast(DecimalType(12, 2)).as("x"))
      val rep = o.select(col("o_orderpriority"), col("o_orderkey"), col("x"),
          explode(sequence(lit(0L), lit(63L))).as("b"))
        .withColumn("u",
          (hash60(concat(lit("bs"), col("b").cast("string"), lit(":"),
            col("o_orderkey").cast("string"))) % 1000000 + 0.5) / 1000000.0)
        .withColumn("w", round(-log(col("u")), 8).cast(DecimalType(12, 8)))
      val means = rep.groupBy("o_orderpriority", "b")
        .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
        .select(col("o_orderpriority"),
          round(d(col("swx")) / d(col("sw")), 6)
            .cast(DecimalType(18, 6)).as("m"))
      val m19 = col("m").cast(DecimalType(19, 6))
      // mean and ci bounds as EXACT half-up micro-unit integers
      // (BoundaryGuard r9: cents/n terminates whenever the per-priority
      // order count is 2-5-smooth and mean ± 1.96·se is an exact 1e-8
      // rational — both land exactly on 6dp half boundaries, the
      // systematic string-vs-binary rounding hazard). The only doubles
      // left are the sqrt closed form (chance-class, guard-watched) and
      // the final /1e6 display divisions.
      val boot = means.groupBy("o_orderpriority")
        .agg(sum(col("m")).as("sm"), sum(m19 * m19).as("smm"))
        .select(col("o_orderpriority"),
          (round(sqrt((d(col("smm")) - d(col("sm")) * d(col("sm")) / 64.0) / 63.0),
            6).cast(DecimalType(18, 6)) * 1000000)
            .cast(DecimalType(38, 0)).cast("long").as("se6"))
      val pt = o.groupBy(col("o_orderpriority").as("op2"))
        .agg(count(lit(1)).as("n_orders"), sum(col("x")).as("sx"))
        .withColumn("sx6", (col("sx") * 1000000).cast(DecimalType(38, 0)))
        .withColumn("m6", expr("(2 * sx6 + n_orders) div (2 * n_orders)"))
        .select(col("op2"), col("n_orders"), col("m6"))
      boot.join(broadcast(pt), col("o_orderpriority") === col("op2"))
        .withColumn("lo8", col("m6") * 100 - col("se6") * 196)
        .withColumn("hi8", col("m6") * 100 + col("se6") * 196)
        .select(col("o_orderpriority"), col("n_orders"),
          (d(col("m6")) / 1000000.0).as("mean_price"),
          (d(col("se6")) / 1000000.0).as("boot_se"),
          (d(expr("CASE WHEN lo8 >= 0 THEN (2 * lo8 + 100) div 200 " +
            "ELSE -((2 * (-lo8) + 100) div 200) END")) / 1000000.0).as("ci_lo"),
          (d(expr("(2 * hi8 + 100) div 200")) / 1000000.0).as("ci_hi"))
        .orderBy("o_orderpriority")
    }),

    // ---- Pettitt changepoint test -----------------------------------------
    // Rank-based single changepoint on the daily spend series per event
    // type: U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j). By antisymmetry
    // Σ_{i≤t} Σ_{j≤t} sgn = 0, so U_t is the running sum of the
    // full-series row scores r_i = Σ_j sgn(x_i − x_j) — one ≤31×31
    // decimal-exact self-join per type plus one integer running-sum
    // window, no O(n²)-per-t recomputation. K = max_{t<n} |U_t|, the
    // changepoint is the earliest argmax day, and the approximate
    // significance is 2·exp(−6K²/(n³+n²)).
    "agg_pettitt_changepoint" -> ((s, dir) => {
      val dy = dailyDec(s, dir)
      val r = dy.toDF("event_type", "day_i", "xi")
        .join(dy.toDF("et2", "day_j", "xj"), col("event_type") === col("et2"))
        .groupBy("event_type", "day_i")
        .agg(sum(when(col("xi") > col("xj"), 1L)
          .when(col("xi") < col("xj"), -1L).otherwise(0L)).as("r_i"))
      val wp = Window.partitionBy("event_type")
      val u = r
        .withColumn("u_t", sum("r_i").over(wp.orderBy("day_i")))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("last_day", max("day_i").over(wp))
        .where(col("day_i") < col("last_day"))
      u.withColumn("rn", row_number().over(
          wp.orderBy(abs(col("u_t")).desc, col("day_i").asc)))
        .where(col("rn") === 1)
        .select(col("event_type"), col("n").as("n_days"),
          col("day_i").as("cp_day"), abs(col("u_t")).as("k_stat"),
          round(lit(2.0) * exp(lit(-6.0) * d(col("u_t")) * d(col("u_t")) /
            d(col("n") * col("n") * col("n") + col("n") * col("n"))), 8)
            .as("p_value"))
        .orderBy("event_type")
    }),

    // ---- n-gram novelty (first-occurrence attribution) --------------------
    // For every document, the fraction of its distinct word-trigram
    // shingles already introduced by an EARLIER doc (min doc_id over
    // the corpus) — the provenance direction of dedup: how much of each
    // source is recycled text vs first-seen. One shingle-keyed window
    // pass (the dedup family's shuffle key, corpus-linear); per-doc
    // ratios are 6dp-quantized before the per-(lang, source) mean so
    // the group aggregate is order-free, and the pooled ratio is an
    // exact integer division.
    "llm_ngram_firstseen" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          explode_outer(graft.functions.TextShingles.mkShingles(col("text")))
            .as("sh"))
        .where(col("sh").isNotNull)
      val perDoc = sh
        .withColumn("first_doc", min("doc_id").over(Window.partitionBy("sh")))
        .groupBy("doc_id", "lang", "source")
        .agg(count(lit(1)).as("n_sh"),
          count_if(col("first_doc") < col("doc_id")).as("n_seen"))
        // per-doc ratio in integer micro-units via exact rational
        // half-up — round(double, 6) disagrees across engines on
        // x.xxxxxx5-printing doubles (determinism trap #5)
        .withColumn("nov_u",
          expr("(n_seen * 2000000 + n_sh) div (2 * n_sh)"))
      perDoc.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nov_u")).as("smu"),
          sum(col("n_seen")).as("ssn"), sum(col("n_sh")).as("ssh"))
        // final 6dp rounding in integer space as well: a 2-doc group's
        // mean lands exactly on x.xxxxxx5, where round(double, 6)
        // splits across engines
        .select(col("lang"), col("source"), col("n_docs"),
          (d(expr("(2 * smu + n_docs) div (2 * n_docs)")) / 1000000.0)
            .as("mean_novelty"),
          (d(expr("(ssn * 2000000 + ssh) div (2 * ssh)")) / 1000000.0)
            .as("pooled_novelty"))
        .orderBy("lang", "source")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "graph_harmonic_centrality" -> {
      val pairBody = ScaleQueries.oracles("llm_dedup_simhash")
      s"""WITH RECURSIVE simpairs AS ($pairBody),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM simpairs
        |  UNION ALL SELECT doc_b, doc_a FROM simpairs),
        |walk(root, node, d) AS (
        |  SELECT DISTINCT src AS root, src AS node, CAST(0 AS BIGINT) AS d
        |    FROM edges
        |  UNION
        |  SELECT w.root, e.dst, w.d + 1 FROM walk w JOIN edges e
        |    ON e.src = w.node WHERE w.d < 4),
        |md AS (SELECT root, node, min(d) AS d FROM walk GROUP BY 1, 2)
        |SELECT root AS doc_id,
        |  CAST(count(*) FILTER (d >= 1) AS BIGINT) AS n_reach,
        |  round(CAST(count(*) FILTER (d = 1) AS DOUBLE)
        |    + CAST(count(*) FILTER (d = 2) AS DOUBLE) / 2.0
        |    + CAST(count(*) FILTER (d = 3) AS DOUBLE) / 3.0
        |    + CAST(count(*) FILTER (d = 4) AS DOUBLE) / 4.0, 6) AS harmonic
        |FROM md GROUP BY root ORDER BY doc_id""".stripMargin
    },

    "agg_bootstrap_se" -> """
      |WITH o AS (SELECT o_orderpriority, o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS x FROM orders),
      |rep AS (SELECT o_orderpriority, x,
      |    CAST(round(-ln((('0x' || substr(md5('bs' || CAST(b AS VARCHAR) || ':'
      |          || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 1000000
      |        + 0.5) / 1000000.0), 8) AS DECIMAL(12,8)) AS w,
      |    b
      |  FROM o CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)),
      |means AS (SELECT o_orderpriority,
      |    CAST(round(CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS m
      |  FROM rep GROUP BY o_orderpriority, b),
      |boot AS (SELECT o_orderpriority,
      |    CAST(CAST(round(sqrt((CAST(sum(CAST(m AS DECIMAL(19,6))
      |          * CAST(m AS DECIMAL(19,6))) AS DOUBLE)
      |        - CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE) / 64.0) / 63.0),
      |      6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS se6
      |  FROM means GROUP BY o_orderpriority),
      |pt AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |    (2 * CAST(sum(x) * 1000000 AS HUGEINT) + count(*))
      |      // (2 * count(*)) AS m6
      |  FROM o GROUP BY o_orderpriority)
      |SELECT o_orderpriority, n_orders,
      |  CAST(m6 AS DOUBLE) / 1000000.0 AS mean_price,
      |  CAST(se6 AS DOUBLE) / 1000000.0 AS boot_se,
      |  CAST(CASE WHEN lo8 >= 0 THEN (2 * lo8 + 100) // 200
      |       ELSE -((2 * (-lo8) + 100) // 200) END AS DOUBLE)
      |    / 1000000.0 AS ci_lo,
      |  CAST((2 * hi8 + 100) // 200 AS DOUBLE) / 1000000.0 AS ci_hi
      |FROM (SELECT pt.o_orderpriority, n_orders, m6, se6,
      |    m6 * 100 - se6 * 196 AS lo8, m6 * 100 + se6 * 196 AS hi8
      |  FROM boot JOIN pt USING (o_orderpriority)) z
      |ORDER BY o_orderpriority""".stripMargin,

    "agg_pettitt_changepoint" -> s"""
      |WITH $dailyDecSql,
      |r AS (SELECT a.event_type, a.day AS day_i,
      |    CAST(sum(CASE WHEN a.x > b.x THEN 1
      |      WHEN a.x < b.x THEN -1 ELSE 0 END) AS BIGINT) AS r_i
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type
      |  GROUP BY 1, 2),
      |u AS (SELECT event_type, day_i,
      |    CAST(sum(r_i) OVER (PARTITION BY event_type ORDER BY day_i)
      |      AS BIGINT) AS u_t,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    max(day_i) OVER (PARTITION BY event_type) AS last_day
      |  FROM r),
      |f AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(u_t) DESC, day_i ASC) AS rn
      |  FROM u WHERE day_i < last_day)
      |SELECT event_type, n AS n_days, day_i AS cp_day,
      |  abs(u_t) AS k_stat,
      |  round(2.0 * exp(-6.0 * CAST(u_t AS DOUBLE) * CAST(u_t AS DOUBLE)
      |    / CAST(n * n * n + n * n AS DOUBLE)), 8) AS p_value
      |FROM f WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "llm_ngram_firstseen" ->
      (graft.functions.TextShingles.duckShingleCte + s"""
        |, ex AS (SELECT s.doc_id, d.lang, d.source, unnest(s.sh) AS sh
        |  FROM s JOIN documents d ON s.doc_id = d.doc_id),
        |fd AS (SELECT *, min(doc_id) OVER (PARTITION BY sh) AS first_doc
        |  FROM ex),
        |pd AS (SELECT doc_id, lang, source,
        |    CAST(count(*) AS BIGINT) AS n_sh,
        |    CAST(count(*) FILTER (first_doc < doc_id) AS BIGINT) AS n_seen
        |  FROM fd GROUP BY 1, 2, 3),
        |pn AS (SELECT *,
        |    (n_seen * 2000000 + n_sh) // (2 * n_sh) AS nov_u
        |  FROM pd)
        |, gr AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nov_u) AS BIGINT) AS smu,
        |    CAST(sum(n_seen) AS BIGINT) AS ssn,
        |    CAST(sum(n_sh) AS BIGINT) AS ssh
        |  FROM pn GROUP BY 1, 2)
        |SELECT lang, source, n_docs,
        |  CAST((2 * smu + n_docs) // (2 * n_docs) AS DOUBLE) / 1000000.0
        |    AS mean_novelty,
        |  CAST((ssn * 2000000 + ssh) // (2 * ssh) AS DOUBLE) / 1000000.0
        |    AS pooled_novelty
        |FROM gr ORDER BY lang, source""".stripMargin))
}
