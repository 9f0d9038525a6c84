package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._

/** Round-9 fourth wave: lexical-inequality profiling — the legomena
  * (once/twice/3+) vocabulary class profile, the token-frequency Gini,
  * the occurrence-weighted mean frequency rank — plus the degree-
  * distribution Gini of the supplier co-occurrence graph.
  *
  * Scale design: everything aggregates the (lang, token) frequency
  * table (Heaps-sublinear in corpus size), and every corpus-wide rank
  * rides GlobalRank (range-partitioned two-pass, groupsHint = the 5
  * fixed languages) — no single-partition window anywhere.
  *
  * Determinism: counts, rank sums and rank·count products are exact
  * integers (products through DECIMAL(38,0)); each emitted statistic
  * is one double division mirrored op-for-op in the oracle.
  */
object Round9dQueries extends graft.QueryFamily {

  /** (lang, tok, cnt) token frequency table — a rollup of the shared
    * unigram ledger (exact integer counts, so identical to tokenizing
    * directly; see [[graft.tools.TokenArtifacts]]). */
  private def tf(s: SparkSession, dir: String): DataFrame =
    graft.tools.TokenArtifacts.byLang(s, dir)

  private val tfSql =
    """tf AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT lang, unnest(list_filter(string_split(text, ' '),
      |      x -> x <> '')) AS tok
      |    FROM documents) x
      |  GROUP BY 1, 2)""".stripMargin

  val queries: Map[String, QFn] = Map(

    // ---- legomena vocabulary-class profile -------------------------------------
    // Per language: vocabulary size and its hapax (once) / dis (twice)
    // / 3+ class split — Sichel's S = v2/v is the middle column's
    // share. Pure integer counts, three integer-ratio shares.
    "llm_legomena_profile" -> ((s, dir) =>
      tf(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("v"),
          count_if(col("cnt") === 1).as("v1"),
          count_if(col("cnt") === 2).as("v2"),
          count_if(col("cnt") >= 3).as("v3p"))
        .select(col("lang"), col("v"), col("v1"), col("v2"), col("v3p"),
          round(d(col("v1")) / d(col("v")), 6).as("hapax_share"),
          round(d(col("v2")) / d(col("v")), 6).as("sichel_s"),
          round(d(col("v3p")) / d(col("v")), 6).as("v3p_share"))
        .orderBy("lang")),

    // ---- token-frequency Gini ---------------------------------------------------
    // How unequally is token mass spread over the vocabulary? Gini =
    // (2·Σi·cᵢ − (V+1)·ΣC)/(V·ΣC) with ranks ascending by (cnt, tok)
    // — the agg_gini_revenue closed form on the frequency table,
    // ranked via GlobalRank (per-lang, 5 groups).
    "llm_token_gini" -> ((s, dir) => {
      val rk = GlobalRank.withSeqAndCount(tf(s, dir), "__i", "__n",
        Seq("lang"), Seq(col("cnt").asc, col("tok").asc), groupsHint = 5)
        .drop("__n")
        .withColumn("i", col("__i").cast(DecimalType(19, 0)))
        .withColumn("c", col("cnt").cast(DecimalType(19, 0)))
      rk.groupBy("lang")
        .agg(count(lit(1)).as("v"), sum(col("c")).as("s0"),
          sum(col("i") * col("c")).as("s1"))
        .select(col("lang"), col("v"), col("s0").cast("long").as("n_tokens"),
          round((lit(2.0) * d(col("s1"))
            - (d(col("v")) + lit(1.0)) * d(col("s0")))
            / (d(col("v")) * d(col("s0"))), 6).as("gini"))
        .orderBy("lang")
    }),

    // ---- occurrence-weighted mean frequency rank ---------------------------------
    // Mean within-language frequency rank of a token OCCURRENCE (rank
    // 1 = the language's most frequent type): low means the corpus
    // leans on its head vocabulary, high means long-tail-heavy text.
    // Σcᵢ·rankᵢ/N with ranks total under (cnt desc, tok asc).
    "llm_mean_word_rank" -> ((s, dir) => {
      val rk = GlobalRank.withSeqAndCount(tf(s, dir), "__r", "__n",
        Seq("lang"), Seq(col("cnt").desc, col("tok").asc), groupsHint = 5)
        .drop("__n")
        .withColumn("r", col("__r").cast(DecimalType(19, 0)))
        .withColumn("c", col("cnt").cast(DecimalType(19, 0)))
      rk.groupBy("lang")
        .agg(count(lit(1)).as("v"), sum(col("c")).as("s0"),
          sum(col("r") * col("c")).as("sr"))
        .select(col("lang"), col("v"), col("s0").cast("long").as("n_tokens"),
          round(d(col("sr")) / d(col("s0")), 6).as("mean_rank"))
        .orderBy("lang")
    }),

    // ---- degree-distribution Gini -------------------------------------------------
    // Hub concentration of the supplier co-occurrence graph: Gini over
    // node degrees (ranks ascending by (deg, node) via global
    // GlobalRank). Complements graph_degree_hist/graph_rich_club with
    // a single inequality number.
    "graph_degree_gini" -> ((s, dir) => {
      // r15: e feeds both legs of the degree union — materialized once
      // (guide §2.4).
      val e = graft.tools.Materialize.eager("deggini.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val deg = e.select(col("sa").as("node"))
        .union(e.select(col("sb").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val rk = GlobalRank.withSeq(deg, "__i",
        Seq(col("deg").asc, col("node").asc))
        .withColumn("i", col("__i").cast(DecimalType(19, 0)))
        .withColumn("dg", col("deg").cast(DecimalType(19, 0)))
      rk.agg(count(lit(1)).as("n_nodes"),
          sum(col("dg")).as("s0"), sum(col("i") * col("dg")).as("s1"))
        .select(col("n_nodes"), col("s0").cast("long").as("total_degree"),
          round((lit(2.0) * d(col("s1"))
            - (d(col("n_nodes")) + lit(1.0)) * d(col("s0")))
            / (d(col("n_nodes")) * d(col("s0"))), 6).as("gini"))
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "llm_legomena_profile" -> s"""
      |WITH $tfSql
      |SELECT lang, CAST(count(*) AS BIGINT) AS v,
      |  CAST(count(*) FILTER (cnt = 1) AS BIGINT) AS v1,
      |  CAST(count(*) FILTER (cnt = 2) AS BIGINT) AS v2,
      |  CAST(count(*) FILTER (cnt >= 3) AS BIGINT) AS v3p,
      |  round(CAST(count(*) FILTER (cnt = 1) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS hapax_share,
      |  round(CAST(count(*) FILTER (cnt = 2) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS sichel_s,
      |  round(CAST(count(*) FILTER (cnt >= 3) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS v3p_share
      |FROM tf GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_token_gini" -> s"""
      |WITH $tfSql,
      |rk AS (SELECT lang, cnt,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY cnt, tok) AS BIGINT) AS i
      |  FROM tf),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS v,
      |    sum(CAST(cnt AS DECIMAL(19,0))) AS s0,
      |    sum(CAST(i AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))) AS s1
      |  FROM rk GROUP BY 1)
      |SELECT lang, v, CAST(s0 AS BIGINT) AS n_tokens,
      |  round((2.0 * CAST(s1 AS DOUBLE)
      |    - (CAST(v AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE))
      |    / (CAST(v AS DOUBLE) * CAST(s0 AS DOUBLE)), 6) AS gini
      |FROM g ORDER BY lang""".stripMargin,

    "llm_mean_word_rank" -> s"""
      |WITH $tfSql,
      |rk AS (SELECT lang, cnt,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY cnt DESC, tok) AS BIGINT) AS r
      |  FROM tf),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS v,
      |    sum(CAST(cnt AS DECIMAL(19,0))) AS s0,
      |    sum(CAST(r AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))) AS sr
      |  FROM rk GROUP BY 1)
      |SELECT lang, v, CAST(s0 AS BIGINT) AS n_tokens,
      |  round(CAST(sr AS DOUBLE) / CAST(s0 AS DOUBLE), 6) AS mean_rank
      |FROM g ORDER BY lang""".stripMargin,

    "graph_degree_gini" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT sa AS node FROM e
      |    UNION ALL SELECT sb AS node FROM e) x
      |  GROUP BY 1),
      |rk AS (SELECT deg,
      |    CAST(row_number() OVER (ORDER BY deg, node) AS BIGINT) AS i
      |  FROM deg),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    sum(CAST(deg AS DECIMAL(19,0))) AS s0,
      |    sum(CAST(i AS DECIMAL(19,0)) * CAST(deg AS DECIMAL(19,0))) AS s1
      |  FROM rk)
      |SELECT n_nodes, CAST(s0 AS BIGINT) AS total_degree,
      |  round((2.0 * CAST(s1 AS DOUBLE)
      |    - (CAST(n_nodes AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE))
      |    / (CAST(n_nodes AS DOUBLE) * CAST(s0 AS DOUBLE)), 6) AS gini
      |FROM g""".stripMargin)
}
