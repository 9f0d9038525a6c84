package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — breadth batch: map-only skip-gram co-occurrence, Gini
  * inequality (exact rank formula), windowed distinct users
  * (streaming-batch), the Spark-4 built-in XML source, modern regex
  * surface (`regexp_extract_all` / `regexp_count` / backref replace),
  * and corpus-half IDF drift.
  *
  * Determinism notes (§7.2 conventions):
  *  - skip-gram pairs are generated per-document by pure array
  *    arithmetic (nested transform→flatten) — a MAP-ONLY stage; the
  *    only shuffle is the final pair count, and the top-100 is a
  *    TakeOrdered under a total order;
  *  - Gini's two sums are exact decimals (rank cast to decimal(12,0)
  *    before the product so no Spark precision-loss rescale can fire);
  *    the closed-form combination runs in double with the IDENTICAL
  *    expression tree on both engines — every IEEE op is correctly
  *    rounded, so equal trees on equal inputs give equal bits;
  *  - IDF drift ranks by the exact odds ratio
  *    (nb+1)(df_a+1) / ((na+1)(df_b+1)) — a single division of exact
  *    integers — instead of a log difference: `ln` is NOT correctly
  *    rounded and differs between java.lang.Math and libm, the ratio
  *    is monotone in the log difference so the ranking is identical;
  *  - DuckDB `regexp_extract` yields '' (not NULL) on no-match, so the
  *    regex query only ships extract_all / count / replace, whose
  *    no-match behaviors agree — except `array_to_string([])` which is
  *    NULL in DuckDB vs Spark's `array_join([]) = ''` (coalesced in
  *    the oracle; caught by sf0.001 parity on first run); DuckDB `date_trunc('day', …)` yields
  *    DATE, cast back to TIMESTAMP to match Spark's window struct.
  */
object WideSurfaceQueries extends graft.QueryFamily {

  /** Per-sfdir, app-id-salted scratch dir for the XML round trip
    * (shared scheme, see graft.tools.Scratch). */
  private def scratch(s: SparkSession, dir: String): String =
    graft.tools.Scratch.dir(s, "xml", dir)

  val queries: Map[String, QFn] = Map(

    // ---- skip-gram co-occurrence counts ---------------------------------
    // Token pairs within distance ≤ 3 (the word2vec context window),
    // counted corpus-wide, top-100. Pair generation is per-document
    // array arithmetic — no join, no explode-then-self-join: each doc
    // emits its own (w1, w2, dist) list in one map pass, so the plan is
    // scan → generate → one keyed count shuffle → TakeOrdered. At
    // 100 TB the pair stream is ~3× the token stream and partial
    // aggregation absorbs it map-side.
    "llm_skipgram_counts" -> ((s, dir) => {
      // r14: pair generation via the codegen'd SkipGramList kernel —
      // the nested transform(sequence(...)) form interpreted two lambda
      // levels per token; the kernel is one tight loop per row emitting
      // the identical (w1, w2, dist) stream in the identical order.
      Tables.documents(s, dir)
        .select(explode_outer(
          graft.functions.TextNGrams.mkSkipGrams(col("text"), 3)).as("p"))
        .where(col("p").isNotNull)
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"),
          col("p.dist").as("dist"))
        .groupBy("w1", "w2", "dist")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc,
          col("dist").asc)
        .limit(100)
    }),

    // ---- Gini coefficient of customer revenue ---------------------------
    // G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over revenues sorted
    // ascending (GlobalRank's two-pass range-partitioned rank over the
    // customer DIMENSION, orders pre-aggregated first — no stage
    // funnels the dim into a single-task window; same scale posture as
    // agg_rfm_segments). Both sums are exact decimals; the closed form
    // is 7 IEEE double ops in a fixed tree.
    "agg_gini_revenue" -> ((s, dir) => {
      val rev = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val rk = GlobalRank.withSeq(rev, "__i",
          Seq(col("rev").asc, col("o_custkey").asc))
        .withColumn("i", col("__i").cast(DecimalType(12, 0)))
      rk.agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).as("s0"),
          sum(col("i") * col("rev")).as("s1"))
        .select(col("n_customers"),
          col("s0").cast(DoubleType).as("total_rev"),
          ((lit(2.0) * col("s1").cast(DoubleType)
            - (col("n_customers") + lit(1)).cast(DoubleType)
              * col("s0").cast(DoubleType))
            / (col("n_customers").cast(DoubleType)
              * col("s0").cast(DoubleType))).as("gini"))
    }),

    // ---- windowed distinct users (streaming-batch) ----------------------
    // Tumbling 1-day windows per event type with an EXACT distinct
    // user count — the streaming shape that needs Expand (one shuffle
    // keyed by (window, type, user) then a re-agg), vs stream_tumbling's
    // plain counts. NOTE Structured Streaming does NOT support
    // count_distinct in an aggregation: the live-stream form is
    // watermarked dropDuplicates on (window, type, user) followed by a
    // plain count — the SAME keyed state, split across two operators.
    // StreamingSpec runs exactly that form through MemoryStream epochs
    // and matches it against this batch query's semantics.
    "stream_window_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("ws"), col("event_type"),
          col("n_events"), col("n_users"))
        .orderBy("ws", "event_type")
    }),

    // ---- XML source round trip (built-in since Spark 4) -----------------
    "source_xml_roundtrip" -> ((s, dir) => {
      val out = scratch(s, dir)
      Tables.documents(s, dir)
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").option("rowTag", "doc").xml(out)
      s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .option("rowTag", "doc").xml(out)
        .orderBy("doc_id")
    }),

    // ---- modern regex surface -------------------------------------------
    // extract_all (all matches, joined to one column — list-of-string
    // outputs don't hash portably), count, and a backreference replace
    // (plural → singular on the first 30 chars; Spark `$1` ≡ DuckDB
    // `\1` + 'g'). All codegen'd string expressions, map-only.
    "fn_regex_all" -> ((s, dir) => {
      val pat = "[a-z]*data[a-z]*"
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(regexp_extract_all(col("text"), lit(pat), lit(0)), ",")
            .as("data_words"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
            .as("n_data_words"),
          regexp_count(col("text"), lit("row")).cast("long").as("n_row"),
          regexp_replace(substring(col("text"), 1, 30), "([a-z]+)s\\b", "$1")
            .as("singular30"))
        .orderBy("doc_id")
    }),

    // ---- corpus-half IDF drift ------------------------------------------
    // Which tokens' document frequency shifted most between the two
    // doc_id-parity halves of the corpus — the drift monitor run when a
    // new crawl lands. Ranked by the exact smoothed odds ratio
    // (monotone in Δidf, no `ln`); disappeared/appeared tokens are
    // caught by the +1 smoothing (a token absent from one half gets an
    // exact 0 from the half pivot). Per-half df is a ROLLUP of the
    // persisted document-frequency ledger (r12 — each doc occupies one
    // (lang, source, half) cell, so summing ndoc over ignored keys is
    // bit-exact), not a fresh corpus tokenize+shuffle; only the 2-row
    // half-size aggregate still touches the corpus, and it is a
    // map-only count over doc_id.
    "llm_idf_drift" -> ((s, dir) => {
      val dfs = graft.tools.TokenArtifacts.dfByHalf(s, dir)
        .groupBy("tok")
        .agg(sum(when(col("half") === 0, col("ndoc")).otherwise(lit(0L)))
            .as("df_a"),
          sum(when(col("half") === 1, col("ndoc")).otherwise(lit(0L)))
            .as("df_b"))
      val nn = Tables.documents(s, dir)
        .agg(count_if(col("doc_id") % 2 === 0).as("na"),
          count_if(col("doc_id") % 2 === 1).as("nb"))
      dfs.crossJoin(broadcast(nn))
        .select(col("tok"), col("df_a"), col("df_b"),
          (((col("nb") + 1) * (col("df_a") + 1)).cast(DoubleType)
            / ((col("na") + 1) * (col("df_b") + 1)).cast(DoubleType))
            .as("drift_ratio"))
        .orderBy(col("drift_ratio").desc, col("tok").asc)
        .limit(50)
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_skipgram_counts" -> s"""
      |WITH t AS (SELECT $duckToks AS tk FROM documents
      |  WHERE len($duckToks) >= 2),
      |p AS (SELECT tk[i] AS w1, tk[i + d] AS w2, CAST(d AS BIGINT) AS dist
      |  FROM t,
      |    unnest(generate_series(1, len(tk) - 1)) u(i),
      |    unnest(generate_series(1, least(3, len(tk) - i))) v(d))
      |SELECT w1, w2, dist, count(*) AS cnt FROM p
      |GROUP BY w1, w2, dist
      |ORDER BY cnt DESC, w1 ASC, w2 ASC, dist ASC LIMIT 100""".stripMargin,

    "agg_gini_revenue" ->
      """WITH rev AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT rev,
        |    CAST(row_number() OVER (ORDER BY rev ASC, o_custkey ASC)
        |      AS DECIMAL(12,0)) AS i
        |  FROM rev),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |    sum(rev) AS s0, sum(i * rev) AS s1 FROM rk)
        |SELECT n_customers,
        |  CAST(s0 AS DOUBLE) AS total_rev,
        |  (2.0 * CAST(s1 AS DOUBLE)
        |    - CAST(n_customers + 1 AS DOUBLE) * CAST(s0 AS DOUBLE))
        |  / (CAST(n_customers AS DOUBLE) * CAST(s0 AS DOUBLE)) AS gini
        |FROM ag""".stripMargin,

    "stream_window_distinct" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "source_xml_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "fn_regex_all" -> raw"""
      |SELECT doc_id,
      |  coalesce(array_to_string(regexp_extract_all(text, '[a-z]*data[a-z]*'), ','), '') AS data_words,
      |  CAST(len(regexp_extract_all(text, '[a-z]*data[a-z]*')) AS BIGINT) AS n_data_words,
      |  CAST(len(regexp_extract_all(text, 'row')) AS BIGINT) AS n_row,
      |  regexp_replace(substr(text, 1, 30), '([a-z]+)s\b', '\1', 'g') AS singular30
      |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_idf_drift" -> s"""
      |WITH d AS (SELECT doc_id, $duckToks AS tk FROM documents),
      |e AS (SELECT doc_id % 2 AS half, unnest(list_distinct(tk)) AS tok FROM d),
      |dfs AS (SELECT tok,
      |    count(*) FILTER (half = 0) AS df_a,
      |    count(*) FILTER (half = 1) AS df_b
      |  FROM e GROUP BY tok),
      |nn AS (SELECT count(*) FILTER (doc_id % 2 = 0) AS na,
      |    count(*) FILTER (doc_id % 2 = 1) AS nb FROM d)
      |SELECT tok, CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
      |  CAST((nb + 1) * (df_a + 1) AS DOUBLE)
      |    / CAST((na + 1) * (df_b + 1) AS DOUBLE) AS drift_ratio
      |FROM dfs, nn
      |ORDER BY drift_ratio DESC, tok ASC LIMIT 50""".stripMargin
  )
}
