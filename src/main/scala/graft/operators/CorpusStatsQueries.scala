package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils.{QFn, duckToks}
import graft.sources.Tables

/** Corpus-statistics and curation-adjacent operators (round 2, batch 3):
  * PII redaction, mixture sampling weights, context-length histograms,
  * per-language source mixing, and time-series gap filling.
  *
  * Scale notes (100 TB):
  *  - `llm_pii_redact` and `llm_length_buckets` are map-only up to the
  *    final small aggregation — no corpus-sized shuffle anywhere.
  *  - `llm_mix_weights` / `llm_domain_stats` shuffle only on
  *    (lang, source) — cardinality is bounded by the catalog, not the
  *    corpus, so the exchanges stay tiny at any data size.
  *  - `win_fill_forward` partitions by user_id; state per partition is
  *    one scalar (the last non-null), so the window never buffers the
  *    frame. Skewed users would be handled by range-partitioning the
  *    sort — Spark's window exec already sorts within partitions only.
  */
object CorpusStatsQueries extends graft.QueryFamily {

  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneRe = """\b\d{3}-\d{4}\b"""

  val queries: Map[String, QFn] = Map(

    // ---- PII redaction --------------------------------------------------
    // The fixture corpus is deliberately PII-free, so the query carries
    // its own deterministic adversarial payload: docs with doc_id % 7 == 0
    // gain a synthetic e-mail, % 11 == 0 a synthetic phone number. The
    // redaction pass (regex replace + per-class counts) then has real
    // work to do and provably leaves clean docs untouched. Whole chain
    // is a codegen'd map over the scan; the only exchange is the final
    // ORDER BY.
    "llm_pii_redact" -> ((s, dir) => {
      val dirty = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("dirty"))
      dirty.select(col("doc_id"),
          regexp_count(col("dirty"), lit(EmailRe)).cast("long").as("n_email"),
          regexp_count(col("dirty"), lit(PhoneRe)).cast("long").as("n_phone"),
          regexp_replace(regexp_replace(col("dirty"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    }),

    // ---- corpus mixture sampling weights -------------------------------
    // Per (lang, source) stratum: doc/token counts, corpus share, and a
    // temperature-scaled sampling weight share^0.7 (the standard
    // multilingual up-weighting exponent). Counts are exact integers;
    // share is ONE double division against a scalar total; pow is
    // row-local — nothing order-dependent survives to the output.
    "llm_mix_weights" -> ((s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("lang"), col("source"),
          graft.functions.TextNGrams.mkTokenCount(col("text"))
            .cast("long").as("n_tok"))
      val strata = perDoc.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      // corpus totals as windows over the catalog-sized aggregate — NOT
      // agg + crossJoin, which would re-execute the scan + tokenization
      // subtree a second time (no common-subplan sharing in Spark)
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      strata
        .withColumn("tot_docs", sum("n_docs").over(w))
        .withColumn("tot_tokens", sum("n_tokens").over(w))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_docs").cast("double") / col("tot_docs"), 6)
            .as("doc_share"),
          round(col("n_tokens").cast("double") / col("tot_tokens"), 6)
            .as("token_share"),
          round(pow(col("n_docs").cast("double") / col("tot_docs"), 0.7), 4)
            .as("weight_t07"))
        .orderBy("lang", "source")
    }),

    // ---- context-length histogram --------------------------------------
    // Power-of-2 token-length buckets per language. The bucket index
    // floor(log2(n)) is computed as length(bin(n)) - 1 — pure integer
    // string length, immune to the float-log2 boundary problem at exact
    // powers of two (log2(1024) returning 9.999... would mis-bucket).
    "llm_length_buckets" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"),
          graft.functions.TextNGrams.mkTokenCount(col("text"))
            .cast("long").as("n_tok"))
        .where(col("n_tok") >= 1)
        .select(col("lang"),
          (length(bin(col("n_tok"))) - 1).cast("long").as("bucket"),
          col("n_tok"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("n_tok").as("min_tok"), max("n_tok").as("max_tok"))
        .orderBy("lang", "bucket")
    }),

    // ---- per-language source mixing ------------------------------------
    // Top-3 sources per language by doc count (count desc, source asc
    // tiebreak) with the source's share of its language — the standard
    // "what is this corpus made of" curation report. Shuffles on
    // (lang, source) then windows over lang: both catalog-bounded.
    "llm_domain_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
      val byLang = Window.partitionBy("lang")
      val rk = Window.partitionBy("lang")
        .orderBy(col("n_docs").desc, col("source").asc)
      counts
        .withColumn("lang_docs", sum("n_docs").over(byLang))
        .withColumn("rk", row_number().over(rk))
        .where(col("rk") <= 3)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("source"),
          col("n_docs"),
          round(col("n_docs").cast("double") / col("lang_docs"), 4)
            .as("lang_share"))
        .orderBy("lang", "rk")
    }),

    // ---- forward fill over a sparse time series ------------------------
    // Every fifth event's value is deterministically nulled out, then
    // recovered with last-non-null carry-forward per user in (ts,
    // event_id) order — the canonical sensor-gap / slowly-changing-value
    // fill. State per partition is one scalar; no frame buffering.
    "win_fill_forward" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sparse = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(pmod(col("event_id"), lit(5)) === 0, lit(null))
            .otherwise(col("value")).as("v_sparse"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sparse
        .withColumn("v_filled", last(col("v_sparse"), ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("v_sparse"), col("v_filled"))
        .orderBy("event_id")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_pii_redact" ->
      """WITH dirty AS (SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(dirty, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  regexp_replace(regexp_replace(dirty,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM dirty ORDER BY doc_id""".stripMargin,

    "llm_mix_weights" ->
      s"""WITH per_doc AS (SELECT lang, source,
        |    CAST(len($duckToks) AS BIGINT) AS n_tok
        |  FROM documents),
        |strata AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM per_doc GROUP BY lang, source),
        |totals AS (SELECT sum(n_docs) AS tot_docs, sum(n_tokens) AS tot_tokens
        |  FROM strata)
        |SELECT lang, source, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE), 6) AS doc_share,
        |  round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6) AS token_share,
        |  round(pow(CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE), 0.7), 4) AS weight_t07
        |FROM strata CROSS JOIN totals
        |ORDER BY lang, source""".stripMargin,

    "llm_length_buckets" ->
      s"""WITH per_doc AS (SELECT lang,
        |    CAST(len($duckToks) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, CAST(len(bin(n_tok)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_tok) AS min_tok, max(n_tok) AS max_tok
        |FROM per_doc WHERE n_tok >= 1
        |GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin,

    "llm_domain_stats" ->
      """WITH counts AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang, source),
        |ranked AS (SELECT lang, source, n_docs,
        |    sum(n_docs) OVER (PARTITION BY lang) AS lang_docs,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_docs DESC, source ASC) AS rk
        |  FROM counts)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, source, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / CAST(lang_docs AS DOUBLE), 4) AS lang_share
        |FROM ranked WHERE rk <= 3
        |ORDER BY lang, rk""".stripMargin,

    "win_fill_forward" ->
      """WITH sparse AS (SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v_sparse
        |  FROM events)
        |SELECT event_id, user_id, v_sparse,
        |  last_value(v_sparse IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM sparse ORDER BY event_id""".stripMargin
  )
}
