package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 sixth wave: the classic readability indices beside
  * Flesch–Kincaid (Coleman–Liau from letter counts, LIX/RIX from
  * long-word counts, Gunning fog from complex-word counts) and Yule's
  * K vocabulary-richness characteristic — completing the text-quality
  * battery on the documents table.
  *
  * Determinism: every index is computed from corpus-level EXACT LONG
  * totals (letters, words, long words, sentence enders, vowel-group
  * complex words, frequency-spectrum Σcnt²) with ONE fixed-order
  * double closed form per output row — no per-doc float means, no
  * order-dependent float sums anywhere. Greedy character-class regexes
  * behave identically in Java regex and DuckDB's RE2.
  */
object Round8fQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- Coleman–Liau index (per language) ------------------------------
    // CLI = 0.0588·L − 0.296·S − 15.8 with L = letters per 100 words,
    // S = sentences per 100 words — corpus-level exact long totals.
    "llm_coleman_liau" -> ((s, dir) => {
      val doc = Tables.documents(s, dir).select(col("lang"),
          nTok.as("w"), nSent.as("sent"),
          (length(col("text"))
            - length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .cast("long").as("letters"))
        .where(col("w") >= 1)
      doc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
          sum("sent").as("sentences"), sum("letters").as("letters"))
        .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
          col("letters"),
          round(lit(0.0588) * (lit(100.0) * d(col("letters")) / d(col("words")))
            - lit(0.296) * (lit(100.0) * d(col("sentences")) / d(col("words")))
            - 15.8, 4).as("cli"))
        .orderBy("lang")
    }),

    // ---- LIX / RIX readability (per language) ---------------------------
    // LIX = W/S + 100·LW/W, RIX = LW/S with LW = words longer than 6
    // chars — the Scandinavian pair, pure integer counts via a HOF
    // filter (no explode; the long-word test runs inside the token
    // array).
    "llm_lix_rix" -> ((s, dir) => {
      val doc = Tables.documents(s, dir).select(col("lang"),
          nTok.as("w"), nSent.as("sent"),
          size(filter(split(col("text"), " "), t => length(t) > 6))
            .cast("long").as("lw"))
        .where(col("w") >= 1)
      doc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
          sum("sent").as("sentences"), sum("lw").as("long_words"))
        .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
          col("long_words"),
          round(d(col("words")) / d(col("sentences"))
            + lit(100.0) * d(col("long_words")) / d(col("words")), 4).as("lix"),
          round(d(col("long_words")) / d(col("sentences")), 4).as("rix"))
        .orderBy("lang")
    }),

    // ---- Yule's K + Sichel's S (per language) ---------------------------
    // K = 10⁴·(Σ cnt² − N)/N² over the token frequency spectrum
    // (Σ m²·V_m ≡ Σ_tokens cnt²) and S = V₂/V — the token-keyed
    // richness pair; the shuffle scales with vocabulary, not docs.
    "llm_yule_k" -> ((s, dir) => {
      // frequency spectrum rolls up from the shared unigram ledger
      // (r10 verdict item 6) — no fresh corpus tokenize
      val freq = graft.tools.TokenArtifacts.byLang(s, dir)
        .withColumnRenamed("tok", "token")
      freq.groupBy("lang")
        .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("vocab"),
          sum(col("cnt") * col("cnt")).as("s2"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("v2"))
        .select(col("lang"), col("n_tokens"), col("vocab"),
          round(lit(10000.0) * (d(col("s2")) - d(col("n_tokens")))
            / (d(col("n_tokens")) * d(col("n_tokens"))), 4).as("yule_k"),
          round(d(col("v2")) / d(col("vocab")), 6).as("sichel_s"))
        .orderBy("lang")
    }),

    // ---- Gunning fog index (per language) -------------------------------
    // FOG = 0.4·(W/S + 100·CW/W) with CW = words of ≥3 vowel groups
    // (the FK syllable proxy applied per token inside a HOF filter).
    "llm_gunning_fog" -> ((s, dir) => {
      val vg: Column => Column = t =>
        length(regexp_replace(t, lit("[aeiouyAEIOUY]+"), lit("#"))) -
          length(regexp_replace(t, lit("[aeiouyAEIOUY]+"), lit("")))
      val doc = Tables.documents(s, dir).select(col("lang"),
          nTok.as("w"), nSent.as("sent"),
          size(filter(split(col("text"), " "), t => vg(t) >= 3))
            .cast("long").as("cw"))
        .where(col("w") >= 1)
      doc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
          sum("sent").as("sentences"), sum("cw").as("complex_words"))
        .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
          col("complex_words"),
          round(lit(0.4) * (d(col("words")) / d(col("sentences"))
            + lit(100.0) * d(col("complex_words")) / d(col("words"))), 4)
            .as("fog"))
        .orderBy("lang")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "llm_coleman_liau" -> s"""
      |WITH doc AS (SELECT lang,
      |    CAST(len($duckToks)
      |      AS BIGINT) AS w,
      |    $nSentSql AS sent,
      |    CAST(length(text)
      |      - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT)
      |      AS letters
      |  FROM documents),
      |f AS (SELECT * FROM doc WHERE w >= 1)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS words,
      |  CAST(sum(sent) AS BIGINT) AS sentences,
      |  CAST(sum(letters) AS BIGINT) AS letters,
      |  round(0.0588 * (100.0 * CAST(sum(letters) AS DOUBLE)
      |      / CAST(sum(w) AS DOUBLE))
      |    - 0.296 * (100.0 * CAST(sum(sent) AS DOUBLE)
      |      / CAST(sum(w) AS DOUBLE))
      |    - 15.8, 4) AS cli
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_lix_rix" -> s"""
      |WITH doc AS (SELECT lang,
      |    CAST(len($duckToks)
      |      AS BIGINT) AS w,
      |    $nSentSql AS sent,
      |    CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 6))
      |      AS BIGINT) AS lw
      |  FROM documents),
      |f AS (SELECT * FROM doc WHERE w >= 1)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS words,
      |  CAST(sum(sent) AS BIGINT) AS sentences,
      |  CAST(sum(lw) AS BIGINT) AS long_words,
      |  round(CAST(sum(w) AS DOUBLE) / CAST(sum(sent) AS DOUBLE)
      |    + 100.0 * CAST(sum(lw) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 4)
      |    AS lix,
      |  round(CAST(sum(lw) AS DOUBLE) / CAST(sum(sent) AS DOUBLE), 4) AS rix
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_yule_k" -> """
      |WITH tok AS (SELECT lang, unnest(list_filter(string_split(text, ' '),
      |    x -> x <> '')) AS token
      |  FROM documents),
      |freq AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY 1, 2)
      |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS vocab,
      |  round(10000.0 * (CAST(sum(cnt * cnt) AS DOUBLE)
      |      - CAST(sum(cnt) AS DOUBLE))
      |    / (CAST(sum(cnt) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE)), 4)
      |    AS yule_k,
      |  round(CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS sichel_s
      |FROM freq GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_gunning_fog" -> s"""
      |WITH doc AS (SELECT lang,
      |    CAST(len($duckToks)
      |      AS BIGINT) AS w,
      |    $nSentSql AS sent,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> length(regexp_replace(x, '[aeiouyAEIOUY]+', '#', 'g'))
      |        - length(regexp_replace(x, '[aeiouyAEIOUY]+', '', 'g')) >= 3))
      |      AS BIGINT) AS cw
      |  FROM documents),
      |f AS (SELECT * FROM doc WHERE w >= 1)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS words,
      |  CAST(sum(sent) AS BIGINT) AS sentences,
      |  CAST(sum(cw) AS BIGINT) AS complex_words,
      |  round(0.4 * (CAST(sum(w) AS DOUBLE) / CAST(sum(sent) AS DOUBLE)
      |    + 100.0 * CAST(sum(cw) AS DOUBLE) / CAST(sum(w) AS DOUBLE)), 4)
      |    AS fog
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
}
