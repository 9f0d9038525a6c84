package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 thirteenth wave: the remaining readability / lexical-
  * richness classics — ARI, SMOG, Guiraud R + Herdan C, and Honoré's
  * R — beside FK / fog / Coleman-Liau / LIX-RIX / Yule-Sichel.
  *
  * Determinism: every input is an exact long count (alnum chars,
  * whitespace tokens, sentence enders, ≥3-vowel-group tokens, vocab /
  * hapax sizes); each statistic is ONE fixed tree of IEEE ops over
  * those counts — division and sqrt are correctly rounded, ln's
  * sub-ulp libm variance is absorbed by the 4-6dp display rounding
  * (the llm_zipf_slope / Bartlett precedent, 3-SF sweep-verified).
  */
object Round8mQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- automated readability index (per language) -----------------------
    // ARI = 4.71·C/W + 0.5·W/S − 21.43 over corpus-level totals of
    // alphanumeric characters, words and sentence enders — the
    // character-driven complement of the vowel-group indices.
    "llm_ari" -> ((s, dir) => {
      val doc = Tables.documents(s, dir).select(col("lang"),
          nTok.as("w"), nSent.as("sent"),
          length(regexp_replace(col("text"), "[^A-Za-z0-9]", ""))
            .cast("long").as("chars"))
        .where(col("w") >= 1)
      doc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("chars").as("chars"),
          sum("w").as("words"), sum("sent").as("sentences"))
        .select(col("lang"), col("n_docs"), col("chars"), col("words"),
          col("sentences"),
          round(lit(4.71) * d(col("chars")) / d(col("words"))
            + lit(0.5) * d(col("words")) / d(col("sentences"))
            - 21.43, 4).as("ari"))
        .orderBy("lang")
    }),

    // ---- SMOG grade (per language) ------------------------------------------
    // SMOG = 1.0430·√(30·poly/S) + 3.1291 with poly = tokens of ≥3
    // vowel groups (the fog complex-word proxy) — √ of one exact
    // rational is IEEE-correctly rounded on both engines.
    "llm_smog" -> ((s, dir) => {
      val vg: Column => Column = t =>
        length(regexp_replace(t, lit("[aeiouyAEIOUY]+"), lit("#"))) -
          length(regexp_replace(t, lit("[aeiouyAEIOUY]+"), lit("")))
      val doc = Tables.documents(s, dir).select(col("lang"),
          nTok.as("w"), nSent.as("sent"),
          size(filter(split(col("text"), " "), t => vg(t) >= 3))
            .cast("long").as("poly"))
        .where(col("w") >= 1)
      doc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("poly").as("polysyllables"),
          sum("sent").as("sentences"))
        .select(col("lang"), col("n_docs"), col("polysyllables"),
          col("sentences"),
          round(lit(1.0430) * sqrt(lit(30.0) * d(col("polysyllables"))
            / d(col("sentences"))) + 3.1291, 4).as("smog"))
        .orderBy("lang")
    }),

    // ---- Guiraud R + Herdan C lexical richness --------------------------------
    // R = V/√N (the length-corrected TTR) and C = ln V / ln N (the
    // log-log richness slope) per language over the token frequency
    // table — the shuffle scales with vocabulary, not documents.
    "llm_lexical_richness" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(toks).as("token"))
      val freq = tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      freq.groupBy("lang")
        .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("vocab"))
        .select(col("lang"), col("n_tokens"), col("vocab"),
          round(d(col("vocab")) / sqrt(d(col("n_tokens"))), 6).as("guiraud_r"),
          round(log(d(col("vocab"))) / log(d(col("n_tokens"))), 6)
            .as("herdan_c"))
        .orderBy("lang")
    }),

    // ---- Honoré's statistic -----------------------------------------------------
    // R = 100·ln(N)·V/(V − V₁) — hapax-sensitive richness (blows up as
    // everything becomes hapax; guarded to NULL at V₁ = V). Exact
    // integer N/V/V₁, one ln, one division, 4dp.
    "llm_honore_r" -> ((s, dir) => {
      // frequency spectrum rolls up from the shared unigram ledger
      // (r10 verdict item 6) — no fresh corpus tokenize
      val freq = graft.tools.TokenArtifacts.byLang(s, dir)
        .withColumnRenamed("tok", "token")
      freq.groupBy("lang")
        .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("v1"))
        .select(col("lang"), col("n_tokens"), col("vocab"), col("v1"),
          when(col("v1") < col("vocab"),
            round(lit(100.0) * log(d(col("n_tokens"))) * d(col("vocab"))
              / d(col("vocab") - col("v1")), 4)).as("honore_r"))
        .orderBy("lang")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "llm_ari" -> s"""
      |WITH doc AS (SELECT lang,
      |    CAST(len($duckToks) AS BIGINT) AS w,
      |    $nSentSql AS sent,
      |    CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
      |      AS BIGINT) AS chars
      |  FROM documents),
      |f AS (SELECT * FROM doc WHERE w >= 1)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(chars) AS BIGINT) AS chars,
      |  CAST(sum(w) AS BIGINT) AS words,
      |  CAST(sum(sent) AS BIGINT) AS sentences,
      |  round(4.71 * CAST(sum(chars) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
      |    + 0.5 * CAST(sum(w) AS DOUBLE) / CAST(sum(sent) AS DOUBLE)
      |    - 21.43, 4) AS ari
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_smog" -> s"""
      |WITH doc AS (SELECT lang,
      |    CAST(len($duckToks) AS BIGINT) AS w,
      |    $nSentSql AS sent,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> length(regexp_replace(x, '[aeiouyAEIOUY]+', '#', 'g'))
      |         - length(regexp_replace(x, '[aeiouyAEIOUY]+', '', 'g')) >= 3))
      |      AS BIGINT) AS poly
      |  FROM documents),
      |f AS (SELECT * FROM doc WHERE w >= 1)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(poly) AS BIGINT) AS polysyllables,
      |  CAST(sum(sent) AS BIGINT) AS sentences,
      |  round(1.0430 * sqrt(30.0 * CAST(sum(poly) AS DOUBLE)
      |    / CAST(sum(sent) AS DOUBLE)) + 3.1291, 4) AS smog
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_lexical_richness" -> s"""
      |WITH tok AS (SELECT lang, unnest($duckToks) AS token
      |  FROM documents),
      |freq AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY 1, 2)
      |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS vocab,
      |  round(CAST(count(*) AS DOUBLE)
      |    / sqrt(CAST(sum(cnt) AS DOUBLE)), 6) AS guiraud_r,
      |  round(ln(CAST(count(*) AS DOUBLE))
      |    / ln(CAST(sum(cnt) AS DOUBLE)), 6) AS herdan_c
      |FROM freq GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_honore_r" -> s"""
      |WITH tok AS (SELECT lang, unnest($duckToks) AS token
      |  FROM documents),
      |freq AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY 1, 2),
      |a AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS vocab,
      |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
      |  FROM freq GROUP BY lang)
      |SELECT lang, n_tokens, vocab, v1,
      |  CASE WHEN v1 < vocab
      |       THEN round(100.0 * ln(CAST(n_tokens AS DOUBLE))
      |         * CAST(vocab AS DOUBLE) / CAST(vocab - v1 AS DOUBLE), 4)
      |  END AS honore_r
      |FROM a ORDER BY lang""".stripMargin)
}
