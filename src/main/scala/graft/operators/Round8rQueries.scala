package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils._
import graft.sources.Tables

/** Round-8 eighteenth wave: corpus text profiling II — mean segmental
  * TTR (the length-robust diversity measure plain TTR is not), a
  * Dale-Chall-style difficult-word grade against a corpus-derived
  * easy list, and the token-length / syllable-count spectra.
  *
  * Determinism: segments are integer position buckets (pos div 50);
  * every share is an exact integer ratio; per-segment TTRs are
  * 8dp-rounded then decimal-summed (the hapax-mean idiom); the easy
  * list is the EXACT top-100 by (count desc, token) — a deterministic
  * self-contained substitute for the external Dale-Chall word list.
  */
object Round8rQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- mean segmental type-token ratio -----------------------------------
    // MSTTR-50 per language: docs chop into consecutive 50-token
    // segments (integer pos div 50, partial tails dropped), each full
    // segment contributes V_seg/50, languages average the 8dp-rounded
    // segment TTRs — diversity comparable ACROSS lengths, unlike raw
    // TTR (llm_ttr_by_lang). Shuffles scale with segment-distinct
    // tokens.
    "llm_msttr" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          posexplode(toks))
        .select(col("lang"), col("doc_id"),
          expr("pos div 50").as("seg"), col("col").as("token"),
          col("pos"))
      val segLen = tok.groupBy("lang", "doc_id", "seg")
        .agg(count(lit(1)).as("sl"))
        .where(col("sl") === 50)
      val vseg = tok.join(segLen, Seq("lang", "doc_id", "seg"))
        .groupBy("lang", "doc_id", "seg")
        .agg(count_distinct(col("token")).as("v"))
      vseg.groupBy("lang")
        .agg(count(lit(1)).as("n_segments"),
          sum(round(d(col("v")) / 50.0, 8).cast(DecimalType(28, 8)))
            .as("sttr"))
        .select(col("lang"), col("n_segments"),
          round(d(col("sttr")) / d(col("n_segments")), 6).as("msttr50"))
        .orderBy("lang")
    }),

    // ---- Dale-Chall-style difficult-word grade --------------------------------
    // Grade = 0.1579·(100·difficult/W) + 0.0496·(W/S) per language,
    // with the easy list = the corpus's own top-100 tokens by exact
    // (count desc, token) rank (deterministic stand-in for the
    // external 3k list; broadcast, catalog-sized). +3.6365 when the
    // difficult share exceeds 5% (the published adjustment), decided
    // by the integer cross-compare 20·difficult > W.
    "llm_dale_chall" -> ((s, dir) => {
      val tokRows = Tables.documents(s, dir)
        .select(col("lang"),
          nSent.as("sent"),
          explode(toks).as("token"))
      val easy = tokRows.groupBy("token").agg(count(lit(1)).as("cnt"))
      val top = GlobalRank.withSeq(easy, "rn",
          Seq(col("cnt").desc, col("token").asc))
        .where(col("rn") <= 100).select(col("token").as("etok"))
      val flag = tokRows.join(broadcast(top),
          col("token") === col("etok"), "left")
        .select(col("lang"), col("sent"),
          when(col("etok").isNull, 1L).otherwise(0L).as("diff"))
      // sentence enders were exploded per token; recover per-doc
      // sentence totals by summing ONE ender count per doc instead —
      // so sentences ride a separate doc-level aggregate
      val sents = Tables.documents(s, dir)
        .select(col("lang"),
          nSent.as("sent"),
          graft.functions.TextNGrams.mkTokenCount(col("text"))
            .cast("long").as("w"))
        .where(col("w") >= 1)
        .groupBy("lang")
        .agg(sum("sent").as("sentences"))
      flag.groupBy("lang")
        .agg(count(lit(1)).as("words"), sum("diff").as("difficult"))
        .join(sents, Seq("lang"))
        .select(col("lang"), col("words"), col("difficult"), col("sentences"),
          round(lit(0.1579) * (lit(100.0) * d(col("difficult"))
              / d(col("words")))
            + lit(0.0496) * d(col("words")) / d(col("sentences"))
            + when(col("difficult") * 20 > col("words"), lit(3.6365))
              .otherwise(lit(0.0)), 4).as("dc_grade"))
        .orderBy("lang")
    }),

    // ---- token-length spectrum ---------------------------------------------------
    // Character-length histogram of tokens per language (share = exact
    // integer ratio) — the script/tokenizer-drift profile
    // (llm_length_buckets buckets DOCS; this buckets TOKENS).
    "llm_word_len_dist" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(toks).as("token"))
        .select(col("lang"), length(col("token")).cast("long").as("len"))
      val tot = tok.groupBy(col("lang").as("l2"))
        .agg(count(lit(1)).as("nt"))
      tok.groupBy("lang", "len").agg(count(lit(1)).as("n_tokens"))
        .join(broadcast(tot), col("lang") === col("l2"))
        .select(col("lang"), col("len"), col("n_tokens"),
          round(d(col("n_tokens")) / d(col("nt")), 6).as("share"))
        .orderBy("lang", "len")
    }),

    // ---- syllable-count spectrum ----------------------------------------------------
    // Vowel-group (syllable proxy) histogram of tokens per language,
    // counts ≥5 clamped into one bucket — the prosodic profile the
    // readability indices aggregate away.
    "llm_syllable_dist" -> ((s, dir) => {
      val vg: Column => Column = t =>
        length(regexp_replace(t, lit("[aeiouyAEIOUY]+"), lit("#"))) -
          length(regexp_replace(t, lit("[aeiouyAEIOUY]+"), lit("")))
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(toks).as("token"))
        .select(col("lang"), least(vg(col("token")).cast("long"), lit(5L))
          .as("syl"))
      val tot = tok.groupBy(col("lang").as("l2"))
        .agg(count(lit(1)).as("nt"))
      tok.groupBy("lang", "syl").agg(count(lit(1)).as("n_tokens"))
        .join(broadcast(tot), col("lang") === col("l2"))
        .select(col("lang"), col("syl"), col("n_tokens"),
          round(d(col("n_tokens")) / d(col("nt")), 6).as("share"))
        .orderBy("lang", "syl")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "llm_msttr" -> s"""
      |WITH t AS (SELECT lang, doc_id, $duckToks AS tk FROM documents),
      |tok AS (SELECT lang, doc_id, (i - 1) // 50 AS seg, tk[i] AS token
      |  FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
      |seglen AS (SELECT lang, doc_id, seg FROM tok
      |  GROUP BY 1, 2, 3 HAVING count(*) = 50),
      |vseg AS (SELECT t.lang, t.doc_id, t.seg,
      |    CAST(count(DISTINCT t.token) AS BIGINT) AS v
      |  FROM tok t JOIN seglen USING (lang, doc_id, seg)
      |  GROUP BY 1, 2, 3)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_segments,
      |  round(CAST(sum(CAST(round(CAST(v AS DOUBLE) / 50.0, 8)
      |      AS DECIMAL(28,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS msttr50
      |FROM vseg GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_dale_chall" -> s"""
      |WITH tok AS (SELECT lang, unnest($duckToks) AS token
      |  FROM documents),
      |cnts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY 1),
      |top AS (SELECT token AS etok FROM (
      |    SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rn
      |    FROM cnts) x WHERE rn <= 100),
      |flag AS (SELECT t.lang,
      |    CASE WHEN top.etok IS NULL THEN 1 ELSE 0 END AS diff
      |  FROM tok t LEFT JOIN top ON t.token = top.etok),
      |w AS (SELECT lang, CAST(count(*) AS BIGINT) AS words,
      |    CAST(sum(diff) AS BIGINT) AS difficult
      |  FROM flag GROUP BY 1),
      |sents AS (SELECT lang, CAST(sum($nSentSql)
      |      AS BIGINT) AS sentences
      |  FROM documents
      |  WHERE len($duckToks) >= 1
      |  GROUP BY 1)
      |SELECT w.lang, w.words, w.difficult, sents.sentences,
      |  round(0.1579 * (100.0 * CAST(w.difficult AS DOUBLE)
      |      / CAST(w.words AS DOUBLE))
      |    + 0.0496 * CAST(w.words AS DOUBLE)
      |      / CAST(sents.sentences AS DOUBLE)
      |    + CASE WHEN w.difficult * 20 > w.words THEN 3.6365 ELSE 0.0 END,
      |    4) AS dc_grade
      |FROM w JOIN sents ON w.lang = sents.lang ORDER BY w.lang""".stripMargin,

    "llm_word_len_dist" -> s"""
      |WITH raw AS (SELECT lang, unnest($duckToks) AS token
      |  FROM documents),
      |tok AS (SELECT lang, CAST(length(token) AS BIGINT) AS len FROM raw),
      |tot AS (SELECT lang AS l2, CAST(count(*) AS BIGINT) AS nt
      |  FROM tok GROUP BY 1)
      |SELECT lang, len, CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(CAST(count(*) AS DOUBLE) / CAST(max(nt) AS DOUBLE), 6)
      |    AS share
      |FROM tok JOIN tot ON lang = l2
      |GROUP BY lang, len ORDER BY lang, len""".stripMargin,

    "llm_syllable_dist" -> s"""
      |WITH raw AS (SELECT lang, unnest($duckToks) AS token
      |  FROM documents),
      |tok AS (SELECT lang,
      |    least(CAST(length(regexp_replace(token, '[aeiouyAEIOUY]+', '#', 'g'))
      |      - length(regexp_replace(token, '[aeiouyAEIOUY]+', '', 'g'))
      |      AS BIGINT), 5) AS syl
      |  FROM raw),
      |tot AS (SELECT lang AS l2, CAST(count(*) AS BIGINT) AS nt
      |  FROM tok GROUP BY 1)
      |SELECT lang, syl, CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(CAST(count(*) AS DOUBLE) / CAST(max(nt) AS DOUBLE), 6)
      |    AS share
      |FROM tok JOIN tot ON lang = l2
      |GROUP BY lang, syl ORDER BY lang, syl""".stripMargin)
}
