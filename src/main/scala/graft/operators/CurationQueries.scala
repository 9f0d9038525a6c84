package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N (continued) — corpus-curation operators a training-data pipeline
  * runs between raw ingest and dedup: benchmark decontamination,
  * repetition-based quality signals (the Gopher/C4 rules), text
  * normalization, and canonical-document selection per duplicate group.
  *
  * Scale notes (100 TB):
  *  - decontamination is a gram-keyed equi-join: the corpus side
  *    explodes to (gram, doc) pairs and shuffles by gram; the benchmark
  *    side is a FIXED-SIZE gram set (benchmarks don't grow with the
  *    corpus), so AQE broadcasts it and the corpus pass is map-side —
  *    the canonical production shape. No full-corpus structure is ever
  *    collected or broadcast.
  *  - repetition metrics are one explode + one two-level aggregation
  *    keyed by doc — embarrassingly parallel, partial-agg friendly.
  *  - normalization is map-only (regex chains fused into one
  *    whole-stage-codegen projection over the scan).
  *  - canonical selection is exact dedup's hash-groupBy with a max_by
  *    tiebreak — one shuffle keyed by content hash.
  */
object CurationQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- benchmark decontamination (13-token-gram overlap) -------------
    // The held-out "benchmark" set is the deterministic doc_id % 97 == 0
    // slice; a training doc is contaminated if it shares any 13-token
    // window with any benchmark doc. 13 contiguous tokens is the
    // published decontamination granularity (GPT-3 appendix C / PaLM);
    // the check is exact n-gram membership, not fuzzy.
    "llm_decontaminate" -> ((s, dir) => {
      // r14: gram generation via the codegen'd WordNGramSet kernel (one
      // tight loop per row; the transform(sequence(...)) form interpreted
      // its slice+concat_ws lambda per element) — and the kernel emits
      // the per-doc DISTINCT gram set directly, so the old corpus-wide
      // `.distinct()` exchange over every (doc_id, gram) occurrence is
      // gone; the gram stream leaves the map side already deduplicated.
      // Same tokenization (split ' ', empties dropped), same windows,
      // same space join — the (doc_id, gram) set is bit-identical.
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), explode_outer(
          graft.functions.TextNGrams.mkWordNGramSet(col("text"), 13)).as("g"))
        .where(col("g").isNotNull)
      val benchGrams = grams.where(col("doc_id") % 97 === 0)
        .select(col("g")).distinct()
      grams.where(col("doc_id") % 97 =!= 0)
        .join(benchGrams, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),

    // ---- repetition quality signals (Gopher-style) ---------------------
    // Per doc: token count, distinct-token ratio, most-frequent-token
    // fraction, duplicate-bigram fraction. All ratios rounded to 4
    // decimals (repo determinism convention).
    //
    // MAP-ONLY by design: every signal is a per-row function of the
    // token array, so there is no reason to explode tokens into rows
    // and shuffle on (doc_id, token). The most-frequent-token count is
    // the longest run of equal elements in the SORTED token array,
    // computed with an aggregate() HOF over a (prev, run, best) struct
    // accumulator — one pass per row, no exchange anywhere in the plan.
    // At 100 TB this is the difference between a scan-shaped job and a
    // corpus-sized token shuffle.
    "llm_quality_repetition" -> ((s, dir) => {
      val tokRows = Tables.documents(s, dir)
        .select(col("doc_id"),
          toks.as("tok"))
        .where(size(col("tok")) >= 2)
        .select(col("doc_id"), col("tok"),
          transform(sequence(lit(0), size(col("tok")) - 2),
            i => concat_ws(" ", slice(col("tok"), i + 1, lit(2)))).as("big"))
      tokRows
        .select(col("doc_id"),
          size(col("tok")).cast("long").as("n_tok"),
          size(array_distinct(col("tok"))).as("d_tok"),
          aggregate(array_sort(col("tok")),
            struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
            (acc, x) => {
              val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1L))
              struct(x.as("prev"), run.as("run"),
                greatest(acc("best"), run).as("best"))
            },
            acc => acc("best")).as("top_c"),
          size(col("big")).as("n_big"),
          size(array_distinct(col("big"))).as("d_big"))
        .select(col("doc_id"), col("n_tok"),
          round(col("d_tok").cast("double") / col("n_tok"), 4)
            .as("distinct_ratio"),
          round(col("top_c").cast("double") / col("n_tok"), 4)
            .as("top_token_frac"),
          round(lit(1.0) - col("d_big").cast("double") / col("n_big"), 4)
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // ---- text normalization (map-only) ---------------------------------
    // lower → strip non-[a-z0-9 ] → collapse runs of spaces → trim; the
    // whole chain fuses into one codegen'd projection over the scan.
    "llm_normalize" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ")).as("norm_text"))
        .withColumn("n_tokens",
          when(col("norm_text") === "", lit(0))
            .otherwise(size(split(col("norm_text"), " "))).cast("long"))
        .orderBy("doc_id")
    }),

    // ---- BM25 relevance scoring (fixed query terms) ---------------------
    // Per (doc, term) BM25 partial score for the query {data, table, row}
    // with k1=1.2, b=0.75. Deliberately emitted per term — summing the
    // partials would be a cross-row DOUBLE sum whose accumulation order
    // is nondeterministic; per-term rows keep every float op row-local
    // and IEEE-reproducible (the caller sums after rounding if they want
    // a total). Shapes (r12): per-doc tf for the 3 fixed terms is
    // computed MAP-ONLY (size(filter(tk, = term)) per term — no
    // corpus-token explode+shuffle; the pre-r12 form shuffled every
    // token of every doc to count 3 terms), df comes from the
    // persisted document-frequency ledger as a 3-row broadcast, and
    // n_docs/avgdl ride in on a single-row cross join.
    "llm_bm25" -> ((s, dir) => {
      val terms = Seq("data", "table", "row")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          toks.as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("double").as("dl"),
          col("tk"))
      val globals = docs.agg(count(lit(1)).as("n_docs"),
        avg(col("dl")).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), col("dl"),
          explode(array(terms.map(t => struct(lit(t).as("t"),
            size(filter(col("tk"), x => x === lit(t))).cast("long")
              .as("tf"))): _*)).as("e"))
        .select(col("doc_id"), col("dl"),
          col("e.t").as("t"), col("e.tf").as("tf"))
        .where(col("tf") > 0)
      val dfreq = graft.tools.TokenArtifacts.dfGlobal(s, dir)
        .where(col("tok").isin(terms: _*))
        .select(col("tok").as("t"), col("ndoc").as("df"))
      tf.join(broadcast(dfreq), "t").crossJoin(broadcast(globals))
        .select(col("doc_id"), col("t").as("term"), col("tf"),
          round(
            log((col("n_docs").cast("double") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)) + lit(1.0)) *
            ((col("tf") * lit(2.2))
              / (col("tf") + lit(1.2) *
                 (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))),
            4).as("bm25"))
        .orderBy("doc_id", "term")
    }),

    // ---- per-label embedding centroid -----------------------------------
    // Element-wise mean of the embedding vectors per label, emitted in
    // LONG form (label, pos, mean) — no array output (driver comparator)
    // and no vector re-assembly shuffle. posexplode + one keyed agg;
    // partial aggregation makes the map side emit 64 partial sums per
    // (label, partition), so the shuffle is label-cardinality-bounded.
    "llm_centroid" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(round(avg(col("v").cast("double")), 4).as("mean_v"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("pos").cast("long").as("pos"),
          col("mean_v"), col("n_vecs"))
        .orderBy("label", "pos")
    }),

    // ---- canonical-document selection per exact-dup group --------------
    // Exact dedup keyed by md5(text), keeping ONE canonical row per
    // group: the longest document, ties broken by smallest doc_id —
    // max_by over a (n_chars, -doc_id) tuple, one shuffle, no window.
    "llm_dedup_canonical" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(
          max_by(col("doc_id"),
            struct(col("n_chars"), -col("doc_id"))).as("keep_id"),
          count(lit(1)).as("n_copies"),
          max("n_chars").as("max_chars"))
        .orderBy("text_md5")
    }))

  val oracles: Map[String, String] = Map(
    "llm_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $duckToks tok
        |          FROM documents),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |        generate_series(1, len(tok) - 12),
        |        i -> array_to_string(tok[i:i+12], ' '))) AS g
        |      FROM t WHERE len(tok) >= 13),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM g JOIN b USING (g)
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_quality_repetition" ->
      s"""WITH t AS (SELECT doc_id, $duckToks tok
        |          FROM documents),
        |tb AS (SELECT doc_id, tok, list_transform(generate_series(1, len(tok) - 1),
        |         i -> tok[i] || ' ' || tok[i+1]) big
        |       FROM t WHERE len(tok) >= 2),
        |e AS (SELECT doc_id, len(tok) n_tok, len(big) n_big,
        |        len(list_distinct(big)) d_big, unnest(tok) AS tk
        |      FROM tb),
        |c AS (SELECT doc_id, n_tok, n_big, d_big, tk, count(*) c
        |      FROM e GROUP BY doc_id, n_tok, n_big, d_big, tk)
        |SELECT doc_id, n_tok,
        |  round(count(*) * 1.0 / n_tok, 4) AS distinct_ratio,
        |  round(max(c) * 1.0 / n_tok, 4) AS top_token_frac,
        |  round(1.0 - d_big * 1.0 / n_big, 4) AS dup_bigram_frac
        |FROM c GROUP BY doc_id, n_tok, n_big, d_big
        |ORDER BY doc_id""".stripMargin,

    "llm_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                      ' +', ' ', 'g')) AS norm_text,
        |  CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                      ' +', ' ', 'g')) = '' THEN 0
        |       ELSE len(string_split(trim(regexp_replace(regexp_replace(lower(text),
        |                      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '))
        |  END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_bm25" ->
      s"""WITH d AS (SELECT doc_id,
        |    CAST(len($duckToks) AS DOUBLE) AS dl
        |  FROM documents),
        |g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest($duckToks) AS t
        |        FROM documents)
        |  WHERE t IN ('data', 'table', 'row')
        |  GROUP BY doc_id, t),
        |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t)
        |SELECT tf.doc_id, tf.t AS term, tf.tf,
        |  round(
        |    ln((CAST(g.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |    ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl / g.avgdl))),
        |    4) AS bm25
        |FROM tf JOIN df USING (t) JOIN d ON tf.doc_id = d.doc_id CROSS JOIN g
        |ORDER BY tf.doc_id, term""".stripMargin,

    "llm_centroid" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS pos,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS mean_v,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        |GROUP BY label, i
        |ORDER BY label, pos""".stripMargin,

    "llm_dedup_canonical" ->
      """WITH r AS (SELECT md5(text) AS text_md5, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY md5(text)
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY md5(text)) AS n_copies,
        |    max(n_chars) OVER (PARTITION BY md5(text)) AS max_chars
        |  FROM documents)
        |SELECT text_md5, doc_id AS keep_id, n_copies, max_chars
        |FROM r WHERE rk = 1 ORDER BY text_md5""".stripMargin)
}
