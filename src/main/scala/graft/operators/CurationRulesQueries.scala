package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — curation-rules batch: the filter side of a training-data
  * pipeline. Everything upstream of dedup in a C4/RefinedWeb-style
  * curation stack is rule filtering with drop attribution — operators a
  * pipeline owner reads daily:
  *
  *  - `llm_filter_rules`: a FIRST-FAIL rule cascade (too-short → word
  *    length band → single-token repetition) with per-rule drop counts.
  *    Attribution is by cascade order, the way production filter
  *    reports are written (each doc counted once, under the first rule
  *    it fails — the marginal-drop table a rule owner tunes against).
  *  - `llm_source_blocklist`: derive a blocklist (bottom-4 sources by
  *    mean tokens/doc) and anti-join the corpus against it — the
  *    domain-blocklist shape, with the blocklist BROADCAST (it is
  *    source-cardinality, never corpus-cardinality).
  *  - `llm_dup_inflation`: per-source token inflation from exact
  *    duplicates — total vs unique-text token mass. The "how much am I
  *    paying to store/train on copies" audit that motivates dedup runs.
  *  - `fn_width_bucket`: equi-width bucketing via the `width_bucket`
  *    builtin, proven against first-principles integer arithmetic.
  *
  * Determinism (§7.2 conventions): every comparison is integer
  * cross-multiplied (no float thresholds — `ns*100 < 430*n_tok`, never
  * `ns/n_tok < 4.3`); the two reported ratios are single double
  * divisions of exact integers; totals are exact decimal sums.
  *
  * Scale (100 TB): the rule cascade is one explode→(doc,tok) partial
  * agg (corpus-linear, map-side combined) joined back to a map-only
  * per-doc projection on doc_id — no corpus broadcast; the blocklist
  * anti-join broadcasts a ≤|sources| frame; dup inflation shuffles on
  * (source, md5) with map-side combine. Nothing here is quadratic and
  * the only windows run over source-cardinality aggregates.
  */
object CurationRulesQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- first-fail rule cascade ----------------------------------------
    // Rules, in cascade order (integer arithmetic only):
    //   r1_short:   n_tok < 20
    //   r2_wordlen: mean word length outside [4.30, 5.00]
    //               (100·nonspace < 430·n_tok  OR  > 500·n_tok)
    //   r3_repeat:  most frequent token exceeds 20% of the doc
    //               (5·max_tok_count > n_tok)
    // Each doc lands in exactly one row: its first failed rule, or
    // 'z_retained'. The 'z_' prefix keeps retained last in rule order.
    "llm_filter_rules" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), nTok.as("n_tok"),
          length(regexp_replace(col("text"), " ", "")).as("ns"))
      val mx = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("mx"))
      base.join(mx, Seq("doc_id"))
        .select(
          when(col("n_tok") < 20, "r1_short")
            .when(col("ns") * 100 < col("n_tok") * 430 ||
              col("ns") * 100 > col("n_tok") * 500, "r2_wordlen")
            .when(col("mx") * 5 > col("n_tok"), "r3_repeat")
            .otherwise("z_retained").as("rule"))
        .groupBy("rule").agg(count(lit(1)).as("n_docs"))
        .orderBy("rule")
    }),

    // ---- source blocklist anti-join -------------------------------------
    // Blocklist = the 4 sources with the lowest mean tokens/doc (single
    // double division of exact integers; ties broken on source name).
    // The corpus is then anti-joined against the broadcast blocklist
    // and the survivors summarized per language.
    "llm_source_blocklist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), nTok.as("n_tok"))
      val perSrc = docs.groupBy("source")
        .agg(sum("n_tok").as("st"), count(lit(1)).as("n"))
        .select(col("source"),
          (col("st").cast(DoubleType) / col("n")).as("mean_tok"))
      // the window runs over |sources| rows (20 here) — bounded by the
      // source dimension, not the corpus
      val blocked = perSrc
        .withColumn("rk", row_number().over(
          Window.orderBy(col("mean_tok").asc, col("source").asc)))
        .where(col("rk") <= 4).select("source")
      docs.join(broadcast(blocked), Seq("source"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
        .orderBy("lang")
    }),

    // ---- exact-duplicate token inflation --------------------------------
    // Per source: doc/unique-text counts, total vs unique token mass,
    // and the share of tokens that are duplicate copies. Texts in one
    // md5 group are identical, so the group's unique mass is min(n_tok)
    // (= every member's n_tok). Shuffles once on (source, md5).
    "llm_dup_inflation" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("source"), md5(col("text")).as("h"), nTok.as("n_tok"))
        .groupBy("source", "h")
        .agg(count(lit(1)).as("c"), sum("n_tok").as("stot"),
          min("n_tok").as("rep_tok"))
        .groupBy("source")
        .agg(sum("c").as("n_docs"), count(lit(1)).as("n_uniq"),
          sum("stot").as("total_tok"), sum("rep_tok").as("uniq_tok"))
        .select(col("source"), col("n_docs"), col("n_uniq"),
          col("total_tok"), col("uniq_tok"),
          ((col("total_tok") - col("uniq_tok")).cast(DoubleType) /
            col("total_tok")).as("dup_share"))
        .orderBy("source")
    }),

    // ---- width_bucket equi-width histogram ------------------------------
    // width_bucket(l_quantity, 0, 50, 10): quantities are integral
    // 1..50, so bucket = q div 5 + 1 for q < 50 and the overflow
    // bucket 11 at q = 50 exactly — the oracle recomputes that from
    // first-principles integer division, proving the builtin's edge
    // semantics (upper bound exclusive → overflow bucket).
    "fn_width_bucket" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(width_bucket(col("l_quantity").cast(DoubleType),
            lit(0.0), lit(50.0), lit(10)).as("bucket"),
          col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          decSum(col("l_extendedprice")).as("sum_price"))
        .orderBy("bucket")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_filter_rules" -> s"""
      |WITH base AS (SELECT doc_id,
      |    len($duckToks) AS n_tok,
      |    length(replace(text, ' ', '')) AS ns
      |  FROM documents),
      |mx AS (SELECT doc_id, max(c) AS mx FROM (
      |    SELECT doc_id, tok, count(*) AS c
      |    FROM (SELECT doc_id, unnest($duckToks) AS tok FROM documents)
      |    GROUP BY doc_id, tok) GROUP BY doc_id),
      |cls AS (SELECT CASE
      |    WHEN n_tok < 20 THEN 'r1_short'
      |    WHEN ns * 100 < n_tok * 430 OR ns * 100 > n_tok * 500
      |      THEN 'r2_wordlen'
      |    WHEN mx * 5 > n_tok THEN 'r3_repeat'
      |    ELSE 'z_retained' END AS rule
      |  FROM base JOIN mx USING (doc_id))
      |SELECT rule, CAST(count(*) AS BIGINT) AS n_docs
      |FROM cls GROUP BY rule ORDER BY rule""".stripMargin,

    "llm_source_blocklist" -> s"""
      |WITH docs AS (SELECT doc_id, lang, source,
      |    len($duckToks) AS n_tok FROM documents),
      |per_src AS (SELECT source,
      |    CAST(sum(n_tok) AS DOUBLE) / count(*) AS mean_tok
      |  FROM docs GROUP BY source),
      |blocked AS (SELECT source FROM (
      |    SELECT source, row_number() OVER
      |      (ORDER BY mean_tok ASC, source ASC) AS rk FROM per_src)
      |  WHERE rk <= 4)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tok
      |FROM docs WHERE source NOT IN (SELECT source FROM blocked)
      |GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_dup_inflation" -> s"""
      |WITH g AS (SELECT source, md5(text) AS h, count(*) AS c,
      |    sum(len($duckToks)) AS stot,
      |    min(len($duckToks)) AS rep_tok
      |  FROM documents GROUP BY source, md5(text))
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_uniq,
      |  CAST(sum(stot) AS BIGINT) AS total_tok,
      |  CAST(sum(rep_tok) AS BIGINT) AS uniq_tok,
      |  CAST(sum(stot) - sum(rep_tok) AS DOUBLE) / sum(stot) AS dup_share
      |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "fn_width_bucket" ->
      """SELECT CASE WHEN l_quantity >= 50 THEN 11
        |    ELSE CAST(l_quantity AS BIGINT) // 5 + 1 END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
