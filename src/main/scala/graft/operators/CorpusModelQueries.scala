package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — corpus-modelling analytics: train/test n-gram novelty (the
  * memorization-risk complement of `llm_contamination_rate`),
  * and vocabulary growth over corpus deciles (Heaps'-law curve); the
  * batch's ANN codebook cell-occupancy audit lives in [[AnnQueries]].
  *
  * Determinism notes: splits use the shared [[hash60]] bucket (the SAME
  * assignment as `llm_split_train` — a drifted copy would silently
  * evaluate novelty against a different holdout than the one the split
  * query reports); grams are md5 of the 5-token window (identical
  * md5(concat) on both engines); all rates are single divisions of
  * exact integers or exact-decimal sums.
  */
object CorpusModelQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- train→test n-gram novelty --------------------------------------
    // For every TEST-split document (hash60 bucket ≥ 95, llm_split_train's
    // own assignment): the fraction of its distinct 5-gram shingles never
    // seen in the TRAIN split (bucket < 90) — high novelty = the eval
    // measures generalization, low = it measures memorization. Gram
    // tables join on the md5 gram key (keyed equi-join, one shuffle
    // each side); the test side is a 5% hash slice of the corpus by
    // construction, so the join's probe side shrinks 20× before any
    // work happens.
    "llm_ngram_novelty" -> ((s, dir) => {
      // r14: per-doc DISTINCT 5-gram sets straight from the codegen'd
      // WordNGramSet kernel (the transform(sequence(...)) form
      // interpreted its slice+join lambda per gram), md5'd after the
      // explode — distinct-then-hash equals hash-then-distinct up to
      // md5 collisions between distinct 5-grams within one doc
      // (negligible for a 128-bit digest, but NOT a property a weaker
      // or truncated hash would inherit — r14 ADVICE), so the old
      // corpus-wide `.distinct()` exchange over every (doc, gram)
      // occurrence is gone.
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          (hash60(col("doc_id").cast("string")) % 100).as("bucket"),
          explode_outer(
            graft.functions.TextNGrams.mkWordNGramSet(col("text"), 5)).as("gs"))
        .where(col("gs").isNotNull)
        .select(col("doc_id"), col("lang"), col("bucket"),
          md5(col("gs")).as("g"))
      val train = grams.where(col("bucket") < 90)
        .select(col("g").as("tg")).distinct()
      grams.where(col("bucket") >= 95)
        .join(train, col("g") === col("tg"), "left")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_grams"),
          count_if(col("tg").isNull).as("n_unseen"))
        .withColumn("novelty",
          col("n_unseen").cast(DoubleType) / col("n_grams"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          (sum(round(col("novelty"), 8).cast(DecimalType(18, 8)))
            .cast(DoubleType) / count(lit(1))).as("mean_novelty"),
          count_if(col("n_unseen") === col("n_grams")).as("n_fully_novel"))
        .orderBy("lang")
    }),

    // ---- vocabulary growth (Heaps' law) ---------------------------------
    // Documents in doc_id order, cut into 10 equal deciles (exact
    // integer arithmetic on the rank); each token attributed to the
    // decile of its FIRST occurrence; output = new-token count and
    // cumulative vocabulary per decile. The corpus-wide work is one
    // explode → min-agg keyed by token; the doc rank is GlobalRank's
    // two-pass range-partitioned row_number (range statistics of
    // doc_id — exactly what a cluster-wide sort samples; never a
    // single-task window over every doc), which also carries the doc
    // count, so no separate scalar broadcast; the prefix-sum window
    // runs over ≤10 rows.
    "llm_vocab_growth" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ranked = GlobalRank.withSeqAndCount(
          docs.select(col("doc_id"), toks.as("tk")),
          "rk", "n_docs", Seq.empty, Seq(col("doc_id")))
        .withColumn("decile",
          expr("CAST((rk - 1) * 10 DIV n_docs AS INT) + 1"))
      val firsts = ranked.select(col("decile"), explode(col("tk")).as("tok"))
        .groupBy("tok").agg(min(col("decile")).as("first_decile"))
      firsts.groupBy("first_decile").agg(count(lit(1)).as("new_tokens"))
        .select(col("first_decile").as("decile"), col("new_tokens"),
          sum(col("new_tokens")).over(Window.orderBy("first_decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum_vocab"))
        .orderBy("decile")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_ngram_novelty" -> s"""
      |WITH d AS (SELECT doc_id, lang, $duckToks AS tk,
      |    ${hash60Sql("doc_id")} % 100 AS bucket
      |  FROM documents WHERE len($duckToks) >= 5),
      |g AS (SELECT DISTINCT doc_id, lang, bucket,
      |    md5(array_to_string(list_slice(tk, i, i + 4), ' ')) AS g
      |  FROM d, unnest(generate_series(1, len(tk) - 4)) AS u(i)),
      |pd AS (SELECT te.doc_id, te.lang, count(*) AS n_grams,
      |    count(*) FILTER (tr.tg IS NULL) AS n_unseen
      |  FROM (SELECT doc_id, lang, g FROM g WHERE bucket >= 95) te
      |  LEFT JOIN (SELECT DISTINCT g AS tg FROM g WHERE bucket < 90) tr
      |    ON te.g = tr.tg
      |  GROUP BY te.doc_id, te.lang)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CAST(round(CAST(n_unseen AS DOUBLE) / n_grams, 8)
      |    AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS mean_novelty,
      |  CAST(count(*) FILTER (n_unseen = n_grams) AS BIGINT) AS n_fully_novel
      |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_vocab_growth" -> s"""
      |WITH nd AS (SELECT count(*) AS n_docs FROM documents),
      |rk AS (SELECT doc_id, $duckToks AS tk,
      |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rk
      |  FROM documents),
      |dd AS (SELECT CAST((rk - 1) * 10 // (SELECT n_docs FROM nd) AS INT) + 1 AS decile,
      |    unnest(tk) AS tok FROM rk),
      |f AS (SELECT tok, min(decile) AS first_decile FROM dd GROUP BY tok),
      |pd AS (SELECT first_decile AS decile, CAST(count(*) AS BIGINT) AS new_tokens
      |  FROM f GROUP BY first_decile)
      |SELECT decile, new_tokens,
      |  CAST(sum(new_tokens) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
      |FROM pd ORDER BY decile""".stripMargin
  )
}
