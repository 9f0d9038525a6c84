package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils.{QFn, duckToks, hash60, hash60Sql, nTok, toks}
import graft.sources.Tables

/** Training-run preparation operators (round 2, batch 4): sequence
  * packing, shard assignment, train/valid/test splitting and
  * lexical-entropy quality scoring — the last mile between a curated
  * corpus and a training job (the batch's embedding quantization audit
  * lives in [[AnnQueries]]).
  *
  * Scale notes (100 TB):
  *  - `llm_pack_sequences` packs per LANGUAGE, not globally — the
  *    cumulative token count that drives concat-and-chunk packing is
  *    GlobalRank's distributed running sum (a 5-group partitioned
  *    window would pin packing at 5 tasks; at 100 TB the partition
  *    key would be the shard: same plan, finer groupsHint). No global
  *    ordering anywhere.
  *  - `llm_shard_assign` / `llm_split_train` are map-only hash
  *    assignments followed by catalog-bounded aggregations (16 shards /
  *    3×|langs| strata) — the canonical "write N balanced outputs"
  *    planning step, embarrassingly parallel at any size.
  *  - `llm_doc_entropy` shuffles on (doc_id, token) like tf-idf —
  *    corpus-linear with map-side partial aggregation; per-term
  *    contributions are rounded then summed as decimals so the result
  *    is independent of partitioning and matches DuckDB bit-for-bit.
  */
object TrainPrepQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- concat-and-chunk sequence packing (capacity 2048) -------------
    // GPT-style packing: per language, documents are concatenated in
    // doc_id order and the token stream is cut into fixed 2048-token
    // context windows. Each doc reports the chunk range it lands in
    // ([first_chunk, last_chunk] in its language's stream) — the exact
    // bookkeeping a data loader needs to map chunks back to documents.
    // All integer arithmetic on a per-lang running sum; chunk ids are
    // floor divisions of non-negative longs (exact in double well below
    // 2^53).
    "llm_pack_sequences" -> ((s, dir) =>
      // per-lang running token count over the corpus-scaled documents:
      // GlobalRank's distributed running sum (5 langs), not a 5-task
      // partitioned window (at 100 TB the key would be the shard —
      // same plan, finer hint)
      GlobalRank.withRunningSums(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
          .where(col("n_tok") >= 1),
        Seq((col("n_tok"), "cum", "__ps_tot")),
        Seq("lang"), Seq(col("doc_id").asc), groupsHint = 5)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          floor((col("cum") - col("n_tok")) / 2048.0).cast("long").as("first_chunk"),
          floor((col("cum") - 1) / 2048.0).cast("long").as("last_chunk"))
        .orderBy("doc_id")),

    // ---- balanced shard assignment (16 shards) --------------------------
    // Deterministic md5 shard of every doc plus the balance report
    // (docs/tokens/bytes per shard and each shard's share of the
    // corpus) that decides whether the sharding key needs salting
    // before the 100 TB write.
    "llm_shard_assign" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perShard = Tables.documents(s, dir)
        .select((hash60(col("doc_id").cast("string")) % 16).as("shard"),
          nTok.as("n_tok"), col("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum("n_chars").as("n_chars"))
      // corpus total as a window over the 16-row aggregate — NOT
      // agg + crossJoin, which would re-execute the whole scan +
      // tokenization subtree a second time (Spark shares no common
      // subplans across the two sides)
      perShard
        .withColumn("tot_docs", sum("n_docs").over(Window.partitionBy()))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_chars"),
          round(col("n_docs").cast("double") / col("tot_docs"), 6)
            .as("doc_share"))
        .orderBy("shard")
    }),

    // ---- train/valid/test split (90/5/5) --------------------------------
    // The reproducible holdout split: bucket = md5(doc_id) % 100,
    // train < 90 <= valid < 95 <= test, reported per (split, lang) with
    // doc and token counts. Map-only assignment; the same doc lands in
    // the same split on any cluster, any partitioning, any day.
    "llm_split_train" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), nTok.as("n_tok"),
          (hash60(col("doc_id").cast("string")) % 100).as("bucket"))
        .select(col("lang"), col("n_tok"),
          when(col("bucket") < 90, lit("train"))
            .when(col("bucket") < 95, lit("valid"))
            .otherwise(lit("test")).as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split", "lang")
    }),

    // ---- lexical entropy / type-token ratio quality score ---------------
    // Token-unigram Shannon entropy and type-token ratio per document —
    // the cheap repetitive-junk detector (boilerplate and keyword spam
    // score near-zero entropy; natural prose lands near log2(n_types)).
    // entropy = log2(n) - Σ c·log2(c) / n over term frequencies c; each
    // term is rounded to 6 places THEN summed as decimal(18,6), making
    // the sum exact and order-free (a raw double Σ would depend on
    // partitioning and diverge from DuckDB in the last ulp).
    "llm_doc_entropy" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id")
        .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"),
          sum(round(col("c") * log2(col("c")), 6).cast(DecimalType(18, 6)))
            .as("s_clog"))
        .select(col("doc_id"), col("n_tok"), col("n_types"),
          round(col("n_types").cast("double") / col("n_tok"), 4).as("ttr"),
          round(log2(col("n_tok")) -
            col("s_clog").cast("double") / col("n_tok"), 4).as("entropy"))
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_pack_sequences" ->
      s"""WITH per_doc AS (SELECT doc_id, lang,
        |    CAST(len($duckToks) AS BIGINT) AS n_tok
        |  FROM documents),
        |cum AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM per_doc WHERE n_tok >= 1)
        |SELECT doc_id, lang, n_tok,
        |  CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS first_chunk,
        |  CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS last_chunk
        |FROM cum ORDER BY doc_id""".stripMargin,

    "llm_shard_assign" ->
      s"""WITH per_shard AS (SELECT
        |    ${hash60Sql("doc_id")} % 16 AS shard,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len($duckToks)) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY shard),
        |totals AS (SELECT sum(n_docs) AS tot_docs FROM per_shard)
        |SELECT shard, n_docs, n_tokens, n_chars,
        |  round(CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE), 6) AS doc_share
        |FROM per_shard CROSS JOIN totals ORDER BY shard""".stripMargin,

    "llm_split_train" ->
      s"""WITH tagged AS (SELECT lang,
        |    CAST(len($duckToks) AS BIGINT) AS n_tok,
        |    CASE WHEN ${hash60Sql("doc_id")} % 100 < 90 THEN 'train'
        |         WHEN ${hash60Sql("doc_id")} % 100 < 95 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM tagged GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    "llm_doc_entropy" ->
      s"""WITH toks AS (SELECT doc_id,
        |    unnest($duckToks) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, tok),
        |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    sum(CAST(round(c * log2(c), 6) AS DECIMAL(18,6))) AS s_clog
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tok, n_types,
        |  round(CAST(n_types AS DOUBLE) / n_tok, 4) AS ttr,
        |  round(log2(n_tok) - CAST(s_clog AS DOUBLE) / n_tok, 4) AS entropy
        |FROM per ORDER BY doc_id""".stripMargin
  )
}
