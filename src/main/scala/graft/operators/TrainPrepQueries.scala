package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryUtils.{QFn, duckToks, hash60, nTok, toks}
import graft.sources.Tables

/** Training-run preparation operators (round 2, batch 4): sequence
  * packing, shard assignment, train/valid/test splitting, embedding
  * quantization, and lexical-entropy quality scoring — the last mile
  * between a curated corpus and a training job.
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
  *  - `llm_emb_quantize` is purely per-row array arithmetic (no shuffle
  *    at all before the final ORDER BY); the int8 scheme is the
  *    standard symmetric max-abs scalar quantization used to shrink
  *    ANN indexes 4×.
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

    // ---- int8 scalar quantization audit ---------------------------------
    // Symmetric max-abs int8 quantization of each embedding
    // (q_i = round(x_i / scale), scale = max|x| / 127) with the
    // per-vector worst-case reconstruction error — the audit run before
    // swapping an ANN index to int8 storage. Every step is elementwise
    // IEEE double arithmetic ((double)float casts are exact; round is
    // floor(x + 0.5) on both engines), and max over elements is
    // order-free, so the unrounded values already agree bit-for-bit
    // cross-engine; the r6 rounding is belt-and-braces.
    "llm_emb_quantize" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .withColumn("maxabs",
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => greatest(acc, abs(x.cast("double")))))
        .where(col("maxabs") > 0)
        // NB the raw scale column must NOT be named "scale": the output
        // alias round(scale_raw, 6) AS scale would capture the lambda's
        // col("scale") via lateral-column-alias resolution, silently
        // quantizing against the ROUNDED scale (measured: max_err
        // 0.001157 vs the oracle's 0.001149)
        .withColumn("scale_raw", col("maxabs") / 127)
        .select(col("vec_id"), size(col("embedding")).cast("long").as("n_dim"),
          round(col("scale_raw"), 6).as("scale"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => greatest(acc,
              abs(x.cast("double") -
                floor(x.cast("double") / col("scale_raw") + 0.5) * col("scale_raw")))), 6)
            .as("max_err"))
        .orderBy("vec_id")
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
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard,
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
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'train'
        |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 95 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM tagged GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    "llm_emb_quantize" ->
      """WITH m AS (SELECT vec_id, embedding,
        |    CAST(len(embedding) AS BIGINT) AS n_dim,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings),
        |sc AS (SELECT vec_id, embedding, n_dim, maxabs / 127 AS scale
        |  FROM m WHERE maxabs > 0)
        |SELECT vec_id, n_dim, round(scale, 6) AS scale,
        |  round(list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)
        |             - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale))), 6) AS max_err
        |FROM sc ORDER BY vec_id""".stripMargin,

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
