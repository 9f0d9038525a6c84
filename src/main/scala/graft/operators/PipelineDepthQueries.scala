package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils.{QFn, duckToks, hash60, hash60Sql, nTok, toks}
import graft.functions.VectorFunctions.{vecDot, vecNorm}
import graft.sources.Tables

/** §2.N — round-3 training-pipeline depth additions.
  *
  * The operators a 100 TB curation pipeline runs between the ones the
  * surface already has: context-window chunking with stride
  * (`llm_chunk_stride`), hybrid-retrieval rank fusion
  * (`llm_rank_fusion`), winsorized quality statistics
  * (`llm_quality_winsorize`), mixture rebalancing to a target language
  * budget (`llm_mix_resample`), shared-prefix boilerplate detection
  * (`llm_boilerplate_prefix`), benchmark n-gram contamination
  * measurement (`llm_contamination_rate`), a revenue-concentration
  * Pareto profile (`win_pareto_decile`), and a schema-evolution
  * parquet read (`source_parquet_evolve`).
  *
  * Cross-engine rules are the house style: token slices and md5 grams
  * replayed verbatim in DuckDB, thresholds as exact integer compares
  * (never a float boundary), money through decimal partials, ranks
  * cast to BIGINT on both sides (Spark row_number is int32, DuckDB's
  * is int64 — the driver compare is dtype-strict).
  */
object PipelineDepthQueries extends graft.QueryFamily {

  private def scratch(s: SparkSession, kind: String, dir: String): String =
    graft.tools.Scratch.dir(s, kind, dir)

  /** Chunk table from a documents frame — THE llm_chunk_stride body,
    * factored so ScaleDryRun replays the shipped pipeline (not a copy)
    * at k× volume. */
  def chunkTable(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), toks.as("tk"))
      .withColumn("n", size(col("tk")))
      .withColumn("start",
        explode(sequence(lit(1), greatest(col("n"), lit(1)), lit(40))))
      .select(col("doc_id"),
        ((col("start") - lit(1)) / lit(40)).cast("int").as("chunk_idx"),
        slice(col("tk"), col("start"), lit(50)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tok"),
        array_join(col("chunk"), " ").as("chunk_text"))

  /** Contaminated benchmark doc_ids from a documents frame — THE
    * llm_contamination_rate hit set, factored for ScaleDryRun. */
  def contaminationHits(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r15: gram generation via the codegen'd WordNGramSet kernel (the
    // transform(sequence(...)) form interpreted its slice+join lambda
    // per gram — the same swap r14 made in llm_decontaminate). The
    // kernel emits the per-doc DISTINCT gram set; both consumers below
    // are set-shaped (train takes a corpus-wide distinct, the bench
    // side is a semi-join + distinct doc_id), so per-doc dedup cannot
    // change a row. md5 applied AFTER the explode keeps the join key
    // the same 16-byte digest as before — identical hit set.
    val grams = docs
      .select(col("doc_id"), explode_outer(
        graft.functions.TextNGrams.mkWordNGramSet(col("text"), 5)).as("gs"))
      .where(col("gs").isNotNull)
      .select(col("doc_id"), md5(col("gs")).as("g"))
    val train = grams.where(col("doc_id") % 97 =!= 0).select(col("g")).distinct()
    grams.where(col("doc_id") % 97 === 0)
      .join(train, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  val queries: Map[String, QFn] = Map(

    // ---- context-window chunking with stride ----------------------------
    // Every document split into 50-token windows starting every 40
    // tokens (10-token overlap) — the training-prep step that turns a
    // document corpus into model context windows. Map-only: one
    // explode per doc of ceil(n/40) chunk starts, no shuffle until the
    // presentation sort; at 100 TB this runs as a pure map stage and
    // the chunk table inherits the corpus partitioning.
    "llm_chunk_stride" -> ((s, dir) =>
      chunkTable(Tables.documents(s, dir)).orderBy("doc_id", "chunk_idx")),

    // ---- hybrid-retrieval rank fusion (RRF) -----------------------------
    // Reciprocal-rank fusion of two top-100 retrieval lists for one
    // query: dense (cosine to query vector 0) and sparse (normalized
    // term frequency of the query terms). Both lists are distributed
    // top-k (TakeOrderedAndProject) and the rank windows run over the
    // ≤100 survivors — never a corpus-wide window; fusing CUT-OFF
    // lists is also what production RRF does. Ranks cast to BIGINT
    // (dtype-strict compare); the unrounded fused score orders, the
    // rounded one ships.
    "llm_rank_fusion" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
      val dense = emb.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          (vecDot(col("embedding"), col("qv"))
            / (vecNorm(col("embedding")) * vecNorm(col("qv")))).as("cs"))
        .orderBy(col("cs").desc, col("doc_id").asc).limit(100)
      val wd = Window.orderBy(col("cs").desc, col("doc_id").asc)
      val r1 = dense.select(col("doc_id"),
        row_number().over(wd).cast("long").as("r_dense"))
      val docs = Tables.documents(s, dir)
      val tf = docs
        .select(col("doc_id"), explode(toks).as("t"))
        .where(col("t").isin("data", "table", "row"))
        .groupBy("doc_id").agg(count(lit(1)).as("tfc"))
      val sparse = docs.select(col("doc_id"), nTok.as("dl"))
        .join(tf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("tfc"), lit(0L)).cast("double") / col("dl")).as("ts"))
        .orderBy(col("ts").desc, col("doc_id").asc).limit(100)
      val ws = Window.orderBy(col("ts").desc, col("doc_id").asc)
      val r2 = sparse.select(col("doc_id"),
        row_number().over(ws).cast("long").as("r_sparse"))
      r1.join(r2, Seq("doc_id"), "outer")
        .select(col("doc_id"), col("r_dense"), col("r_sparse"),
          (coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0))).as("rrf0"))
        .orderBy(col("rrf0").desc, col("doc_id").asc).limit(20)
        .select(col("doc_id"), col("r_dense"), col("r_sparse"),
          round(col("rrf0"), 6).as("rrf"))
    }),

    // ---- winsorized per-language length statistics ----------------------
    // Outlier-robust corpus stats: clip n_chars at the DISCRETE p5/p95
    // (integer-rank arithmetic, no interpolation boundary) and report
    // the exact mean of the clipped values. Thresholds per language
    // are a 5-row broadcast back onto the corpus.
    "llm_quality_winsorize" -> ((s, dir) => {
      // per-lang rank over the corpus-scaled documents: GlobalRank
      // (5 langs), not a 5-task partitioned window
      val ranked = GlobalRank.withSeqAndCount(
        Tables.documents(s, dir)
          .select(col("lang"), col("n_chars"), col("doc_id")),
        "rn", "n", Seq("lang"),
        Seq(col("n_chars").asc, col("doc_id").asc), groupsHint = 5)
      val bounds = ranked.groupBy("lang")
        .agg(
          max(when(col("rn") === expr("(n + 19) DIV 20"), col("n_chars"))).as("p5"),
          max(when(col("rn") === expr("(19 * n + 19) DIV 20"), col("n_chars"))).as("p95"))
      Tables.documents(s, dir).select(col("lang"), col("n_chars"))
        .join(broadcast(bounds), "lang")
        .select(col("lang"), col("p5"), col("p95"),
          least(greatest(col("n_chars"), col("p5")), col("p95")).as("clipped"))
        .groupBy("lang", "p5", "p95")
        .agg((sum(col("clipped")).cast("double") / count(lit(1)))
          .as("avg_winsorized"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // ---- mixture rebalance to the smallest language budget --------------
    // Downsample every language to the smallest language's token
    // count: rate = tok_min/tok_lang, applied as an EXACT integer
    // threshold on the shared md5 hash60 (doc kept iff
    // hash60(doc_id) < floor(2^60 · tok_min / tok_lang)) — the same
    // deterministic-sampling idiom as llm_sample_hash, so there is no
    // float boundary and the kept set is stable across engines, runs
    // and partitionings. Map-only apply after a 5-row broadcast.
    "llm_mix_resample" -> ((s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), nTok.as("tok"))
      val langTok = perDoc.groupBy("lang").agg(sum("tok").as("tok_lang"))
        .withColumn("tok_min", min(col("tok_lang")).over(Window.orderBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("thr",
          floor(lit(1152921504606846976.0) * col("tok_min") / col("tok_lang"))
            .cast("long"))
      perDoc.join(broadcast(langTok), "lang")
        .where(hash60(col("doc_id").cast("string")) < col("thr"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("tok").as("tok_kept"),
          first(col("tok_lang")).as("tok_lang"))
        .select(col("lang"), col("n_kept"), col("tok_kept"),
          round(col("tok_kept").cast("double") / col("tok_lang"), 6)
            .as("kept_frac"))
        .orderBy("lang")
    }),

    // ---- shared-prefix boilerplate detection ----------------------------
    // Document groups opening with the same 4 tokens — the cheap
    // template/boilerplate sniff (headers, licence stubs, scraped
    // nav bars share prefixes long before they share full hashes).
    // One md5-keyed aggregation; the group key is the prefix hash, so
    // the shuffle carries 16-byte keys, not prefixes.
    "llm_boilerplate_prefix" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(array_join(slice(toks, 1, 4), " ")).as("prefix_h"))
        .groupBy("prefix_h")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .where(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix_h").asc)
    }),

    // ---- benchmark n-gram contamination rate ----------------------------
    // Fraction of "benchmark" documents (doc_id % 97 = 0 — the held-out
    // eval slice) sharing at least one 5-token gram with the training
    // corpus. This is the fuzzy contamination gate (llm_decontaminate
    // is the exact-hash one): gram sets on both sides, one semi-join
    // on the gram hash. At 100 TB the train gram set is the big side
    // and the join shuffles on the 16-byte gram key; benchmark side is
    // tiny by construction.
    "llm_contamination_rate" -> ((s, dir) => {
      val hit = contaminationHits(Tables.documents(s, dir))
      val nBench = Tables.documents(s, dir)
        .where(col("doc_id") % 97 === 0)
        .agg(count(lit(1)).as("n_bench"))
      nBench.crossJoin(broadcast(hit.agg(count(lit(1)).as("n_contaminated"))))
        .select(col("n_bench"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_bench"), 6)
            .as("contamination_rate"))
    }),

    // ---- revenue-concentration Pareto profile ---------------------------
    // Customers ranked by exact-decimal revenue, folded into rank
    // deciles; each decile reports its head-count, revenue and the
    // cumulative revenue share — the 80/20 concentration curve.
    // Decimal stays decimal through BOTH aggregation levels and the
    // 10-row cumulative window; doubles appear only in the final
    // share division. The global rank IS the two-pass range-partitioned
    // rank (GlobalRank: sample split points, rank within range, offset
    // by prefix counts — the r5 verdict's fix, no single-task window);
    // it carries the customer count too, so the old full-frame count
    // window is gone as well.
    "win_pareto_decile" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val ranked = GlobalRank.withSeqAndCount(rev, "rk", "n", Seq.empty,
        Seq(col("rev").desc, col("o_custkey").asc))
      val dec = ranked
        .groupBy((((col("rk") - 1) * 10) / col("n")).cast("int").as("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("rev_dec"))
      val wc = Window.orderBy(col("decile").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      dec
        .withColumn("cum", sum(col("rev_dec")).over(wc))
        .withColumn("tot", sum(col("rev_dec")).over(wt))
        .select(col("decile"), col("n_cust"),
          col("rev_dec").cast(DoubleType).as("decile_revenue"),
          round(col("cum").cast(DoubleType) / col("tot").cast(DoubleType), 6)
            .as("cum_share"))
        .orderBy("decile")
    }),

    // ---- schema-evolution parquet read ----------------------------------
    // Two parquet generations (v1: event_id+user_id; v2 adds value)
    // read back as ONE mergeSchema scan — the source-level capability
    // every long-lived 100 TB table needs (columns get added; old
    // files stay). v1 rows surface value as NULL; the aggregate proves
    // null semantics and the merged schema both survived the round
    // trip. Splittable parquet both sides, no inference scan.
    "source_parquet_evolve" -> ((s, dir) => {
      val out = scratch(s, "pqevolve", dir)
      val ev = Tables.events(s, dir)
      ev.where(col("event_id") % 2 === 0)
        .select("event_id", "user_id")
        .write.mode("overwrite").parquet(out + "/v1")
      ev.where(col("event_id") % 2 === 1)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(out + "/v2")
      s.read.option("mergeSchema", "true").parquet(out + "/v1", out + "/v2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("value")).as("n_with_value"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_value"))
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_chunk_stride" -> s"""
      |WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
      |c AS (SELECT doc_id, tk,
      |    unnest(generate_series(1, greatest(len(tk), 1), 40)) AS start
      |  FROM t)
      |SELECT doc_id, CAST((start - 1) // 40 AS INT) AS chunk_idx,
      |  CAST(len(list_slice(tk, start, start + 49)) AS BIGINT) AS n_tok,
      |  array_to_string(list_slice(tk, start, start + 49), ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "llm_rank_fusion" -> s"""
      |WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |           FROM embeddings WHERE vec_id = 0),
      |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |      FROM embeddings WHERE vec_id <> 0),
      |dense AS (SELECT vec_id AS doc_id,
      |    list_aggregate(list_transform(list_zip(e.ev, q.qv), p -> p[1] * p[2]), 'sum') /
      |    (sqrt(list_aggregate(list_transform(e.ev, x -> x * x), 'sum')) *
      |     sqrt(list_aggregate(list_transform(q.qv, x -> x * x), 'sum'))) AS cs
      |  FROM e, q ORDER BY cs DESC, doc_id ASC LIMIT 100),
      |r1 AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cs DESC, doc_id ASC)
      |    AS BIGINT) AS r_dense FROM dense),
      |tf AS (SELECT doc_id, count(*) AS tfc FROM (
      |    SELECT doc_id, unnest($duckToks) AS t FROM documents)
      |  WHERE t IN ('data', 'table', 'row') GROUP BY doc_id),
      |sparse AS (SELECT d.doc_id,
      |    CAST(coalesce(tfc, 0) AS DOUBLE)
      |      / len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS ts
      |  FROM documents d LEFT JOIN tf ON d.doc_id = tf.doc_id
      |  ORDER BY ts DESC, d.doc_id ASC LIMIT 100),
      |r2 AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY ts DESC, doc_id ASC)
      |    AS BIGINT) AS r_sparse FROM sparse),
      |fused AS (SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id, r_dense, r_sparse,
      |    coalesce(1.0 / (60 + r_dense), 0.0) + coalesce(1.0 / (60 + r_sparse), 0.0)
      |      AS rrf0
      |  FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id)
      |SELECT doc_id, r_dense, r_sparse, round(rrf0, 6) AS rrf
      |FROM fused ORDER BY rrf0 DESC, doc_id ASC LIMIT 20""".stripMargin,

    "llm_quality_winsorize" ->
      """WITH r AS (SELECT lang, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |b AS (SELECT lang,
        |    max(CASE WHEN rn = (n + 19) // 20 THEN n_chars END) AS p5,
        |    max(CASE WHEN rn = (19 * n + 19) // 20 THEN n_chars END) AS p95
        |  FROM r GROUP BY lang)
        |SELECT d.lang, p5, p95,
        |  CAST(sum(least(greatest(n_chars, p5), p95)) AS DOUBLE) / count(*)
        |    AS avg_winsorized,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents d JOIN b ON d.lang = b.lang
        |GROUP BY d.lang, p5, p95 ORDER BY d.lang""".stripMargin,

    "llm_mix_resample" -> s"""
      |WITH pd AS (SELECT doc_id, lang, CAST(len($duckToks) AS BIGINT) AS tok
      |  FROM documents),
      |lt AS (SELECT lang, sum(tok) AS tok_lang FROM pd GROUP BY lang),
      |lm AS (SELECT lang, tok_lang, min(tok_lang) OVER () AS tok_min FROM lt),
      |th AS (SELECT lang, tok_lang,
      |    CAST(floor(1152921504606846976.0 * tok_min / tok_lang) AS BIGINT) AS thr
      |  FROM lm),
      |kept AS (SELECT pd.lang, tok, tok_lang FROM pd JOIN th ON pd.lang = th.lang
      |  WHERE ${hash60Sql("doc_id")} < thr)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(sum(tok) AS BIGINT) AS tok_kept,
      |  round(CAST(sum(tok) AS DOUBLE) / any_value(tok_lang), 6) AS kept_frac
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_boilerplate_prefix" -> s"""
      |SELECT md5(array_to_string(list_slice($duckToks, 1, 4), ' ')) AS prefix_h,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents
      |GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY n_docs DESC, prefix_h ASC""".stripMargin,

    "llm_contamination_rate" -> s"""
      |WITH t AS (SELECT doc_id, $duckToks AS tk FROM documents),
      |g AS (SELECT doc_id, md5(array_to_string(list_slice(tk, i, i + 4), ' ')) AS g
      |  FROM t, unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS u(i)),
      |train AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 <> 0),
      |hit AS (SELECT DISTINCT doc_id FROM g
      |  WHERE doc_id % 97 = 0 AND g IN (SELECT g FROM train)),
      |nb AS (SELECT count(*) AS n_bench FROM documents WHERE doc_id % 97 = 0),
      |nc AS (SELECT count(*) AS n_contaminated FROM hit)
      |SELECT CAST(n_bench AS BIGINT) AS n_bench,
      |  CAST(n_contaminated AS BIGINT) AS n_contaminated,
      |  round(CAST(n_contaminated AS DOUBLE) / n_bench, 6) AS contamination_rate
      |FROM nb, nc""".stripMargin,

    "win_pareto_decile" ->
      """WITH rev AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT o_custkey, rev,
        |    CAST(row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS BIGINT) AS rk,
        |    count(*) OVER () AS n
        |  FROM rev),
        |dec AS (SELECT CAST(((rk - 1) * 10) // n AS INT) AS decile,
        |    CAST(count(*) AS BIGINT) AS n_cust, sum(rev) AS rev_dec
        |  FROM rk GROUP BY 1)
        |SELECT decile, n_cust, CAST(rev_dec AS DOUBLE) AS decile_revenue,
        |  round(CAST(sum(rev_dec) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(sum(rev_dec) OVER () AS DOUBLE), 6) AS cum_share
        |FROM dec ORDER BY decile""".stripMargin,

    "source_parquet_evolve" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) FILTER (event_id % 2 = 1) AS BIGINT) AS n_with_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_id % 2 = 1)
        |    AS DOUBLE) AS sum_value
        |FROM events""".stripMargin
  )
}
