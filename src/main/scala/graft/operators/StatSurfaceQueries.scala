package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** Statistics + surface depth batch (round 2, batch 5): linear-
  * regression aggregates, boolean aggregates, printf-style formatting,
  * and the composed end-to-end curation pipeline (filter → exact dedup
  * → split → report) that chains the individual operators the way a
  * production corpus build does.
  *
  * Scale notes (100 TB):
  *  - `agg_regr` / `agg_bool` are single shuffled aggregations on
  *    catalog-bounded keys with map-side partials — same envelope as
  *    agg_stats.
  *  - `fn_format_string` is map-only + final sort.
  *  - `llm_curate_e2e`'s only corpus-sized shuffle is the md5(text)
  *    dedup window (one hash exchange; the md5 key is effectively
  *    unique so there is no skew); filters run before it, the
  *    split/report aggregation after it is stratum-bounded.
  */
object StatSurfaceQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- linear-regression aggregates -----------------------------------
    // Least-squares fit of extendedprice on quantity per returnflag:
    // slope, intercept, r², and the pair count. Both engines implement
    // the same closed-form moments; r4 absorbs the summation-order ulps.
    "agg_regr" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          r4(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
          r4(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("intercept"),
          r4(regr_r2(col("l_extendedprice"), col("l_quantity"))).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy("l_returnflag")
    }),

    // ---- boolean aggregates ---------------------------------------------
    // every/any/count_if per order priority — the assertion-style
    // aggregates data-quality checks are built from.
    "agg_bool" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          count_if(col("o_orderstatus") === "F").as("n_f"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // ---- printf-style formatting ----------------------------------------
    // Integer/string formats only (%s, zero-padded %d, %x, %%): C printf
    // (DuckDB) and java.util.Formatter (Spark) agree exactly on these;
    // float %f rounding is deliberately excluded (HALF_UP vs
    // round-half-even differ on exact halves).
    "fn_format_string" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          format_string("%s-%06d", col("lang"), col("doc_id")).as("tag"),
          format_string("%x", col("n_chars")).as("chars_hex"),
          format_string("%5d%%", col("n_chars") % 100).as("pct_style"))
        .orderBy("doc_id")
    }),

    // ---- end-to-end curation pipeline -----------------------------------
    // The composed corpus build: token-length quality gate → exact
    // dedup on md5(text) keeping the lowest doc_id → deterministic
    // 90/5/5 split → per (split, lang) doc/token report. Each stage is
    // an operator declared elsewhere; this query proves they compose
    // into one plan without materialization barriers.
    "llm_curate_e2e" -> ((s, dir) => {
      val gated = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"), nTok.as("n_tok"))
        .where(col("n_tok") >= 5 && col("n_tok") <= 100000)
      val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      val deduped = gated
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
      deduped
        .select(col("lang"), col("n_tok"),
          when(hash60(col("doc_id").cast("string")) % 100 < 90, lit("train"))
            .when(hash60(col("doc_id").cast("string")) % 100 < 95, lit("valid"))
            .otherwise(lit("test")).as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split", "lang")
    })
  )

  val oracles: Map[String, String] = Map(

    "agg_regr" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_bool" ->
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_totalprice > 400000) AS any_over_400k,
        |  CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "fn_format_string" ->
      """SELECT doc_id,
        |  printf('%s-%06d', lang, doc_id) AS tag,
        |  printf('%x', n_chars) AS chars_hex,
        |  printf('%5d%%', n_chars % 100) AS pct_style
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_curate_e2e" ->
      s"""WITH gated AS (SELECT doc_id, lang, text,
        |    CAST(len($duckToks) AS BIGINT) AS n_tok
        |  FROM documents),
        |g2 AS (SELECT * FROM gated WHERE n_tok >= 5 AND n_tok <= 100000),
        |dedup AS (SELECT doc_id, lang, n_tok,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        |  FROM g2),
        |tagged AS (SELECT lang, n_tok,
        |    CASE WHEN ${hash60Sql("doc_id")} % 100 < 90 THEN 'train'
        |         WHEN ${hash60Sql("doc_id")} % 100 < 95 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM dedup WHERE rk = 1)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM tagged GROUP BY split, lang ORDER BY split, lang""".stripMargin
  )
}
