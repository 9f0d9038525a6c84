package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — vector/typed-surface batch: json_tuple multi-extract
  * generator, pairwise correlation matrix, and map higher-order
  * functions (the batch's embedding-norm audit lives in
  * [[AnnQueries]]).
  *
  * Determinism notes (§7.2 conventions):
  *  - corr is inherently order-dependent → r4 (the agg_stats
  *    precedent), emitted as stacked rows so the matrix is one
  *    aggregate pass;
  *  - map HOF results ship as sorted "k:v" strings (map column
  *    hashing/ordering is engine-specific; the DuckDB oracle builds
  *    the same string from a keyed aggregate — the equivalence proof
  *    that transform_values/map_filter did what the SQL says).
  */
object VectorAuditQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- json_tuple multi-extract generator -----------------------------
    // One-pass multi-field JSON extraction as a GENERATOR (vs
    // fn_json's per-field get_json_object) — the shape that matters
    // when a props blob has many fields: one parse per row, N output
    // columns. The missing field proves NULL semantics.
    "gen_json_tuple" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          json_tuple(col("props"), "k", "missing"))
        .toDF("event_id", "k_str", "missing_str")
        .select(col("event_id"),
          col("k_str").try_cast("bigint").as("k_val"),
          col("missing_str"))
        .orderBy("event_id")
    }),

    // ---- pairwise correlation matrix ------------------------------------
    // All 6 correlations among (quantity, extendedprice, discount,
    // tax) in ONE aggregate pass, emitted as stacked rows. r4 per the
    // inexact-aggregate convention.
    "agg_corr_matrix" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pairs = Seq(
        ("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"), ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"), ("l_discount", "l_tax"))
      val agged = li.agg(
        r4(corr(col(pairs.head._1), col(pairs.head._2)))
          .as(s"c_${pairs.head._1}_${pairs.head._2}"),
        pairs.tail.map { case (a, b) =>
          r4(corr(col(a), col(b))).as(s"c_${a}_$b") }: _*)
      val stackArgs = pairs
        .map { case (a, b) => s"'$a|$b', c_${a}_$b" }.mkString(", ")
      agged.selectExpr(
          s"stack(${pairs.size}, $stackArgs) AS (pair, corr_r4)")
        .orderBy("pair")
    }),

    // ---- map higher-order functions -------------------------------------
    // Per-doc token-count map (map_from_arrays over the grouped
    // counts), doubled via transform_values, pruned to repeated tokens
    // via map_filter, shipped as the sorted "tok:count" string. The
    // oracle rebuilds the same string from a plain keyed aggregate —
    // proving the map HOFs against first principles.
    "fn_map_hof" -> ((s, dir) => {
      val tc = Tables.documents(s, dir)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(map_from_arrays(
          collect_list(col("tok")), collect_list(col("c"))).as("m"))
      tc.select(col("doc_id"),
          map_filter(transform_values(col("m"), (_, v) => v * 2),
            (_, v) => v > 2).as("m2"))
        .select(col("doc_id"),
          array_join(array_sort(transform(map_entries(col("m2")),
            e => concat(e.getField("key"), lit(":"),
              e.getField("value").cast("string")))), ",").as("repeated"),
          size(col("m2")).cast("long").as("n_repeated"))
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(

    "gen_json_tuple" ->
      """SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  json_extract_string(props, '$.missing') AS missing_str
        |FROM events ORDER BY event_id""".stripMargin,

    "agg_corr_matrix" ->
      """WITH a AS (SELECT
        |  round(corr(l_quantity, l_extendedprice), 4) AS c1,
        |  round(corr(l_quantity, l_discount), 4) AS c2,
        |  round(corr(l_quantity, l_tax), 4) AS c3,
        |  round(corr(l_extendedprice, l_discount), 4) AS c4,
        |  round(corr(l_extendedprice, l_tax), 4) AS c5,
        |  round(corr(l_discount, l_tax), 4) AS c6
        |  FROM lineitem)
        |SELECT pair, corr_r4 FROM (
        |  SELECT 'l_quantity|l_extendedprice' AS pair, c1 AS corr_r4 FROM a
        |  UNION ALL SELECT 'l_quantity|l_discount', c2 FROM a
        |  UNION ALL SELECT 'l_quantity|l_tax', c3 FROM a
        |  UNION ALL SELECT 'l_extendedprice|l_discount', c4 FROM a
        |  UNION ALL SELECT 'l_extendedprice|l_tax', c5 FROM a
        |  UNION ALL SELECT 'l_discount|l_tax', c6 FROM a)
        |ORDER BY pair""".stripMargin,

    "fn_map_hof" -> s"""
      |WITH tc AS (SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest($duckToks) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |rep AS (SELECT doc_id, tok, c * 2 AS v FROM tc WHERE c * 2 > 2)
      |SELECT d.doc_id,
      |  coalesce(r.repeated, '') AS repeated,
      |  coalesce(r.n_repeated, 0) AS n_repeated
      |FROM (SELECT DISTINCT doc_id FROM tc) d
      |LEFT JOIN (SELECT doc_id,
      |    array_to_string(list_sort(list(tok || ':' || CAST(v AS VARCHAR))), ',')
      |      AS repeated,
      |    CAST(count(*) AS BIGINT) AS n_repeated
      |  FROM rep GROUP BY doc_id) r USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  )
}
