package graft.functions

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.H — scalar function surface (string / regex / datetime / math /
  * conditional / array / higher-order / map / json / hash).
  *
  * All of these stay inside whole-stage codegen (builtin `functions._`
  * only — no UDFs), so at scale they are pure map-side work with no
  * shuffle except each query's final ORDER BY.
  *
  * Integer-width convention: Spark fns returning int are cast to long
  * where the DuckDB twin returns BIGINT, so output schemas align.
  */
object FnQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(
    "fn_string" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          upper(col("lang")).as("up"),
          lower(col("source")).as("lo"),
          trim(concat(lit(" "), col("lang"), lit(" "))).as("trimmed"),
          lpad(col("lang"), 5, "*").as("lp"),
          rpad(col("lang"), 5, "#").as("rp"),
          substring(col("text"), 1, 20).as("sub20"),
          instr(col("text"), "data").cast("long").as("ix_data"),
          translate(col("lang"), "aeiou", "AEIOU").as("tr"),
          repeat(col("lang"), 2).as("rep2"),
          reverse(col("lang")).as("rev"),
          concat_ws("-", col("lang"), col("source")).as("cw"),
          length(col("text")).cast("long").as("len_text"))
        .orderBy("doc_id")
    }),

    "fn_string_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          element_at(col("toks"), 1).as("first_tok"),
          element_at(col("toks"), -1).as("last_tok"))
        .orderBy("doc_id")
    }),

    "fn_regex" -> ((s, dir) => {
      Tables.documents(s, dir)
        .where(col("text").rlike("data"))
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
          regexp_replace(col("lang"), "[aeiou]", "_").as("lang_masked"))
        .orderBy("doc_id")
    }),

    "fn_datetime" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          date_trunc("week", col("ts")).as("wk"),
          date_trunc("hour", col("ts")).as("hr"),
          year(col("ts")).as("y"),
          month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"),
          hour(col("ts")).as("h"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_since"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm").as("fmt"))
        .orderBy("event_id")
    }),

    "fn_math" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_c"),
          ceil(col("l_extendedprice")).as("ceil_p"),
          floor(col("l_extendedprice")).as("floor_p"),
          r4(sqrt(col("l_extendedprice"))).as("sqrt_p"),
          pow(col("l_quantity"), 2.0).as("qty_sq"),
          r4(exp(col("l_discount"))).as("exp_d"),
          r4(log(col("l_extendedprice"))).as("ln_p"),
          r4(log10(col("l_extendedprice"))).as("log10_p"),
          r4(log2(col("l_extendedprice"))).as("log2_p"),
          signum(col("l_discount") - 0.05).cast("int").as("sign_c"),
          pmod(col("l_partkey"), lit(7)).as("pk_mod7"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "fn_conditional" -> ((s, dir) => {
      Tables.orders(s, dir)
        .withColumn("st", nullif(col("o_orderstatus"), lit("P")))
        .select(
          col("o_orderkey"), col("st"),
          nvl(col("st"), lit("Z")).as("st_nvl"),
          when(col("o_totalprice") >= 300000.0, "big")
            .when(col("o_totalprice") >= 100000.0, "mid")
            .otherwise("small").as("band"),
          greatest(col("o_totalprice"), lit(100000.0)).as("hi"),
          least(col("o_totalprice"), lit(100000.0)).as("lo"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_num"))
        .orderBy("o_orderkey")
    }),

    "fn_array" -> ((s, dir) => {
      // Array ops (slice/sequence/union/intersect/except/flatten) exercised
      // as before, but every list-typed result is serialized to a scalar in
      // the final projection: integer arrays → comma-joined strings (int→
      // string formatting is identical cross-engine), the float slice → a
      // left-fold double sum (bit-exact vs DuckDB list_aggregate 'sum').
      // The driver's pandas comparator cannot sort list cells (round-1 err).
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          aggregate(transform(slice(col("embedding"), 1, 8), x => x.cast("double")),
            lit(0.0), (acc, x) => acc + x).as("first8_sum"),
          element_at(col("embedding"), 1).as("e1"),
          array_join(sequence(lit(1L), col("label").cast("long") + 1L)
            .cast("array<string>"), ",").as("seq_to_label"),
          array_join(array_sort(array_union(array(col("label"), col("label") + 1),
            array(lit(0), lit(1)))).cast("array<string>"), ",").as("au"),
          array_join(array_sort(array_intersect(array(col("label"), lit(0)),
            array(lit(0), lit(1)))).cast("array<string>"), ",").as("ai"),
          array_join(array_sort(array_except(array(col("label"), lit(0), lit(1)),
            array(lit(1)))).cast("array<string>"), ",").as("ae"),
          array_join(flatten(array(array(col("label")), array(col("label") + 1)))
            .cast("array<string>"), ",").as("fl"))
        .orderBy("vec_id")
    }),

    "fn_array_hof" -> ((s, dir) => {
      // transform/filter/aggregate/zip_with exercised as before; the two
      // double-array outputs are reduced to scalars (count + left-fold sum,
      // bit-exact vs DuckDB list_aggregate 'sum') so the driver comparator
      // can sort every output column.
      Tables.embeddings(s, dir)
        .withColumn("dbl", transform(col("embedding"), x => x.cast("double")))
        .select(
          col("vec_id"),
          aggregate(transform(col("dbl"), x => x * 2), lit(0.0), (acc, x) => acc + x)
            .as("x2_sum"),
          size(filter(col("dbl"), x => x > 0)).cast("long").as("n_pos"),
          aggregate(filter(col("dbl"), x => x > 0), lit(0.0), (acc, x) => acc + x)
            .as("pos_sum"),
          aggregate(col("dbl"), lit(0.0), (acc, x) => acc + x).as("ssum"),
          aggregate(zip_with(col("dbl"), col("dbl"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x).as("self_dot"))
        .orderBy("vec_id")
    }),

    "fn_map" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(map_from_entries(array_sort(collect_list(struct(col("lang"), col("cnt"))))).as("m"))
        .select(
          col("source"),
          // keys/values serialized to comma-joined strings — the map ops
          // stay in the query body, the output is driver-sortable
          array_join(map_keys(col("m")), ",").as("langs"),
          array_join(map_values(col("m")).cast("array<string>"), ",").as("counts"),
          // try_element_at: ANSI-mode element_at throws on a missing map
          // key; the oracle's MAX(CASE...) yields NULL for en-less groups
          try_element_at(col("m"), lit("en")).as("en_count"))
        .orderBy("source")
    }),

    "fn_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .where(col("k") >= 50)
        .orderBy("event_id")
    }),

    "fn_hash" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          sha2(col("text"), 256).as("text_sha256"))
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "fn_string" ->
      """SELECT doc_id, upper(lang) AS up, lower(source) AS lo,
        |  trim(' ' || lang || ' ') AS trimmed,
        |  lpad(lang, 5, '*') AS lp, rpad(lang, 5, '#') AS rp,
        |  substring(text, 1, 20) AS sub20,
        |  instr(text, 'data') AS ix_data,
        |  translate(lang, 'aeiou', 'AEIOU') AS tr,
        |  repeat(lang, 2) AS rep2, reverse(lang) AS rev,
        |  concat_ws('-', lang, source) AS cw,
        |  length(text) AS len_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "fn_string_split" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  string_split(text, ' ')[1] AS first_tok,
        |  string_split(text, ' ')[-1] AS last_tok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "fn_regex" ->
      """SELECT doc_id,
        |  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
        |  regexp_replace(lang, '[aeiou]', '_', 'g') AS lang_masked
        |FROM documents WHERE regexp_matches(text, 'data')
        |ORDER BY doc_id""".stripMargin,

    "fn_datetime" ->
      """SELECT event_id,
        |  CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
        |  date_trunc('hour', ts) AS hr,
        |  CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        |  CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS days_since,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS fmt
        |FROM events ORDER BY event_id""".stripMargin,

    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_c,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        |  round(sqrt(l_extendedprice), 4) AS sqrt_p,
        |  pow(l_quantity, 2.0) AS qty_sq,
        |  round(exp(l_discount), 4) AS exp_d,
        |  round(ln(l_extendedprice), 4) AS ln_p,
        |  round(log10(l_extendedprice), 4) AS log10_p,
        |  round(log2(l_extendedprice), 4) AS log2_p,
        |  CAST(sign(l_discount - 0.05) AS INT) AS sign_c,
        |  l_partkey % 7 AS pk_mod7
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_conditional" ->
      """SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS st,
        |  IFNULL(NULLIF(o_orderstatus, 'P'), 'Z') AS st_nvl,
        |  CASE WHEN o_totalprice >= 300000.0 THEN 'big'
        |       WHEN o_totalprice >= 100000.0 THEN 'mid'
        |       ELSE 'small' END AS band,
        |  greatest(o_totalprice, 100000.0) AS hi,
        |  least(o_totalprice, 100000.0) AS lo,
        |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_array" ->
      """SELECT vec_id,
        |  len(embedding) AS n_dims,
        |  COALESCE(list_aggregate(list_transform(list_slice(embedding, 1, 8),
        |    x -> CAST(x AS DOUBLE)), 'sum'), 0.0) AS first8_sum,
        |  embedding[1] AS e1,
        |  array_to_string(generate_series(1, CAST(label AS BIGINT) + 1), ',') AS seq_to_label,
        |  array_to_string(list_sort(list_distinct(list_concat([label, label + 1], [0, 1]))), ',') AS au,
        |  array_to_string(list_sort(list_intersect([label, 0], [0, 1])), ',') AS ai,
        |  array_to_string(list_sort(list_filter(list_distinct([label, 0, 1]), x -> x <> 1)), ',') AS ae,
        |  array_to_string(flatten([[label], [label + 1]]), ',') AS fl
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "fn_array_hof" ->
      """SELECT vec_id,
        |  COALESCE(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * 2), 'sum'), 0.0) AS x2_sum,
        |  len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x > 0)) AS n_pos,
        |  COALESCE(list_aggregate(list_filter(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)), x -> x > 0), 'sum'), 0.0) AS pos_sum,
        |  COALESCE(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)), 'sum'), 0.0) AS ssum,
        |  COALESCE(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0) AS self_dot
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "fn_map" ->
      """WITH c AS (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2)
        |SELECT source,
        |  string_agg(lang, ',' ORDER BY lang) AS langs,
        |  string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY lang) AS counts,
        |  MAX(CASE WHEN lang = 'en' THEN cnt END) AS en_count
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "fn_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
        |ORDER BY event_id""".stripMargin,

    "fn_hash" ->
      """SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
