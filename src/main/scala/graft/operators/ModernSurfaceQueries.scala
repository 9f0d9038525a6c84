package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils.{QFn, duckToks, toks}
import graft.sources.Tables

/** §2.N — round-3 modern-surface additions.
  *
  * `fn_variant` exercises Spark 4's VariantType (parse_json →
  * variant_get typed extraction, missing-path null semantics) — the
  * shredded semi-structured type that replaces string-JSON hot paths;
  * `llm_bpe_merges` is 3-round BPE tokenizer training over the
  * weighted vocabulary (pair count → argmax merge → fold back into
  * the symbol stream, per round);
  * `llm_entity_cooccur` mines collocations (PMI over top-50-token
  * co-occurrence — candidate pairs bounded by a constant top-k, never
  * corpus²).
  */
object ModernSurfaceQueries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- VariantType: parse + typed extraction --------------------------
    // parse_json once into a variant, then typed gets: the Spark-4
    // path for semi-structured columns (binary shredded encoding, no
    // re-parse per extraction — the string-JSON fn_json row is the
    // baseline this supersedes at scale). Missing paths yield NULL
    // (variant_get's non-throwing contract).
    "fn_variant" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "int").as("k"),
          variant_get(col("v"), "$.missing", "int").as("missing"),
          is_variant_null(col("v")).as("is_null"))
        .orderBy("event_id")
    }),

    // ---- BPE tokenizer training, 3 merge rounds -------------------------
    // Real multi-iteration BPE (r7 verdict item 6), vocabulary-keyed:
    // the symbol stream lives on DISTINCT token types weighted by
    // occurrence count, so every round shuffles |vocab| rows, never the
    // corpus. Each round counts adjacent symbol pairs, picks the
    // winner ((n DESC, a, b) total order — a 1-row broadcast, no
    // driver collect), and folds it back into the stream before the
    // next count (the PageRank-style iterate; each round's stream is
    // Materialize.eager'd so the N lazy consumers never re-run the
    // chain). Merge mechanics: the stream is a sentinel-framed string
    // " a  b  c " (single outer spaces, double inner), so ONE literal
    // leftmost-non-overlapping replace of " a  b " with " ab " IS the
    // greedy BPE merge scan — and Spark's StringReplace and DuckDB's
    // replace() share exactly those semantics, making the 3 unrolled
    // rounds hash-matchable. Output: (round, sym_a, sym_b, n), the
    // merge table a tokenizer trainer would persist.
    "llm_bpe_merges" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(toks).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
      // frame every char: "abc" -> " a  b  c ". [^ ] (not '.') so \n,
      // \r frame identically in Java regex and RE2.
      var cur = graft.tools.Materialize.eager("bpe.seq0",
        tok.select(regexp_replace(col("t"), "([^ ])", " $1 ").as("seq"),
          col("cnt")))
      val winners = (1 to 3).map { round =>
        val pairs = cur
          .select(col("cnt"), split(trim(col("seq")), "  ").as("sym"))
          .where(size(col("sym")) >= 2) // sequence(1,0) would descend
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(sym) - 1), " +
              "i -> struct(sym[i-1] AS a, sym[i] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("n"))
        val w = pairs.orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(1)
        if (round < 3) {
          cur = graft.tools.Materialize.eager(s"bpe.seq$round",
            cur.crossJoin(broadcast(
                w.select(col("a").as("__wa"), col("b").as("__wb"))))
              .select(expr(
                "replace(seq, ' ' || __wa || '  ' || __wb || ' ', " +
                  "' ' || __wa || __wb || ' ')").as("seq"), col("cnt")))
        }
        w.select(lit(round.toLong).as("round"), col("a").as("sym_a"),
          col("b").as("sym_b"), col("n"))
      }
      winners.reduce(_ union _).orderBy("round")
    }),

    // ---- PMI collocations over the top-50 vocabulary --------------------
    // Pointwise mutual information of token co-occurrence within a
    // document, restricted to the corpus's top-50 tokens: candidate
    // pairs are ≤ C(50,2) per doc BY CONSTRUCTION (the vocabulary cap
    // is what makes co-occurrence mining tractable at 100 TB — the
    // unbounded version is corpus²). All counts integer; one ln at the
    // edge, rounded 4. Pairs seen in <5 docs are noise-filtered.
    "llm_entity_cooccur" -> ((s, dir) => {
      // r14: per-doc dedup happens map-side (array_distinct over the
      // token array) instead of a corpus-wide (doc_id, token) distinct
      // exchange — explode(array_distinct(...)) emits exactly the
      // distinct (doc_id, t) set the old `.distinct()` produced, with
      // zero shuffles (guide §2.3/§2.4).
      val docTok = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode_outer(array_distinct(toks)).as("t"))
        .where(col("t").isNotNull)
      val top50 = docTok.groupBy("t").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("t").asc).limit(50)
        .select(col("t"), col("df"))
      val dt = docTok.join(broadcast(top50), "t")
      val a = dt.select(col("doc_id"), col("t").as("ta"), col("df").as("dfa"))
      val b = dt.select(col("doc_id"), col("t").as("tb"), col("df").as("dfb"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
      a.join(b, Seq("doc_id"))
        .where(col("ta") < col("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("c_ab"),
          first(col("dfa")).as("c_a"), first(col("dfb")).as("c_b"))
        .where(col("c_ab") >= 5)
        .crossJoin(broadcast(nDocs))
        .select(col("ta"), col("tb"), col("c_ab"),
          round(log(col("c_ab").cast("double") * col("nd")
            / (col("c_a") * col("c_b"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("ta").asc, col("tb").asc)
        .limit(20)
    })
  )

  val oracles: Map[String, String] = Map(

    "fn_variant" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INTEGER) AS k,
        |  CAST(NULL AS INTEGER) AS missing,
        |  false AS is_null
        |FROM events ORDER BY event_id""".stripMargin,

    "llm_bpe_merges" ->
      """WITH tok AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
        |      x -> x <> '')) AS t FROM documents) GROUP BY t),
        |s0 AS (SELECT regexp_replace(t, '([^ ])', ' \1 ', 'g') AS seq, cnt
        |  FROM tok),
        |p1 AS (SELECT sym[i] AS a, sym[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM (SELECT string_split(trim(seq), '  ') AS sym, cnt FROM s0) sy,
        |       unnest(generate_series(1, len(sym) - 1)) AS u(i)
        |  GROUP BY 1, 2),
        |w1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
        |s1 AS (SELECT replace(seq, ' '||w.a||'  '||w.b||' ',
        |                      ' '||w.a||w.b||' ') AS seq, cnt FROM s0, w1 w),
        |p2 AS (SELECT sym[i] AS a, sym[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM (SELECT string_split(trim(seq), '  ') AS sym, cnt FROM s1) sy,
        |       unnest(generate_series(1, len(sym) - 1)) AS u(i)
        |  GROUP BY 1, 2),
        |w2 AS (SELECT a, b, n FROM p2 ORDER BY n DESC, a, b LIMIT 1),
        |s2 AS (SELECT replace(seq, ' '||w.a||'  '||w.b||' ',
        |                      ' '||w.a||w.b||' ') AS seq, cnt FROM s1, w2 w),
        |p3 AS (SELECT sym[i] AS a, sym[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM (SELECT string_split(trim(seq), '  ') AS sym, cnt FROM s2) sy,
        |       unnest(generate_series(1, len(sym) - 1)) AS u(i)
        |  GROUP BY 1, 2),
        |w3 AS (SELECT a, b, n FROM p3 ORDER BY n DESC, a, b LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, a AS sym_a, b AS sym_b, n FROM w1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), a, b, n FROM w2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), a, b, n FROM w3
        |ORDER BY round""".stripMargin,

    "llm_entity_cooccur" ->
      s"""WITH dt0 AS (SELECT DISTINCT doc_id,
        |    unnest($duckToks) AS t
        |  FROM documents),
        |top50 AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM dt0
        |  GROUP BY t ORDER BY df DESC, t ASC LIMIT 50),
        |dt AS (SELECT doc_id, dt0.t, df FROM dt0 JOIN top50 ON dt0.t = top50.t),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |pairs AS (SELECT a.ta, a.tb, CAST(count(*) AS BIGINT) AS c_ab,
        |    any_value(dfa) AS c_a, any_value(dfb) AS c_b
        |  FROM (SELECT x.doc_id, x.t AS ta, x.df AS dfa, y.t AS tb, y.df AS dfb
        |        FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.t < y.t) a
        |  GROUP BY ta, tb HAVING count(*) >= 5)
        |SELECT ta, tb, c_ab,
        |  round(ln(CAST(c_ab AS DOUBLE) * nd / (c_a * c_b)), 4) AS pmi
        |FROM pairs, nd
        |ORDER BY pmi DESC, ta ASC, tb ASC LIMIT 20""".stripMargin
  )
}
