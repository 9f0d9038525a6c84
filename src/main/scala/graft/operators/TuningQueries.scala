package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils.{QFn, duckToks, toks}
import graft.sources.Tables

/** §2.N — pipeline-tuning analytics: the queries an engineer runs to
  * PICK the knobs the rest of the surface exposes (LSH band shape,
  * tokenizer vocabulary size, packing length, as-of staleness bound).
  *
  * Determinism notes (§7.2 conventions):
  *  - every power in the LSH S-curve is an explicit squaring-chain of
  *    MULTIPLICATIONS (x², x⁴, … x³²), built with the same tree shape
  *    on both engines — IEEE multiply is correctly rounded, `pow()`
  *    (libm vs `java.lang.Math`) is not guaranteed to be;
  *  - means are rounded-then-decimal-summed (order-free) before the
  *    final division;
  *  - the vocabulary cut ranks (count DESC, token ASC) — a total
  *    order, so the top-1000 boundary is unambiguous.
  */
object TuningQueries extends graft.QueryFamily {

  /** x^n for n a power of two, by explicit squaring. */
  private def sq(c: Column, n: Int): Column =
    if (n == 1) c else { val h = sq(c, n / 2); h * h }

  /** The same squaring tree as SQL text (leaves duplicate textually;
    * the association order — hence every intermediate rounding — is
    * identical to [[sq]]'s). */
  private def sqSql(e: String, n: Int): String =
    if (n == 1) e else { val h = sqSql(e, n / 2); s"($h*$h)" }

  /** 64-hash MinHash band configs under test: bands × rows = 64. */
  private val bandConfigs = Seq((32, 2), (16, 4), (8, 8), (4, 16))

  val queries: Map[String, QFn] = Map(

    // ---- LSH band-shape tuning ------------------------------------------
    // For every (bands b × rows r) split of a 64-hash MinHash
    // signature, the probability the banding scheme surfaces each
    // VERIFIED near-dup pair: p = 1 − (1 − j^r)^b. Input is the
    // PPJoin-verified pair list (corpus-duplication-bounded, tiny next
    // to the corpus); the 4-config expansion is a constant-width stack,
    // so the whole query costs one pass over the pair list after the
    // dedup pipeline it tunes.
    "llm_lsh_tuning" -> ((s, dir) => {
      val pairs = graft.tools.PairArtifacts.of(s, dir, "near")(
        LlmQueries.queries("llm_dedup_near")(s, dir))
        .select(col("jaccard").as("j"))
      def detectP(b: Int, r: Int): Column =
        lit(1.0) - sq(lit(1.0) - sq(col("j"), r), b)
      val withP = pairs.select(col("j") +:
        bandConfigs.map { case (b, r) => detectP(b, r).as(s"p_${b}x$r") }: _*)
      val stackArgs = bandConfigs
        .map { case (b, r) => s"'${b}x$r', p_${b}x$r" }.mkString(", ")
      withP
        .selectExpr(s"stack(${bandConfigs.size}, $stackArgs) AS (config, p)")
        .groupBy("config")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(round(col("p"), 8).cast(DecimalType(18, 8)))
            .cast(DoubleType) / count(lit(1)), 6).as("mean_detect"),
          count_if(col("p") >= 0.5).as("n_above_half"))
        .orderBy("config")
    }),

    // ---- tokenizer vocabulary coverage ----------------------------------
    // Out-of-vocabulary rate per language against the corpus top-1000
    // token vocabulary (count DESC, token ASC — total order at the
    // cut). The vocab is TakeOrdered'd (never a global sort of the
    // token table) and broadcast into the token stream; per-doc rates
    // aggregate with rounded-decimal sums.
    "llm_oov_rate" -> ((s, dir) => {
      val tokRows = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
      val vocab = tokRows.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(1000)
        .select(col("tok").as("v_tok"))
      tokRows
        .join(broadcast(vocab), col("tok") === col("v_tok"), "left")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tok"),
          count_if(col("v_tok").isNull).as("n_oov"))
        .withColumn("rate", col("n_oov").cast(DoubleType) / col("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(round(col("rate"), 8).cast(DecimalType(18, 8)))
            .cast(DoubleType) / count(lit(1)), 6).as("mean_oov"),
          count_if(col("n_oov") * 2 > col("n_tok")).as("n_mostly_oov"))
        .orderBy("lang")
    }),

    // ---- as-of join with staleness tolerance ----------------------------
    // join_asof's backward match, but a match older than 30 days is no
    // match at all (pandas merge_asof `tolerance`) — the bound is one
    // extra predicate in the candidate join, so candidate volume per
    // event is CUT, not grown, and the single max_by shuffle stays.
    "join_asof_tolerance" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts").as("event_ts"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      e.join(o, e("user_id") === o("o_custkey") &&
          o("o_orderdate") <= e("event_ts") &&
          o("o_orderdate") >= e("event_ts") - expr("INTERVAL 30 DAY"))
        .groupBy("event_id", "user_id")
        .agg(max_by(
          struct(col("o_orderkey"), col("o_orderdate")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
        .select(col("event_id"), col("user_id"),
          col("best.o_orderkey").as("asof_orderkey"),
          col("best.o_orderdate").as("asof_orderdate"))
        .orderBy("event_id")
    }),

    // ---- sequence-length budget trade-off -------------------------------
    // For each candidate max_seq_len: how many docs a truncating
    // tokenizer clips, how many tokens it loses, and the tail padding
    // concat-and-chunk packing would add — per language. The 4-way
    // length expansion is a constant-width stack on the per-doc token
    // counts; everything stays in integer token arithmetic.
    "llm_seq_len_tradeoff" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), size(toks).cast("long").as("n_tok"))
        .where(col("n_tok") >= 1)
        .selectExpr("lang", "n_tok",
          "stack(4, 128L, 256L, 512L, 1024L) AS max_len")
        .groupBy("lang", "max_len")
        .agg(count(lit(1)).as("n_docs"),
          count_if(col("n_tok") > col("max_len")).as("n_docs_over"),
          sum(greatest(col("n_tok") - col("max_len"), lit(0L)))
            .as("tokens_truncated"),
          sum(least(col("n_tok"), col("max_len"))).as("kept_tokens"))
        .withColumn("tail_pad",
          ceil(col("kept_tokens").cast(DoubleType) / col("max_len"))
            .cast("long") * col("max_len") - col("kept_tokens"))
        .select(col("lang"), col("max_len"), col("n_docs"),
          col("n_docs_over"), col("tokens_truncated"), col("tail_pad"))
        .orderBy("lang", "max_len")
    })
  )

  val oracles: Map[String, String] = Map(

    "llm_lsh_tuning" -> {
      val pCols = bandConfigs.map { case (b, r) =>
        s"(1.0 - ${sqSql(s"(1.0 - ${sqSql("j", r)})", b)}) AS p_${b}x$r"
      }.mkString(",\n        |    ")
      val branches = bandConfigs.map { case (b, r) =>
        s"SELECT '${b}x$r' AS config, p_${b}x$r AS p FROM pc"
      }.mkString("\n        |  UNION ALL ")
      s"""WITH pr AS (SELECT jaccard AS j
        |    FROM (${LlmQueries.oracles("llm_dedup_near")})),
        |pc AS (SELECT $pCols
        |  FROM pr),
        |st AS ($branches)
        |SELECT config, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(CAST(round(p, 8) AS DECIMAL(18,8))) AS DOUBLE)
        |    / count(*), 6) AS mean_detect,
        |  CAST(count(*) FILTER (p >= 0.5) AS BIGINT) AS n_above_half
        |FROM st GROUP BY config ORDER BY config""".stripMargin
    },

    "llm_oov_rate" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |    unnest($duckToks) AS tok
        |  FROM documents),
        |v AS (SELECT tok AS v_tok FROM (
        |    SELECT tok, count(*) AS cnt FROM t GROUP BY tok
        |    ORDER BY cnt DESC, tok ASC LIMIT 1000)),
        |pd AS (SELECT doc_id, lang, count(*) AS n_tok,
        |    count(*) FILTER (v_tok IS NULL) AS n_oov
        |  FROM t LEFT JOIN v ON tok = v_tok
        |  GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(round(CAST(n_oov AS DOUBLE) / n_tok, 8)
        |    AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6) AS mean_oov,
        |  CAST(count(*) FILTER (n_oov * 2 > n_tok) AS BIGINT) AS n_mostly_oov
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,

    "join_asof_tolerance" ->
      """SELECT event_id, user_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
        |FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |      AND o.o_orderdate >= e.ts - INTERVAL 30 DAY)
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "llm_seq_len_tradeoff" ->
      s"""WITH d AS (SELECT lang,
        |    CAST(len($duckToks) AS BIGINT) AS n_tok
        |  FROM documents),
        |e AS (SELECT lang, n_tok,
        |    unnest(CAST([128, 256, 512, 1024] AS BIGINT[])) AS max_len
        |  FROM d WHERE n_tok >= 1)
        |SELECT lang, max_len, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (n_tok > max_len) AS BIGINT) AS n_docs_over,
        |  CAST(sum(greatest(n_tok - max_len, 0)) AS BIGINT) AS tokens_truncated,
        |  CAST(ceil(CAST(sum(least(n_tok, max_len)) AS DOUBLE) / max_len) AS BIGINT)
        |    * max_len - CAST(sum(least(n_tok, max_len)) AS BIGINT) AS tail_pad
        |FROM e GROUP BY lang, max_len ORDER BY lang, max_len""".stripMargin
  )
}
