package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — session/attribution batch: Spark's NATIVE `session_window`
  * in batch mode (vs stream_session's hand-built gap-islands),
  * first-touch attribution, char-trigram language profiles, try_cast
  * surface, and a delimiter/null-handling CSV round trip.
  *
  * Determinism notes (§7.2 conventions):
  *  - native session_window semantics are half-open [start,
  *    last + gap): an event at EXACTLY prev + gap starts a NEW session
  *    — the oracle's gap-island rewrite uses `diff >= gap` to match
  *    (stream_session's `>` convention is the other contract; both are
  *    deterministic, they differ only on an exact-boundary event);
  *  - first-touch attribution is a min_by under the total order
  *    (click_ts, click_id) — the mirror of join_asof's max_by;
  *  - trigram ranks order by (count DESC, gram ASC) — total, so the
  *    top-20 cut is unambiguous;
  *  - try_cast failures are NULL by contract on both engines (Spark
  *    `try_cast` ≡ DuckDB `TRY_CAST`).
  */
object SessionSurfaceQueries extends graft.QueryFamily {

  /** Per-sfdir, app-id-salted scratch dir for the pipe-CSV round trip
    * (shared scheme, see graft.tools.Scratch). */
  private def scratch(s: SparkSession, dir: String): String =
    graft.tools.Scratch.dir(s, "psv", dir)

  val queries: Map[String, QFn] = Map(

    // ---- native session_window (batch mode) -----------------------------
    // The same 30-minute-gap sessionization as stream_session, but
    // through Spark's session_window expression — the plan Structured
    // Streaming runs with state eviction. The oracle replays the
    // HALF-OPEN window contract as gap-islands SQL, proving the native
    // operator against first principles.
    "stream_session_native" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("sw.start").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // ---- first-touch attribution ----------------------------------------
    // Each purchase attributed to the user's FIRST click/view in the
    // preceding 7 days — one candidate equi-join on user (time bounds
    // inside the join condition, as join_asof_tolerance) and one
    // min_by shuffle. The window bound caps per-purchase candidates.
    "join_attribution_first_touch" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val buy = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id"),
          col("ts").as("buy_ts"))
      val touch = e.where(col("event_type").isin("click", "view"))
        .select(col("event_id").as("touch_id"), col("user_id"),
          col("ts").as("touch_ts"), col("event_type").as("channel"))
      buy.join(touch, Seq("user_id"))
        .where(col("touch_ts") <= col("buy_ts")
          && col("touch_ts") >= col("buy_ts") - expr("INTERVAL 7 DAY"))
        .groupBy("buy_id", "user_id")
        .agg(min_by(struct(col("touch_id"), col("channel")),
          struct(col("touch_ts"), col("touch_id"))).as("first"))
        .select(col("buy_id"), col("user_id"),
          col("first.touch_id").as("first_touch_id"),
          col("first.channel").as("first_channel"))
        .orderBy("buy_id")
    }),

    // ---- char-trigram language profiles ---------------------------------
    // Top-20 character trigrams per language — the feature table under
    // llm_langid's n-gram heuristic. Gram generation is per-document
    // array arithmetic (map-only, ~3× the char stream absorbed by
    // map-side partial counts); the TopKPerGroup heap cut runs over the per-lang
    // gram vocabulary (bounded by charset³), never the corpus.
    "llm_char_trigrams" -> ((s, dir) => {
      // r14: gram generation via the codegen'd CharNGramList kernel —
      // the transform(sequence(...)) higher-order form interprets its
      // lambda per element (the ShingleArray lesson); the kernel is one
      // tight code-point loop per row with identical substr semantics.
      // explode_outer + isNotNull: no inferred size(...) > 0 filter for
      // the optimizer to push below the projection (which would
      // re-evaluate the kernel in the scan stage).
      val g = Tables.documents(s, dir)
        .where(length(col("text")) >= 3)
        .select(col("lang"), explode_outer(
          graft.functions.TextNGrams.mkCharNGrams(col("text"), 3)).as("gram"))
        .where(col("gram").isNotNull)
      val counts = g.groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
      // top-20 per lang via TopKPerGroupExec (bounded heaps over the
      // corpus-vocabulary gram table); ranking the ≤ 5×20-row cut is
      // a bounded window.
      val cut = graft.plans.GraftOps.topKPerGroup(counts, Seq("lang"),
        Seq("cnt" -> false, "gram" -> true), 20)
      val w = Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("gram").asc)
      cut.withColumn("rk", row_number().over(w).cast("long"))
        .orderBy("lang", "rk")
    }),

    // ---- try_cast surface -----------------------------------------------
    // Failure→NULL casting: a non-numeric string, a JSON-extracted
    // numeric, an out-of-range date literal, and a numeric string with
    // trailing junk. try_* is the ingest-hardening surface (ANSI mode
    // would throw on all of these).
    "fn_try_cast" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          col("event_type").try_cast("int").as("type_as_int"),
          get_json_object(col("props"), "$.k").try_cast("bigint").as("k_int"),
          concat(col("user_id").cast("string"), lit("x")).try_cast("bigint")
            .as("junk_int"),
          lit("2024-13-01").try_cast("date").as("bad_date"),
          col("value").cast("string").try_cast("double").as("roundtrip_val"))
        .orderBy("event_id")
    }),

    // ---- pipe-delimited CSV with explicit null handling -----------------
    "source_csv_pipe" -> ((s, dir) => {
      val out = scratch(s, dir)
      Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name"), col("p_type"),
          nullif(col("p_brand"), lit("Brand#11")).as("brand_or_null"),
          col("p_retailprice"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true").option("sep", "|").option("nullValue", "\\N")
        .csv(out)
      s.read
        .schema("p_partkey BIGINT, p_name STRING, p_type STRING, " +
          "brand_or_null STRING, p_retailprice DOUBLE")
        .option("header", "true").option("sep", "|").option("nullValue", "\\N")
        .csv(out)
        .orderBy("p_partkey")
    })
  )

  val oracles: Map[String, String] = Map(

    "stream_session_native" ->
      """WITH x AS (SELECT user_id, epoch_us(date_trunc('microsecond', ts)) AS eus,
        |    lag(epoch_us(date_trunc('microsecond', ts))) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(date_trunc('microsecond', ts))) AS prev
        |  FROM events),
        |y AS (SELECT user_id, eus,
        |    CASE WHEN prev IS NULL OR eus - prev >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (SELECT user_id, eus,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY eus
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM y)
        |SELECT user_id, make_timestamp(min(eus)) AS session_start,
        |  count(*) AS n_events
        |FROM z GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "join_attribution_first_touch" ->
      """SELECT buy_id, user_id, touch_id AS first_touch_id,
        |  channel AS first_channel
        |FROM (
        |  SELECT b.event_id AS buy_id, b.user_id, t.event_id AS touch_id,
        |    t.event_type AS channel,
        |    row_number() OVER (PARTITION BY b.event_id
        |      ORDER BY t.ts ASC, t.event_id ASC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') b
        |  JOIN (SELECT * FROM events WHERE event_type IN ('click', 'view')) t
        |    ON b.user_id = t.user_id AND t.ts <= b.ts
        |      AND t.ts >= b.ts - INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY buy_id""".stripMargin,

    "llm_char_trigrams" ->
      """WITH g AS (SELECT lang, substr(text, i, 3) AS gram
        |  FROM documents, unnest(generate_series(1, len(text) - 2)) u(i)
        |  WHERE len(text) >= 3),
        |c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY lang, gram),
        |r AS (SELECT lang, gram, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, gram ASC) AS BIGINT) AS rk
        |  FROM c)
        |SELECT lang, gram, cnt, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,

    "fn_try_cast" ->
      """SELECT event_id,
        |  TRY_CAST(event_type AS INT) AS type_as_int,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        |  TRY_CAST(CAST(user_id AS VARCHAR) || 'x' AS BIGINT) AS junk_int,
        |  TRY_CAST('2024-13-01' AS DATE) AS bad_date,
        |  TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE) AS roundtrip_val
        |FROM events ORDER BY event_id""".stripMargin,

    "source_csv_pipe" ->
      """SELECT p_partkey, p_name, p_type,
        |  nullif(p_brand, 'Brand#11') AS brand_or_null, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin
  )
}
