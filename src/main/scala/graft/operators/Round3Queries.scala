package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.sources.Tables

/** §2.N — round-3 surface additions.
  *
  * Multimodal: `llm_multimodal_decode` / `llm_multimodal_resize`
  * promote the Multimodal batch paths (binary column → `mapPartitions`
  * header decode / resize, the mapInPandas batching shape) from
  * test-only coverage to driver-graded queries (round-2 verdict item
  * 8). Media bytes are deterministically synthesized from the
  * documents corpus (utf8 text bytes as opaque content, kind
  * round-robined by doc_id), and the fake-codec header arithmetic is
  * replayed byte-for-byte by the DuckDB oracle (the corpus is pure
  * ASCII, so `ord(substr(...))` IS the byte value).
  *
  * Joins/windows: `join_interval_overlap` (bucketed interval
  * self-join — the range-join-as-equi-join pattern), `join_asof_nearest`
  * (nearest-in-time match completing the backward/forward asof family),
  * `win_streak` (gaps-and-islands), `win_running_distinct`
  * (first-occurrence flag + prefix sum — distinct-count-over-window
  * without a distinct window, which Spark does not support),
  * `agg_percentile_disc` (exact discrete percentiles via integer rank
  * arithmetic — no interpolation float boundary).
  *
  * Eval: `llm_dedup_lsh_recall` measures MinHash-LSH banding recall
  * against the exact PPJoin pair set — the "is the cheap index missing
  * real duplicates" gate, sibling of `llm_ann_recall`.
  */
object Round3Queries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- multimodal batch decode (mapPartitions, typed Dataset) ---------
    // The real thing being graded: a binary media column flowing
    // through a per-partition batch decode into a typed metadata
    // struct. Plan shape: one scan → one mapPartitions (object-mode
    // pipeline, the unavoidable cost of a codec boundary) → sort. The
    // decode itself is the documented deterministic stub (no codecs in
    // this container); schema, batching and partitioning are real.
    "llm_multimodal_decode" -> ((s, dir) => {
      val items = graft.multimodal.Multimodal.mediaFrameFromDocuments(
        s, Tables.documents(s, dir))
      graft.multimodal.Multimodal.decodeMeta(items).toDF()
        .orderBy("media_id")
    }),

    // ---- multimodal batch resize (decode → resize, two batch stages) ----
    // aspect-preserving fit into a 256 box; audio / degenerate headers
    // pass through unchanged. round = floor(x + 0.5) in BOTH engines
    // (positive operands), so no half-even boundary exists.
    "llm_multimodal_resize" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val items = Multimodal.mediaFrameFromDocuments(s, Tables.documents(s, dir))
      Multimodal.resizeMetas(Multimodal.decodeMeta(items), maxSide = 256).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"))
        .orderBy("media_id")
    }),

    // ---- bucketed interval-overlap self-join ----------------------------
    // Every pair of SAME-USER event intervals that overlap in time.
    // Intervals are [ts, ts + (1 + event_id % 30) min), so length is
    // bounded by 30 min; each interval explodes to its covered 30-min
    // buckets (≤ 2 by construction) and candidates come from a
    // (user, bucket) EQUI-join — the standard trick that turns a range
    // join into a shuffle-partitionable hash join. A pair is emitted
    // only in the bucket containing greatest(a_st, b_st) (which both
    // intervals provably cover), so dedup is positional, not a
    // distinct. At 100 TB the bucket is a storage partition key and
    // skew follows the busiest (user, half-hour), not the corpus.
    "join_interval_overlap" -> ((s, dir) => {
      val B = 1800L
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp").cast("long").as("st"))
        .withColumn("en",
          col("st") + lit(60L) * (lit(1L) + pmod(col("event_id"), lit(30L))))
      val bucketed = ev.withColumn("bucket",
        explode(sequence(expr(s"st DIV $B"), expr(s"(en - 1) DIV $B"))))
      val a = bucketed.select(col("user_id"), col("bucket"),
        col("event_id").as("a_id"), col("st").as("a_st"), col("en").as("a_en"))
      val b = bucketed.select(col("user_id"), col("bucket"),
        col("event_id").as("b_id"), col("st").as("b_st"), col("en").as("b_en"))
      a.join(b, Seq("user_id", "bucket"))
        .where(col("a_id") < col("b_id")
          && col("a_st") < col("b_en") && col("b_st") < col("a_en")
          && col("bucket") === expr(s"greatest(a_st, b_st) DIV $B"))
        .select(col("a_id"), col("b_id"), col("user_id"),
          (least(col("a_en"), col("b_en"))
            - greatest(col("a_st"), col("b_st"))).as("overlap_s"))
        .orderBy("a_id", "b_id")
    }),

    // ---- nearest-in-time asof join --------------------------------------
    // Each click matched to the temporally NEAREST purchase of the same
    // user within ±1 h (ties: earlier purchase, then smaller id) —
    // completes the asof family (backward join_asof, forward
    // join_asof_forward). One user-keyed equi-join + one min_by
    // aggregation; at 100 TB add the time-bucket key exactly as in
    // join_interval_overlap.
    "join_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp").cast("long").as("tsec"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("tsec").as("c_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("tsec").as("p_ts"))
      clicks.join(purchases, "user_id")
        .withColumn("diff_s", abs(col("c_ts") - col("p_ts")))
        .where(col("diff_s") <= 3600L)
        .groupBy("click_id")
        .agg(
          min_by(struct(col("p_id"), col("p_ts"), col("diff_s")),
            struct(col("diff_s"), col("p_ts"), col("p_id"))).as("m"),
          first(col("user_id")).as("user_id"))
        .select(col("click_id"), col("user_id"), col("m.p_id").as("purchase_id"),
          col("m.diff_s").as("diff_s"))
        .orderBy("click_id")
    }),

    // ---- gaps-and-islands: longest daily activity streak ----------------
    // day_index − row_number is constant exactly across consecutive
    // days (the classic islands key); everything is integer arithmetic.
    "win_streak" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("di", datediff(col("day"), lit("1970-01-01")))
      val w = Window.partitionBy("user_id").orderBy(col("di").asc)
      days.withColumn("grp", col("di") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("longest_streak"),
          sum(col("len")).as("n_active_days"))
        .orderBy("user_id")
    }),

    // ---- running distinct-user count (first-occurrence + prefix sum) ----
    // Spark has no COUNT(DISTINCT) OVER; the scalable equivalent is a
    // first-occurrence flag (row_number over the high-cardinality
    // (type, user) key — scale-safe as a plain window) prefix-summed
    // over the type's time order via GlobalRank (5 corpus-scaled
    // groups would otherwise pin the sum at 5 tasks).
    "win_running_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wFirst = Window.partitionBy("event_type", "user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      // the (type, user) first-occurrence window is high-cardinality —
      // scale-safe as a plain window; the per-TYPE prefix sum is not
      // (5 corpus-scaled groups), so it rides GlobalRank's distributed
      // running sum instead.
      val flagged = Tables.events(s, dir)
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      GlobalRank.withRunningSums(flagged,
          Seq((col("first_seen"), "distinct_users", "__ru_tot")),
          Seq("event_type"), Seq(col("ts").asc, col("event_id").asc),
          groupsHint = 5)
        .select(col("event_id"), col("event_type"), col("distinct_users"))
        .orderBy("event_id")
    }),

    // ---- exact discrete percentiles (integer rank arithmetic) -----------
    // value at rank ceil(p·n) in (value, event_id) order — the
    // no-interpolation percentile, so the only floats in play are the
    // data's own values. ceil(p·n) is computed as exact integer
    // division ((n+1) DIV 2, (9n+9) DIV 10), never a double product.
    "agg_percentile_disc" -> ((s, dir) => {
      // per-type rank over the corpus-scaled events table: GlobalRank
      // (part=event_type, 5 groups), not a 5-task partitioned window
      GlobalRank.withSeqAndCount(
        Tables.events(s, dir)
          .select(col("event_type"), col("value"), col("event_id")),
        "rn", "n", Seq("event_type"),
        Seq(col("value").asc, col("event_id").asc), groupsHint = 5)
        .groupBy("event_type")
        .agg(
          max(when(col("rn") === expr("(n + 1) DIV 2"), col("value"))).as("p50_disc"),
          max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("value"))).as("p90_disc"))
        .orderBy("event_type")
    }),

    // ---- MinHash-LSH banding recall vs exact pair set -------------------
    // Both sides verify candidates with the same exact Jaccard ≥ 0.6
    // kernel, so LSH pairs ⊆ exact pairs and recall = |LSH| / |exact| —
    // the number that decides whether 4×4 banding is missing real
    // duplicates at this corpus's similarity distribution. Composes the
    // two SHIPPED pipelines (llm_dedup_near's PPJoin exact set,
    // llm_dedup_minhash_lsh's banded set): one left equi-join over two
    // checkpointed pair lists, no new machinery.
    "llm_dedup_lsh_recall" -> ((s, dir) => {
      val exact = graft.tools.PairArtifacts.of(s, dir, "near")(
        LlmQueries.queries("llm_dedup_near")(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val lsh = graft.tools.PairArtifacts.of(s, dir, "minhash_lsh")(
        ScaleQueries.queries("llm_dedup_minhash_lsh")(s, dir))
        .select(col("doc_a"), col("doc_b"), lit(1L).as("found"))
      exact.join(lsh, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("found")).as("n_lsh"))
        .select(col("n_exact"), col("n_lsh"),
          round(col("n_lsh").cast("double") / col("n_exact"), 4).as("recall_at_06"))
    })
  )

  val oracles: Map[String, String] = Map(

    // byte i (0-based) of the utf8 content, 0 past the end — the corpus
    // is ASCII-only (verified: strlen == length for every doc at all
    // SFs), so ord(char) == byte value
    "llm_multimodal_decode" -> {
      def u8(i: Int) =
        s"(CASE WHEN strlen(text) > $i THEN ord(substr(text, ${i + 1}, 1)) ELSE 0 END)"
      s"""WITH m AS (SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    CAST(${u8(2)} * 256 + ${u8(3)} AS INTEGER) AS w,
        |    CAST(${u8(4)} * 256 + ${u8(5)} AS INTEGER) AS h,
        |    CAST(${u8(6)} * 256 + ${u8(7)} AS INTEGER) AS sr,
        |    CAST(${u8(1)} AS INTEGER) AS payload
        |  FROM documents)
        |SELECT media_id, kind, n_bytes,
        |  CASE kind WHEN 'audio' THEN -1 ELSE w END AS width,
        |  CASE kind WHEN 'audio' THEN -1 ELSE h END AS height,
        |  CASE kind WHEN 'image' THEN -1 ELSE sr END AS sample_rate,
        |  CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN -1 ELSE payload END AS n_frames
        |FROM m ORDER BY media_id""".stripMargin
    },

    // decode replay + the resize contract: scale = min(1, 256/max(w,h)),
    // round = floor(x + 0.5) (Scala math.round for positive doubles),
    // floor of 1 minimum; untouched when either side is non-positive
    "llm_multimodal_resize" -> {
      def u8(i: Int) =
        s"(CASE WHEN strlen(text) > $i THEN ord(substr(text, ${i + 1}, 1)) ELSE 0 END)"
      s"""WITH m AS (SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(${u8(2)} * 256 + ${u8(3)} AS INTEGER) AS w,
        |    CAST(${u8(4)} * 256 + ${u8(5)} AS INTEGER) AS h
        |  FROM documents),
        |d AS (SELECT media_id, kind,
        |    CASE kind WHEN 'audio' THEN -1 ELSE w END AS width,
        |    CASE kind WHEN 'audio' THEN -1 ELSE h END AS height
        |  FROM m),
        |r AS (SELECT media_id, kind, width, height,
        |    CASE WHEN width > 0 AND height > 0
        |         THEN LEAST(1.0, 256.0 / GREATEST(width, height)) END AS scale
        |  FROM d)
        |SELECT media_id, kind,
        |  CAST(CASE WHEN scale IS NULL THEN width
        |       ELSE GREATEST(1, floor(width * scale + 0.5)) END AS INTEGER) AS width,
        |  CAST(CASE WHEN scale IS NULL THEN height
        |       ELSE GREATEST(1, floor(height * scale + 0.5)) END AS INTEGER) AS height
        |FROM r ORDER BY media_id""".stripMargin
    },

    // brute-force theta self-join is the oracle; the query's bucketed
    // equi-join must reproduce it exactly
    "join_interval_overlap" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 60 * (1 + event_id % 30) AS en
        |  FROM events)
        |SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
        |  LEAST(a.en, b.en) - GREATEST(a.st, b.st) AS overlap_s
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND a.st < b.en AND b.st < a.en
        |ORDER BY a_id, b_id""".stripMargin,

    "join_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |c AS (SELECT event_id AS click_id, user_id, tsec AS c_ts
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_id, user_id, tsec AS p_ts
        |      FROM e WHERE event_type = 'purchase'),
        |j AS (SELECT c.click_id, c.user_id, p.p_id, abs(c.c_ts - p.p_ts) AS diff_s,
        |    row_number() OVER (PARTITION BY c.click_id
        |      ORDER BY abs(c.c_ts - p.p_ts), p.p_ts, p.p_id) AS rn
        |  FROM c JOIN p ON c.user_id = p.user_id
        |  WHERE abs(c.c_ts - p.p_ts) <= 3600)
        |SELECT click_id, user_id, p_id AS purchase_id, diff_s
        |FROM j WHERE rn = 1 ORDER BY click_id""".stripMargin,

    "win_streak" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (SELECT user_id, date_diff('day', DATE '1970-01-01', day) AS di FROM d),
        |g AS (SELECT user_id,
        |    di - row_number() OVER (PARTITION BY user_id ORDER BY di) AS grp
        |  FROM i),
        |runs AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY user_id, grp)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    "win_running_distinct" ->
      """WITH f AS (SELECT event_id, event_type, ts,
        |    CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM events)
        |SELECT event_id, event_type,
        |  CAST(SUM(first_seen) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS distinct_users
        |FROM f ORDER BY event_id""".stripMargin,

    "agg_percentile_disc" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50_disc,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90_disc
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // composes the two shipped oracles as subqueries — recall is over
    // the same exact-verified pair universes the declared queries emit
    "llm_dedup_lsh_recall" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(count(l.doc_a) AS BIGINT) AS n_lsh,
        |  round(count(l.doc_a) * 1.0 / count(*), 4) AS recall_at_06
        |FROM (${LlmQueries.oracles("llm_dedup_near")}) t
        |LEFT JOIN (${ScaleQueries.oracles("llm_dedup_minhash_lsh")}) l
        |  ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b""".stripMargin
  )
}
