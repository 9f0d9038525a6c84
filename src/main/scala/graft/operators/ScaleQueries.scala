package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryUtils._
import graft.functions.VectorFunctions.{vecDot, vecNorm}
import graft.sources.Tables

/** Scale-path training-data-pipeline operators, beyond the reference's
  * own surface: sketch-based dedup (MinHash-LSH, SimHash), heuristic
  * language ID, quality scoring, tokenizer counting, document
  * fingerprinting and embedding near-dup (the IVF and LSH ANN probes
  * live in [[AnnQueries]]).
  *
  * Every operator here is fully deterministic and cross-engine
  * oracle-checkable: hash seeds are md5-derived 60-bit integers (both
  * engines parse the same hex), all sketch arithmetic is integer mod a
  * 31-bit prime (no overflow, no float divergence).
  *
  * 100 TB notes: MinHash-LSH is the linear-ish-cost near-dup path (the
  * exact prefix-filter join in LlmQueries is the verification oracle);
  * banding keys shuffle-partition naturally; SimHash is one map + two
  * keyed aggs.
  */
object ScaleQueries extends graft.QueryFamily {

  private val P = 2147483647L // 2^31 - 1

  import graft.functions.TextShingles.{duckShingleCte, mkShingles, verifyJaccard06}

  /** 8 × 64 deterministic pseudo-random hyperplanes: component (i, j) =
    * (md5int("hp-i-j") % 2001 − 1000) / 1000.0 — the oracle rebuilds the
    * identical values from DuckDB's md5, so sign bits agree bit-exactly.
    */
  private lazy val hyperplanes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(8, 64) { (i, j) =>
      val hex = md.digest(s"hp-$i-${j + 1}".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
    }
  }

  /** 8-bit random-hyperplane LSH bucket of an embedding (sign pattern of
    * the 8 deterministic hyperplane dots) — the `llm_ann_lsh` index of
    * [[AnnQueries]], kept beside the hyperplanes it shares with
    * `llm_dedup_embcos`.
    */
  val lshBucket: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { emb: Seq[Float] =>
      var bucket = 0
      var i = 0
      while (i < 8) {
        var dot = 0.0
        var j = 0
        // hyperplanes are 64-wide; ignore higher dims of a longer vector
        // instead of throwing (same guard as the IVF assign kernel)
        while (j < emb.length && j < hyperplanes(i).length) {
          dot += emb(j).toDouble * hyperplanes(i)(j)
          j += 1
        }
        if (dot > 0) bucket |= (1 << i)
        i += 1
      }
      bucket
    }

  // synthetic-vocabulary language profiles (the test corpus shares one
  // vocabulary across langs, so these are demonstration profiles — the
  // operator shape is the real thing: per-profile hit counts + argmax)
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("batch", "group", "hash", "window"),
    "en" -> Seq("the", "a", "data", "table"),
    "es" -> Seq("query", "column", "filter", "row"),
    "fr" -> Seq("merge", "order", "sort", "line"),
    "zh" -> Seq("spark", "stream", "vector", "key"))

  /** Full MinHash-LSH near-dup pipeline over a (doc_id, text) frame:
    * shingle → 16 deterministic MinHashes → 4×4 banding → band-equality
    * candidates → exact-Jaccard verification. Shared by the declared
    * `llm_dedup_minhash_lsh` query and `tools.ScaleDryRun`, so the scale
    * dry run always measures the shipped plan.
    *
    * explode_outer: no inferred size(sh)>0 filter to push below the
    * shingle projection (would double-evaluate the kernel per row); the
    * null rows from shingle-less docs are dropped on the exploded
    * attribute, which cannot be pushed below the Generate.
    */
  def minhashLshPairs(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (cand, sh, _) = minhashParts(s, docs)
    verifyJaccard06(cand, sh)
  }

  /** The banding pipeline's reusable intermediates — (cand, sh, mh):
    * candidate pairs, shingle sets, 16-component MinHash signatures.
    * Shared by llm_dedup_minhash_lsh and llm_minhash_jaccard_est (the
    * estimator-error eval needs the raw signatures). */
  def minhashParts(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    // r14 (guide §2.3): the doc_id exchange moves the text; the shingle
    // kernel runs after it (arrays are ~3× the text bytes). The
    // downstream groupBy("doc_id") still sees the exchange's hash
    // partitioning, so no second shuffle appears.
    val sh = docs
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), mkShingles(col("text")).as("sh"))
      .withColumn("n", size(col("sh")))
    val th = sh.select(col("doc_id"), explode_outer(col("sh")).as("s1"))
      .where(col("s1").isNotNull)
      .withColumn("h", hash60(col("s1")) % P)
    val minhashAggs = (0 until 16).map { i =>
      min((col("h") * lit(2L * i + 1) + lit(i * 12345L + 1)) % lit(P)).as(s"m$i")
    }
    val mh = th.groupBy("doc_id").agg(minhashAggs.head, minhashAggs.tail: _*)
    val bandStructs = (0 until 4).map { bd =>
      struct(lit(bd).as("band"),
        concat_ws(":", (0 until 4).map(r => col(s"m${bd * 4 + r}").cast("string")): _*).as("sig"))
    }
    val bands = mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
    val cand = bands.select(col("doc_id").as("a_id"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    (cand, sh, mh)
  }

  val queries: Map[String, QFn] = Map(
    // ---- MinHash + LSH banding near-dup (16 hashes, 4 bands × 4 rows) --
    "llm_dedup_minhash_lsh" -> ((s, dir) =>
      minhashLshPairs(s, Tables.documents(s, dir))),

    // ---- 60-bit SimHash over distinct tokens ---------------------------
    // one shuffle: 60 inline ±1 sums per doc (no per-bit row explosion),
    // then the signature folds from the 60 sum columns map-side
    "llm_simhash" -> ((s, dir) => {
      // r14 (guide §2.3): repartition BEFORE the explode — the exchange
      // moves one text row per doc instead of one row per distinct
      // token (~300×); the groupBy("doc_id") downstream still rides the
      // exchange's hash partitioning.
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
        .withColumn("h", hash60(col("t")))
      val bitSums = (0 until 60).map { j =>
        sum(expr(s"CASE WHEN (h div ${1L << j}L) % 2 = 1 THEN 1 ELSE -1 END")).as(s"s$j")
      }
      tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (0 until 60).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
        .orderBy("doc_id")
    }),

    // ---- banded SimHash near-dup pairs (lossless 4×15-bit LSH) ---------
    // pigeonhole: Hamming(a,b) <= 3 over 4 disjoint 15-bit bands forces
    // at least one band to match exactly, so the band-equality join finds
    // every qualifying pair — exact semantics, sub-quadratic candidates
    "llm_dedup_simhash" -> ((s, dir) => {
      // explode_outer: see llm_dedup_minhash_lsh — avoids the inferred
      // generator filter that would double-evaluate the shingle kernel
      // r14 (guide §2.3): text shuffled, shingles computed post-exchange
      // (arrays are ~3× the text bytes; same move as minhashParts)
      val th = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), mkShingles(col("text")).as("sh"))
        .select(col("doc_id"), explode_outer(col("sh")).as("s1"))
        .where(col("s1").isNotNull)
        .withColumn("h", hash60(col("s1")))
      val bitSums = (0 until 60).map { j =>
        sum(expr(s"CASE WHEN (h div ${1L << j}L) % 2 = 1 THEN 1 ELSE -1 END")).as(s"s$j")
      }
      val sim = th.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (0 until 60).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
            .reduce(_ + _).as("simhash"))
      val bandStructs = (0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 15).bitwiseAND(lit(32767L)).as("bval"))
      }
      val bands = sim.select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
        .select(col("doc_id"), col("x.band").as("band"), col("x.bval").as("bval"))
      val cand = bands.select(col("doc_id").as("a_id"), col("band"), col("bval"))
        .join(bands.select(col("doc_id").as("b_id"), col("band"), col("bval")),
          Seq("band", "bval"))
        .where(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      // plain joins — the signature table grows with the corpus, so a
      // pinned broadcast of it is an OOM at 100 TB; AQE broadcasts the
      // small candidate side instead when it fits
      val sa = sim.select(col("doc_id").as("a_id"), col("simhash").as("a_sim"))
      val sb = sim.select(col("doc_id").as("b_id"), col("simhash").as("b_sim"))
      val pairs = cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("hamming", bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).cast("int"))
        .where(col("hamming") <= 3)
        .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"), col("hamming"))
      // orderBy over the CHECKPOINTED pair list: range sampling scans
      // only the materialized pairs (no single-task repartition(1)
      // funnel, no pipeline re-run)
      graft.tools.Materialize.eager("simhash.pairs", pairs).orderBy("doc_a", "doc_b")
    }),

    // ---- heuristic language ID: profile hit counts + alphabetic argmax -
    "llm_langid" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .withColumn("tok", split(col("text"), " "))
      val scored = langProfiles.foldLeft(base) { case (df, (lg, words)) =>
        df.withColumn(s"s_$lg",
          size(filter(col("tok"), x => x.isin(words.map(lit): _*))))
      }
      scored.select(
        col("doc_id"), col("lang"),
        col("s_de"), col("s_en"), col("s_es"), col("s_fr"), col("s_zh"),
        when(col("s_de") >= greatest(col("s_en"), col("s_es"), col("s_fr"), col("s_zh")), "de")
          .when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_zh")), "en")
          .when(col("s_es") >= greatest(col("s_fr"), col("s_zh")), "es")
          .when(col("s_fr") >= col("s_zh"), "fr")
          .otherwise("zh").as("predicted"))
        .withColumn("is_match", col("predicted") === col("lang"))
        .orderBy("doc_id")
    }),

    // ---- quality scoring: type-token ratio, stopword ratio, brevity ----
    "llm_quality_score" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("tok", split(col("text"), " "))
        .withColumn("n_tokens", size(col("tok")))
        .withColumn("n_distinct", size(array_distinct(col("tok"))))
        .withColumn("stop_hits", size(filter(col("tok"), x => x.isin("the", "a"))))
        .select(
          col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct").cast("long").as("n_distinct"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
          (col("stop_hits").cast("double") / col("n_tokens")).as("stop_ratio"),
          (lit(0.4) * (col("n_distinct").cast("double") / col("n_tokens"))
            + lit(0.4) * (lit(1.0) - col("stop_hits").cast("double") / col("n_tokens"))
            + lit(0.2) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- token counting: whitespace, regex lexer, bytes-per-token est --
    "llm_token_count" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long").as("n_lex"),
          ceil(col("n_chars") / 4.0).cast("long").as("n_bpe_est"))
        .orderBy("doc_id")
    }),

    // ---- position-weighted integer fingerprint -------------------------
    "llm_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumn("h", hash60(col("col")) % P)
        .groupBy("doc_id")
        .agg(sum((col("pos") + 1) * col("h")).as("fingerprint"),
          count(lit(1)).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // ---- embedding-cosine near-dup pairs (threshold calibrated to data)
    "llm_dedup_embcos" -> ((s, dir) => {
      // EXACT cosine-threshold self-join routed through IVF cells with
      // triangle-inequality cell-pair pruning — NOT an all-pairs theta
      // join. Angular distance d(u,v) = arccos(cos(u,v)) is a metric on
      // the unit sphere, so a qualifying pair (cos >= 0.4, i.e. d <=
      // acos(0.4)) whose members sit in cells (ca, cb) must satisfy
      //   d(pivot_ca, pivot_cb) <= r_ca + r_cb + acos(0.4)
      // where r_c is cell c's max member-to-pivot angle. Cell pairs
      // violating the bound are PROVABLY pair-free and are never
      // shuffled or compared — pruning is lossless, so the output is
      // bit-identical to the brute-force oracle (recall argument:
      // SCALING.md). Pivots are the md5-derived deterministic
      // hyperplanes; each vector is replicated only to its allowed
      // partner cells (<= k), giving per-cell-pair equi-join shuffles
      // instead of O(n²). At 100 TB: k grows ~ sqrt(n) with k-means
      // pivots, cells become storage partition keys, and the bound
      // tightens as duplicate clusters concentrate (on uniformly random
      // vectors all cells stay within threshold reach of each other and
      // pruning is void — a property of the data, not the plan).
      val thr = math.acos(0.4)
      val pv = hyperplanes // 8 deterministic pivot directions
      val pvNorm = pv.map(p => math.sqrt(p.map(x => x * x).sum))
      val assign = udf { emb: Seq[Float] =>
        var best = 0; var bestCos = -2.0
        var i = 0
        var vn = 0.0
        var j = 0
        while (j < emb.length) { vn += emb(j).toDouble * emb(j).toDouble; j += 1 }
        vn = math.sqrt(vn)
        while (i < pv.length) {
          var dot = 0.0
          j = 0
          while (j < emb.length && j < pv(i).length) {
            dot += emb(j).toDouble * pv(i)(j); j += 1
          }
          val c = if (vn == 0.0) 0.0 else dot / (vn * pvNorm(i))
          if (c > bestCos) { bestCos = c; best = i }
          i += 1
        }
        (best, math.acos(math.max(-1.0, math.min(1.0, bestCos))))
      }
      // pivot-to-pivot angles are pure constants (k×k doubles)
      val ppAngle = for {
        i <- pv.indices; j <- pv.indices
        dot = pv(i).zip(pv(j)).map { case (x, y) => x * y }.sum
        c = math.max(-1.0, math.min(1.0, dot / (pvNorm(i) * pvNorm(j))))
      } yield (i, j, math.acos(c))
      val pp = s.createDataFrame(ppAngle).toDF("ca", "cb", "pp_ang")
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"),
          assign(col("embedding")).as("asg"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("asg._1").as("cell"), col("asg._2").as("ang"))
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      val radii = e.groupBy("cell").agg(max(col("ang")).as("r"))
      // symmetric allowed list (both (ca,cb) and (cb,ca) kept) so each
      // unordered vector pair survives a_id < b_id exactly once; k² rows,
      // broadcast is bounded by the pivot count, never the corpus
      val allowed = pp
        .join(broadcast(radii.select(col("cell").as("ca"), col("r").as("ra"))), "ca")
        .join(broadcast(radii.select(col("cell").as("cb"), col("r").as("rb"))), "cb")
        .where(col("pp_ang") <= col("ra") + col("rb") + lit(thr))
        .select("ca", "cb")
      val ea = e.select(col("cell").as("ca"), col("vec_id").as("a_id"),
        col("embedding").as("a_v"), col("nrm").as("a_n"))
      val eb = e.select(col("cell").as("cb"), col("vec_id").as("b_id"),
        col("embedding").as("b_v"), col("nrm").as("b_n"))
      val candA = ea.join(broadcast(allowed), "ca")
      val pairs = candA.join(eb, candA("cb") === eb("cb") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (vecDot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n"))).as("cos_sim"))
        .where(col("cos_sim") >= 0.4)
      // checkpointed-pairs orderBy, not repartition(1): see llm_dedup_simhash
      graft.tools.Materialize.eager("embcos.pairs", pairs).orderBy("a_id", "b_id")
    }),

    // ---- opaque-bytes column plumbing (text → utf8 bytes) --------------
    "llm_multimodal_bytes" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          md5(col("text")).as("content_md5"))
        .orderBy("doc_id")
    })
  )

  private val shingleCte = duckShingleCte

  /** CTE chain through MinHash signatures, bands, candidates and the
    * unthresholded exact-Jaccard verification `v` — shared by the
    * llm_dedup_minhash_lsh oracle and llm_minhash_jaccard_est. */
  private[operators] val minhashCteChain =
    shingleCte +
      """,
        |ex AS (SELECT doc_id, unnest(sh) s1 FROM s),
        |th AS (SELECT doc_id, ('0x' || substr(md5(s1), 1, 15))::BIGINT % 2147483647 AS h FROM ex),
        |seeds AS (SELECT unnest(generate_series(0, 15)) i),
        |mh AS (SELECT doc_id, i, min(((2*i + 1) * h + (i*12345 + 1)) % 2147483647) m
        |       FROM th CROSS JOIN seeds GROUP BY 1, 2),
        |bands AS (SELECT doc_id, i // 4 AS band, string_agg(m::VARCHAR, ':' ORDER BY i) sig
        |          FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |         WHERE a.doc_id < b.doc_id),
        |v AS (SELECT a_id, b_id,
        |        len(list_intersect(sa.sh, sb.sh)) inter,
        |        len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) uni
        |      FROM cand JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id)""".stripMargin

  private val minhashOracle =
    minhashCteChain +
      """
        |SELECT a_id AS doc_a, b_id AS doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
        |FROM v WHERE inter * 10 >= uni * 6 ORDER BY doc_a, doc_b""".stripMargin

  private val simhashOracle =
    """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) t FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
      |bits AS (SELECT doc_id, j,
      |           CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END sgn
      |         FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) j)),
      |sums AS (SELECT doc_id, j, CAST(SUM(sgn) AS BIGINT) s FROM bits GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val langidOracle = {
    val hits = langProfiles.map { case (lg, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ($inList))) AS INT) AS s_$lg"
    }.mkString(",\n  ")
    s"""WITH sc AS (SELECT doc_id, lang,
       |  $hits
       |FROM documents)
       |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
       |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END AS predicted,
       |  (CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END) = lang AS is_match
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  private val simhashPairsOracle =
    shingleCte +
      """,
        |ex AS (SELECT doc_id, unnest(sh) s1 FROM s),
        |h AS (SELECT doc_id, ('0x' || substr(md5(s1), 1, 15))::BIGINT AS h FROM ex),
        |bits AS (SELECT doc_id, j,
        |           CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END sgn
        |         FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) j)),
        |sums AS (SELECT doc_id, j, CAST(SUM(sgn) AS BIGINT) sm FROM bits GROUP BY 1, 2),
        |sim AS (SELECT doc_id,
        |          CAST(SUM(CASE WHEN sm > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |        FROM sums GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_dedup_minhash_lsh" -> minhashOracle,
    "llm_simhash" -> simhashOracle,
    "llm_dedup_simhash" -> simhashPairsOracle,
    "llm_langid" -> langidOracle,

    "llm_quality_score" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS ttr,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio,
        |  0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |         / len(string_split(text, ' ')))
        |  + 0.4 * (1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        |           / len(string_split(text, ' ')))
        |  + 0.2 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_lex,
        |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_fingerprint" ->
      """SELECT doc_id,
        |  CAST(SUM(i * (('0x' || substr(md5(tok[i]), 1, 15))::BIGINT % 2147483647)) AS BIGINT) AS fingerprint,
        |  count(*) AS n_tokens
        |FROM (SELECT doc_id, string_split(text, ' ') tok FROM documents),
        |  UNNEST(generate_series(1, len(tok))) AS u(i)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_dedup_embcos" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) ev FROM embeddings),
        |n AS (SELECT vec_id, ev, sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum')) nrm FROM e)
        |SELECT a.vec_id a_id, b.vec_id b_id,
        |  list_aggregate(list_transform(list_zip(a.ev, b.ev), z -> z[1] * z[2]), 'sum')
        |    / (a.nrm * b.nrm) AS cos_sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_aggregate(list_transform(list_zip(a.ev, b.ev), z -> z[1] * z[2]), 'sum')
        |    / (a.nrm * b.nrm) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    "llm_multimodal_bytes" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
