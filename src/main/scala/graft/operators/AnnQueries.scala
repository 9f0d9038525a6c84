package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.functions.AnnCodebook
import graft.functions.AnnCodebook.{evalSlice, recallAt10, top10}
import graft.functions.VectorFunctions.{dvecDot, vecDot, vecNorm}
import graft.operators.ScaleQueries.lshBucket
import graft.sources.Tables

/** The vector-search family: every `llm_ann_*`, `llm_knn_*` and
  * `llm_emb_*` query and `llm_simsearch_topk` — brute-force, IVF,
  * multiprobe, LSH and PQ probes, the probe-quality evals (recall@1,
  * recall@10, NDCG@10, MRR@10, MAP@10), embedding-quantization
  * retrieval evals (Matryoshka truncation, 1-bit, int8) and the
  * embedding-space audits.
  *
  * Every ranking-quality query grades against ONE eval slice, the
  * 256-vector hash sample of [[AnnCodebook.evalSlice]], with the
  * shared exact/probe top-10 sets and the half-up recall select beside
  * it; each has its DuckDB twin there, so a query and its oracle read
  * the same slice. The probe evals read the memoized build-once index
  * ([[AnnCodebook.indexed]]); the quantization evals read the raw
  * embeddings with norms, so they build no index.
  *
  * Scale design: every exact side pairs the corpus only against the
  * constant-size slice (pair volume 256·n, the broadcast side
  * constant); sign bits pack into two 32-bit longs per VECTOR (not per
  * pair) so the Hamming ranking is two XOR+popcounts per candidate.
  *
  * Determinism: dots accumulate left-to-right in double via the
  * codegen'd FloatVecDot/DoubleVecDot (bit-identical to DuckDB's
  * list_aggregate fold); int8 codes are floor()-quantized integers
  * (floor, not engine-divergent double→int casts); recalls are emitted
  * as exact half-up 1e-4 integers (2-5-smooth denominators); per-query
  * rationals are round(·, 8)-quantized before every cross-query
  * decimal sum. PQ subspace distances and embedding norms are left
  * folds (`aggregate` over `zip_with`) in DuckDB's
  * `list_aggregate(_, 'sum')` element order, so argmin code
  * assignment and norms are bit-identical.
  */
object AnnQueries extends graft.QueryFamily {

  /** PQ code assignment shared by `llm_ann_pq` (codes + error) and
    * `llm_ann_pq_adc` (asymmetric-distance search): one row per
    * (vec_id, subspace) with the argmin codeword and its squared
    * distance. Codebook = the subvectors of vec_id 1..16 (128 rows by
    * construction — always broadcast); distances are left-fold sums
    * matching DuckDB's `list_aggregate 'sum'` element order, so the
    * argmin (ties → lowest code id) is bit-identical cross-engine.
    */
  private def pqAssign(s: SparkSession, dir: String) = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("ev"))
    val subs = (0 until 8).map(j =>
      struct(lit(j).as("j"), slice(col("ev"), j * 8 + 1, 8).as("sv")))
    val vecSub = e.select(col("vec_id"), explode(array(subs: _*)).as("s"))
      .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))
    val code = vecSub.where(col("vec_id").between(1, 16))
      .select(col("vec_id").cast("int").as("c"), col("j").as("cj"),
        col("sv").as("cw"))
    val dist = vecSub.join(broadcast(code), col("j") === col("cj"))
      .select(col("vec_id"), col("j"), col("c"),
        aggregate(zip_with(col("sv"), col("cw"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
    dist.groupBy("vec_id", "j")
      .agg(min(struct(col("d2"), col("c"))).as("b"))
      .select(col("vec_id"), col("j"), col("b.c").as("c"), col("b.d2").as("d2"))
  }

  /** Raw embeddings with norms: the unindexed vector frame the
    * quantization evals grade over. */
  private def normed(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))

  /** The dim-truncation overlap pipeline on an arbitrary corpus frame
    * (llm_ann_dim_truncate = this over Tables.embeddings; frame-
    * parametric so ScaleDryRun measures the shipped pipeline).
    *
    * r15 batch 5: the 256·n pair frame used to feed the exact and the
    * quantized top-10 windows LAZILY — the whole crossjoin + per-pair
    * scoring evaluated twice, once per window (the before-plan shows
    * two BroadcastNestedLoopJoin subtrees). Both scores are now
    * computed in ONE pass and the narrow (a_id, b_id, two doubles)
    * frame is checkpointed once; both windows rank the same
    * materialized scores, so the ranked values (and the declared
    * output) are bit-identical. Same restructure in the binary/int8
    * recall queries below. */
  private[graft] def truncOverlapOf(raw: DataFrame): DataFrame = {
    val e = normed(raw)
    val (_, aS) = evalSlice(e)
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
      col("nrm").as("b_n"),
      vecNorm(slice(col("embedding"), 1, 32)).as("b_n32"))
    val pairs = b.crossJoin(broadcast(
        aS.withColumn("a_n32", vecNorm(slice(col("a_v"), 1, 32)))))
      .where(col("a_id") =!= col("b_id"))
    val scored = graft.tools.Materialize.eager("trunc.scores",
      pairs.select(col("a_id"), col("b_id"),
        (vecDot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
          .as("s_x"),
        (vecDot(slice(col("a_v"), 1, 32), slice(col("b_v"), 1, 32))
          / (col("a_n32") * col("b_n32"))).as("s_q")))
    recallAt10(top10(scored, col("s_x").desc), top10(scored, col("s_q").desc),
      "overlap_at_10")
  }

  /** (hits, nVecs): probe-top10 rows that are exact-top10 relevant, as
    * (a_id, rk), and the slice size — the shared base of NDCG/MRR/MAP.
    * Oracle twin: [[probeHitsSql]]. */
  private def probeHits(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (sample, ex10, ann10) = AnnCodebook.probeEval(s, dir)
    (ann10.join(ex10.select("a_id", "b_id"), Seq("a_id", "b_id")).select("a_id", "rk"),
      sample.agg(count(lit(1)).as("n_vecs")))
  }

  /** Oracle CTE prefix ending in hits(a_id, rk) + ksmp. */
  private def probeHitsSql: String =
    s"""WITH ${AnnCodebook.probeEvalSql},
      |hits AS (SELECT a_id, an10.rk AS rk FROM an10 JOIN ex10 USING (a_id, b_id))"""
      .stripMargin

  /** Oracle prelude over the raw embeddings: the eval slice, `p`
    * (carrying `extra` columns) and the exact top-10 `ex10`. */
  private def rawEvalSql(extra: String*): String =
    s"""WITH ${AnnCodebook.rawVectorsSql},
      |${AnnCodebook.evalSliceSql},
      |${AnnCodebook.exactTop10Sql(extra: _*)}""".stripMargin

  val queries: Map[String, QFn] = Map(

    "llm_simsearch_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      emb.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          (vecDot(col("embedding"), col("qv"))
            / (vecNorm(col("embedding")) * vecNorm(col("qv")))).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // EXACT all-corpus 1-NN — no longer the whitelisted brute-force
    // theta join: AnnCodebook.exactNN1 routes the same semantics
    // through k-means cells with triangle-inequality cell pruning
    // (lossless — see its scaladoc for the bound), so the plan is
    // cell-equi-joins plus K-row broadcasts. The DuckDB oracle stays
    // brute force: pruning must not move a single output bit.
    "llm_knn_join" -> ((s, dir) =>
      graft.functions.AnnCodebook.exactNN1(s, dir).orderBy("vec_id")),

    // ---- IVF ANN: seeded k-means codebook (64 cells), probe 1 cell -----
    // Round-2's 4-cell sign quantizer scanned ~25% of the corpus per
    // probe; the AnnCodebook k-means index (md5-seeded init, 2 fixed
    // Lloyd steps, integer centroid sums replayed exactly by the
    // oracle) brings the mean probe to ~1/64 of the corpus. The probe
    // itself is unchanged: broadcast the query row, equi-join on its
    // cell, TakeOrdered top-10.
    "llm_ann_ivf" -> ((s, dir) => {
      val (e, _) = graft.functions.AnnCodebook.indexed(s, dir)
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("nrm").as("qn"),
          col("cell").as("qcell"))
      e.where(col("vec_id") =!= 0)
        .join(broadcast(q), col("cell") === col("qcell"))
        .select(col("vec_id"), col("cell"),
          (vecDot(col("embedding"), col("qv"))
            / (col("nrm") * col("qn"))).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- LSH-bucketed ANN: 8 random-hyperplane sign bits ---------------
    // hyperplanes are md5-derived (identical integer arithmetic in the
    // oracle), signature = sign pattern of the 8 dots, probe = the
    // query's bucket only. At 100 TB the bucket id becomes a storage
    // partition key; multi-probe = flip low-margin bits.
    "llm_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), lshBucket(col("embedding")).as("bucket"))
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
      e.where(col("vec_id") =!= 0)
        .join(broadcast(q), col("bucket") === col("qbucket"))
        .select(col("vec_id"), col("bucket"),
          (vecDot(col("embedding"), col("qv"))
            / (vecNorm(col("embedding")) * vecNorm(col("qv")))).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- multi-probe IVF ANN --------------------------------------------
    // probes the query's 3 NEAREST codebook cells (by centroid score) —
    // the standard recall lever over a single k-means index; at 100 TB
    // the probe set is still a constant fan-out of partition-key
    // lookups, not a scan. Round 2 multi-probed the hyperplane-LSH
    // buckets via Hamming-1 flips; with the AnnCodebook k-means
    // quantizer (64 cells) the analogous move is nearest-centroid
    // probing. llm_ann_lsh keeps the hyperplane index alive.
    "llm_ann_multiprobe" -> ((s, dir) => {
      val (e, cent) = AnnCodebook.indexed(s, dir)
      val cn = cent.select(col("cell").as("pcell"), col("csum"))
      val probes = e.where(col("vec_id") === 0)
        .select(AnnCodebook.quantize(col("embedding")).as("qv"),
          col("embedding").as("qe"), col("nrm").as("qn"))
        .crossJoin(broadcast(cn))
        .select(col("qe"), col("qn"), col("pcell"),
          AnnCodebook.score(col("qv"), col("csum")).as("sc"))
        .orderBy(col("sc").desc, col("pcell").asc).limit(3)
        .select("qe", "qn", "pcell")
      e.where(col("vec_id") =!= 0)
        .join(broadcast(probes), col("cell") === col("pcell"))
        .select(col("vec_id"), col("cell"),
          (vecDot(col("embedding"), col("qe"))
            / (col("nrm") * col("qn"))).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- product-quantization ANN codes --------------------------------
    // The memory-compressed ANN path: split each 64-dim embedding into
    // 8 contiguous 8-dim subspaces, quantize each subvector to its
    // nearest codeword (L2, ties → lowest code id) from a 16-entry
    // codebook per subspace (deterministically the subvectors of
    // vec_id 1..16), and emit the 8-byte PQ code plus the total
    // quantization error. At 100 TB this is how embeddings fit in
    // executor memory for ANN re-ranking: 8 code bytes instead of 256
    // vector bytes, codebook broadcast (128 rows by construction),
    // assignment map-side — the only corpus shuffle is the final sort.
    "llm_ann_pq" -> ((s, dir) => {
      pqAssign(s, dir).groupBy("vec_id")
        .agg(concat_ws(":",
            transform(array_sort(collect_list(struct(col("j"), col("c")))),
              p => p.getField("c").cast("string"))).as("pq_code"),
          sum(round(col("d2"), 8).cast(DecimalType(18, 8))).cast(DoubleType)
            .as("qerr"))
        .orderBy("vec_id")
    }),

    // ---- PQ asymmetric-distance top-k search ---------------------------
    // The search half of the PQ pipeline: precompute the query vector's
    // 16×8 lookup table of subspace distances to every codeword, then
    // score each vector as the SUM OF TABLE LOOKUPS over its 8 codes —
    // never touching the original vectors. This is how PQ serves ANN at
    // 100 TB: codes are 8 bytes/vector in executor memory, the LUT is
    // 128 broadcast rows, scoring is one equi-join + grouped sum, and
    // the top-k plans as TakeOrderedAndProject.
    "llm_ann_pq_adc" -> ((s, dir) => {
      val best = pqAssign(s, dir)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("ev"))
      val qsubs = (0 until 8).map(j =>
        struct(lit(j).as("j"), slice(col("ev"), j * 8 + 1, 8).as("sv")))
      val qsub = e.where(col("vec_id") === 0)
        .select(explode(array(qsubs: _*)).as("s"))
        .select(col("s.j").as("lj"), col("s.sv").as("qv"))
      val cb = e.where(col("vec_id").between(1, 16))
        .select(col("vec_id").cast("int").as("lc"),
          explode(array(qsubs: _*)).as("s"))
        .select(col("lc"), col("s.j").as("cj"), col("s.sv").as("cw"))
      val lut = cb.join(broadcast(qsub), col("cj") === col("lj"))
        .select(col("lc"), col("cj"),
          aggregate(zip_with(col("qv"), col("cw"), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("qd2"))
      best.where(col("vec_id") =!= 0)
        .join(broadcast(lut), col("j") === col("cj") && col("c") === col("lc"))
        .groupBy("vec_id")
        .agg(sum(round(col("qd2"), 8).cast(DecimalType(18, 8)))
          .cast(DoubleType).as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- ANN codebook cell-occupancy audit ------------------------------
    // Vectors per k-means cell, share of the corpus, and size rank —
    // the skew report for the IVF index (a cell holding 30% of the
    // corpus means probe cost is NOT the promised n/K; at 100 TB it
    // means one storage partition is 300× its siblings). Reads the
    // memoized build-once index (cells are its partition key); every
    // window here runs over the ≤64-row cell aggregate.
    "llm_ann_cell_balance" -> ((s, dir) => {
      val (e, _) = AnnCodebook.indexed(s, dir)
      val cb = e.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      cb.select(col("cell"), col("n_vecs"),
          (col("n_vecs").cast(DoubleType) /
            sum(col("n_vecs")).over(Window.partitionBy())).as("share"),
          row_number().over(
            Window.orderBy(col("n_vecs").desc, col("cell").asc))
            .cast("long").as("size_rank"))
        .orderBy("cell")
    }),

    // ---- ANN recall@1 vs exact ground truth ------------------------------
    // Recall@1 of the own-cell ANN probe (same k-means codebook as
    // llm_ann_ivf, 64 cells) against the EXACT 1-NN, measured on a
    // deterministic 256-vector hash-sampled eval slice — the round-2
    // "sampled at scale" prose, now in code: the slice is top-256 by
    // (md5-hash, vec_id), so its size is constant in the corpus and
    // both sides stay corpus-linear. The exact side reuses
    // AnnCodebook's triangle-pruned exact 1-NN (no brute-force theta
    // join anywhere); the ANN side is one cell-equi-join over the
    // sampled vectors. A sampled vector whose cell holds no partner
    // counts as a miss (left join).
    "llm_ann_recall" -> ((s, dir) => {
      val (e, _) = AnnCodebook.indexed(s, dir)
      val (sample, aS) = evalSlice(e, "cell")
      val exact = AnnCodebook.exactNN1From(s, dir, Some(sample))
        .select(col("vec_id").as("a_id"), col("nn_id").as("nn_exact"))
      val bS = e.select(col("vec_id").as("b_id"), col("cell"),
        col("embedding").as("b_v"), col("nrm").as("b_n"))
      val ann = aS.join(bS, Seq("cell"))
        .where(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          (vecDot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n"))).as("cos_sim"))
        .groupBy("a_id")
        .agg(max_by(col("b_id"), struct(col("cos_sim"), -col("b_id"))).as("nn_ann"))
      exact.join(ann, Seq("a_id"), "left")
        .agg(count(lit(1)).as("n_vecs"),
          count_if(col("nn_ann") === col("nn_exact")).as("n_match"))
        .select(col("n_vecs"), col("n_match"),
          round(col("n_match").cast("double") / col("n_vecs"), 4).as("recall_at_1"))
    }),

    // ---- ANN recall@10: 3-probe IVF vs exact slice ----------------------
    // The standard ANN eval beside recall@1: for the deterministic
    // 256-vector slice, exact cosine top-10 (corpus × broadcast slice —
    // pair volume bounded by 256·n, the broadcast side constant) vs the
    // index's top-10 probing each query's 3 best codebook cells (the
    // llm_ann_multiprobe regime). recall@10 = |exact∩probed| / |exact|.
    "llm_ann_recall10" -> ((s, dir) => {
      val (_, ex10, ann10) = AnnCodebook.probeEval(s, dir)
      recallAt10(ex10, ann10, "recall_at_10")
    }),

    // ---- NDCG@10 of the IVF probe vs exact -------------------------------
    // The graded complement of llm_ann_recall10: binary-relevance
    // NDCG@10 of the 3-cell codebook probe against the exact top-10
    // (a hit's VALUE depends on the rank it lands at — recall treats
    // rank 1 and rank 10 alike, NDCG does not). Rank weights
    // 1/log2(i+1) = ln2/ln(i+1) are round(·, 8)-quantized BEFORE the
    // decimal DCG sums; IDCG is the same quantized sum over ranks
    // 1..10, built in-query so both engines normalize by the identical
    // constant. Mean over the 256-vector hash sample (queries with no
    // in-probe hits contribute 0 through the sample-count denominator).
    "llm_ann_ndcg" -> ((s, dir) => {
      val (hits, nv) = probeHits(s, dir)
      def w(i: Column) =
        round(log(lit(2.0)) / log(d(i) + 1), 8).cast(DecimalType(18, 8))
      val dcg = hits.groupBy("a_id").agg(sum(w(col("rk"))).as("dcg"))
      val norm = nv
        .select(col("n_vecs"), explode(sequence(lit(1), lit(10))).as("i"))
        .groupBy("n_vecs").agg(sum(w(col("i"))).as("idcg"))
      dcg.crossJoin(broadcast(norm))
        .agg(max("n_vecs").as("n_vecs"), max("idcg").as("__idcg"),
          sum(round(col("dcg").cast(DoubleType) /
            col("idcg").cast(DoubleType), 8).cast(DecimalType(18, 8)))
            .as("__snd"))
        .select(col("n_vecs"),
          round(col("__snd").cast(DoubleType) / col("n_vecs").cast(DoubleType), 6)
            .as("mean_ndcg10"))
    }),

    // ---- MRR@10 of the IVF probe vs exact ----------------------------------
    // Mean reciprocal rank of the FIRST exact-relevant item in the
    // probe's top-10 — "how soon does the index show something right".
    // Per-query 1/min(rk) is round(·, 8)-quantized before the decimal
    // sum; no-hit queries contribute 0 via the sample-count
    // denominator.
    "llm_ann_mrr" -> ((s, dir) => {
      val (hits, nv) = probeHits(s, dir)
      hits.groupBy("a_id").agg(min("rk").as("minrk"))
        .agg(sum(round(lit(1.0) / d(col("minrk")), 8)
          .cast(DecimalType(18, 8))).as("srr"))
        .crossJoin(broadcast(nv))
        .select(col("n_vecs"),
          round(d(col("srr")) / d(col("n_vecs")), 6).as("mean_mrr10"))
    }),

    // ---- MAP@10 of the IVF probe vs exact ----------------------------------
    // Mean average precision: per query AP = (1/10)·Σ_hits
    // precision@rk with precision@rk = (hit index among hits by rank)
    // / rk — every precision an exact small rational, round(·, 8)-
    // quantized, summed per query then across the sample.
    "llm_ann_map" -> ((s, dir) => {
      val (hits, nv) = probeHits(s, dir)
      val prec = hits.withColumn("hi", row_number().over(
        Window.partitionBy("a_id").orderBy("rk")))
      prec.groupBy("a_id")
        .agg(sum(round(d(col("hi")) / d(col("rk")), 8)
          .cast(DecimalType(18, 8))).as("psum"))
        .agg(sum(round(d(col("psum")) / 10.0, 8).cast(DecimalType(18, 8)))
          .as("sap"))
        .crossJoin(broadcast(nv))
        .select(col("n_vecs"),
          round(d(col("sap")) / d(col("n_vecs")), 6).as("mean_map10"))
    }),

    // ---- 1-NN label accuracy ------------------------------------------------------
    // Exact nearest-neighbor label prediction over the eval sample —
    // the classification view of embedding quality (llm_ann_recall
    // grades the INDEX; this grades the SPACE). Constant 256-row
    // broadcast against the corpus, ties broken by vec_id.
    "llm_knn_label_acc" -> ((s, dir) => {
      val (e, _) = AnnCodebook.indexed(s, dir)
      val lbl = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("lab"))
      val nn = AnnCodebook.exactTop10(e, evalSlice(e)._2).where(col("rk") === 1)
      nn.join(lbl.toDF("a_id", "la"), Seq("a_id"))
        .join(lbl.toDF("b_id", "lb"), Seq("b_id"))
        .agg(count(lit(1)).as("n_eval"),
          count_if(col("la") === col("lb")).as("n_correct"))
        .select(col("n_eval"), col("n_correct"),
          round(d(col("n_correct")) / d(col("n_eval")), 6).as("accuracy"))
    }),

    // ---- Matryoshka dimension-truncation overlap ---------------------------------
    // Top-10 by cosine over the FIRST 32 of 64 dims vs the full-dim
    // exact top-10 — the truncate-don't-retrain retrieval eval. Both
    // rankings run over the same 256·n pair set.
    "llm_ann_dim_truncate" -> ((s, dir) =>
      truncOverlapOf(Tables.embeddings(s, dir))),

    // ---- 1-bit sign-quantization recall -------------------------------------------
    // Candidates ranked by Hamming distance of the 64 sign bits
    // (packed per vector into two 32-bit longs; two XOR+popcounts per
    // pair) vs the exact cosine top-10.
    "llm_emb_binary_recall" -> ((s, dir) => {
      val e0 = normed(Tables.embeddings(s, dir))
      val (_, aS0) = evalSlice(e0)
      def packBits(vName: String, off: Int): Column = expr(
        s"aggregate(zip_with(slice($vName, ${off + 1}, 32), " +
          "sequence(0, 31), (x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), " +
          "0L, (acc, v) -> acc + v)")
      val e = e0.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
        col("nrm").as("b_n"),
        packBits("embedding", 0).as("b_lo"),
        packBits("embedding", 32).as("b_hi"))
      val aS = aS0
        .withColumn("a_lo", packBits("a_v", 0))
        .withColumn("a_hi", packBits("a_v", 32))
      // one scoring pass + checkpoint feeding both windows (see
      // truncOverlapOf) — the Hamming rank orders ASC
      val scored = graft.tools.Materialize.eager("bin.scores",
        e.crossJoin(broadcast(aS))
          .where(col("a_id") =!= col("b_id"))
          .select(col("a_id"), col("b_id"),
            (vecDot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
              .as("s_x"),
            (bit_count(col("a_lo").bitwiseXOR(col("b_lo")))
              + bit_count(col("a_hi").bitwiseXOR(col("b_hi")))).as("hd")))
      recallAt10(top10(scored, col("s_x").desc), top10(scored, col("hd").asc),
        "recall_at_10")
    }),

    // ---- int8 symmetric-quantization recall ----------------------------------------
    // Per-vector codes qᵢ = floor(127·xᵢ/max|x|); candidates ranked by
    // the cosine of the integer code vectors vs the exact float top-10.
    "llm_emb_int8_recall" -> ((s, dir) => {
      val e0 = normed(Tables.embeddings(s, dir))
      val (_, aS0) = evalSlice(e0)
      def q8(v: Column): Column = {
        val mx = array_max(transform(v, x => abs(x)))
        transform(v, x => floor(x.cast(DoubleType) * lit(127.0)
          / mx.cast(DoubleType)))
      }
      val e = e0.select(col("vec_id").as("b_id"), col("embedding").as("b_v"),
        col("nrm").as("b_n"), q8(col("embedding")).as("b_q"))
        .withColumn("b_qn", sqrt(dvecDot(col("b_q"), col("b_q"))))
      val aS = aS0.withColumn("a_q", q8(col("a_v")))
        .withColumn("a_qn", sqrt(dvecDot(col("a_q"), col("a_q"))))
      // one scoring pass + checkpoint feeding both windows (see
      // truncOverlapOf)
      val scored = graft.tools.Materialize.eager("int8.scores",
        e.crossJoin(broadcast(aS))
          .where(col("a_id") =!= col("b_id"))
          .select(col("a_id"), col("b_id"),
            (vecDot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
              .as("s_x"),
            (dvecDot(col("a_q"), col("b_q")) / (col("a_qn") * col("b_qn")))
              .as("s_q")))
      recallAt10(top10(scored, col("s_x").desc), top10(scored, col("s_q").desc),
        "recall_at_10")
    }),

    // ---- per-dimension sign balance ------------------------------------------------
    // Share of vectors with a positive coordinate, per dimension — the
    // isotropy audit beside llm_emb_dim_variance (a mean-shifted
    // dimension shows up as a lopsided sign split). 64 rows.
    "llm_emb_sign_balance" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          count_if(col("x") > lit(0.0f)).as("n_pos"))
        .select(col("dim"), col("n"), col("n_pos"),
          round(d(col("n_pos")) / d(col("n")), 6).as("pos_share"))
        .orderBy("dim")),

    // ---- embedding per-dimension variance audit --------------------------
    // ANN-health check: mean and variance of every embedding
    // coordinate, plus each dimension's share of total variance —
    // collapsed (near-zero-variance) dims poison recall and signal a
    // degenerate encoder. Coordinates ride the codebook's exact
    // integer grid (floor 1e6 — the AnnCodebook.quantize idiom), so
    // every moment is an integer sum; shares use 8dp-rounded
    // decimal-summed variance terms. Map-side explode, one 64-key
    // shuffle, 1-row total broadcast.
    "llm_emb_dim_variance" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir)
        .select(posexplode(graft.functions.AnnCodebook.quantize(col("embedding"))))
        .select(col("pos").as("dim"), col("col").cast("long").as("qx"))
      // mean and variance as EXACT half-up 1e-6 integers (BoundaryGuard
      // r9: sq/n and (n·sqq−sq²)/(n²·1e6) with 2-5-smooth vector counts
      // terminate and land exactly on 6dp half boundaries); decimal
      // operands keep the moment products exact past sf100
      val byDim = q.groupBy("dim")
        .agg(count(lit(1)).as("n_vecs"), sum("qx").as("sq"),
          sum(col("qx") * col("qx")).as("sqq"))
        .withColumn("m6", expr(
          "CASE WHEN sq >= 0 THEN (2 * sq + n_vecs) div (2 * n_vecs) " +
            "ELSE -((2 * (-sq) + n_vecs) div (2 * n_vecs)) END"))
        .withColumn("num",
          col("n_vecs").cast(DecimalType(38, 0)) * col("sqq")
            - col("sq").cast(DecimalType(38, 0)) * col("sq"))
        .withColumn("den",
          col("n_vecs").cast(DecimalType(38, 0)) * col("n_vecs") * 1000000)
        .withColumn("v6", expr("(2 * num + den) div (2 * den)"))
      val tot = byDim.agg(sum("v6").as("vt6"))
      byDim.crossJoin(broadcast(tot))
        .select(col("dim"), col("n_vecs"),
          (col("m6").cast(DoubleType) / 1000000.0).as("mean"),
          (col("v6").cast(DoubleType) / 1000000.0).as("variance"),
          (col("v6").cast(DoubleType) / col("vt6").cast(DoubleType))
            .as("var_share"))
        .orderBy("dim")
    }),

    // ---- embedding norm audit -------------------------------------------
    // Corpus-level health of the vector column: zero/near-zero vector
    // counts (an ANN index poison), mean/min/max norms. One map pass +
    // one aggregate; the norm fold is the same left-to-right double
    // accumulation DoubleVecDot uses.
    "llm_emb_norm_audit" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"), sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
          .as("nrm"))
        .agg(count(lit(1)).as("n_vecs"),
          count_if(col("nrm") === 0.0).as("n_zero"),
          count_if(col("nrm") < 0.01).as("n_near_zero"),
          (sum(round(col("nrm"), 8).cast(DecimalType(18, 8)))
            .cast(DoubleType) / count(lit(1))).as("mean_norm"),
          round(min("nrm"), 6).as("min_norm"),
          round(max("nrm"), 6).as("max_norm"))
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

    // ---- split-half centroid drift ---------------------------------------------------
    // Per label: L2 distance between the even-vec_id and odd-vec_id
    // half centroids — the reproducibility/drift check (a stable
    // embedding space has near-identical half centroids). Components
    // 6dp-quantized and decimal-summed per (label, dim); squared
    // deltas 10dp-quantized before the cross-dim sum; one √.
    "llm_emb_drift" -> ((s, dir) => {
      val g = Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("lab"),
          (col("vec_id") % 2 === 0).as("even"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("lab", "pos")
        .agg(
          sum(when(col("even"), round(d(col("v")), 6))
            .otherwise(lit(0.0)).cast(DecimalType(28, 6))).as("se"),
          count_if(col("even")).as("ne"),
          sum(when(!col("even"), round(d(col("v")), 6))
            .otherwise(lit(0.0)).cast(DecimalType(28, 6))).as("so"),
          count_if(!col("even")).as("no"))
      val delta = d(col("se")) / d(col("ne")) - d(col("so")) / d(col("no"))
      g.select(col("lab"), col("ne"), col("no"),
          round(delta * delta, 10).cast(DecimalType(28, 10)).as("d2"))
        .groupBy("lab")
        .agg(max("ne").as("n_even"), max("no").as("n_odd"),
          round(sqrt(d(sum("d2"))), 6).as("drift"))
        .orderBy("lab")
    })
  )

  // ---- DuckDB oracles ----------------------------------------------------

  private val simsearchOracle =
    """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |           FROM embeddings WHERE vec_id = 0),
      |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |      FROM embeddings WHERE vec_id <> 0)
      |SELECT e.vec_id,
      |  list_aggregate(list_transform(list_zip(e.ev, q.qv), p -> p[1] * p[2]), 'sum') /
      |  (sqrt(list_aggregate(list_transform(e.ev, x -> x * x), 'sum')) *
      |   sqrt(list_aggregate(list_transform(q.qv, x -> x * x), 'sum'))) AS cos_sim
      |FROM e, q ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin

  private val knnOracle =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |           FROM embeddings),
      |n AS (SELECT vec_id, ev, sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum')) AS nrm FROM e),
      |p AS (SELECT a.vec_id a_id, b.vec_id b_id,
      |        list_aggregate(list_transform(list_zip(a.ev, b.ev), z -> z[1] * z[2]), 'sum')
      |          / (a.nrm * b.nrm) AS cos_sim
      |      FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) rn FROM p)
      |SELECT a_id AS vec_id, b_id AS nn_id, cos_sim FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  private val annIvfOracle =
    s"WITH ${graft.functions.AnnCodebook.oracleCtes}," +
    """
      |ke AS (SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS ev,
      |    kcells.cell AS cell
      |  FROM embeddings e JOIN kcells ON e.vec_id = kcells.vec_id),
      |q AS (SELECT ev qv, cell qcell FROM ke WHERE vec_id = 0)
      |SELECT ke.vec_id, ke.cell,
      |  list_aggregate(list_transform(list_zip(ke.ev, q.qv), p -> p[1] * p[2]), 'sum') /
      |  (sqrt(list_aggregate(list_transform(ke.ev, x -> x * x), 'sum')) *
      |   sqrt(list_aggregate(list_transform(q.qv, x -> x * x), 'sum'))) AS cos_sim
      |FROM ke, q WHERE ke.vec_id <> 0 AND ke.cell = q.qcell
      |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(

    "llm_simsearch_topk" -> simsearchOracle,

    "llm_knn_join" -> knnOracle,

    "llm_ann_ivf" -> annIvfOracle,

    "llm_ann_lsh" ->
      """WITH hp AS (
        |  SELECT i, list_transform(generate_series(1, 64),
        |    j -> ((('0x' || substr(md5('hp-' || i || '-' || j), 1, 15))::BIGINT % 2001) - 1000) / 1000.0) AS v
        |  FROM (SELECT unnest(generate_series(0, 7)) i)),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) ev FROM embeddings),
        |dots AS (
        |  SELECT e.vec_id, hp.i,
        |    list_aggregate(list_transform(list_zip(e.ev, hp.v), p -> p[1] * p[2]), 'sum') AS dot
        |  FROM e CROSS JOIN hp),
        |sig AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS INT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |q AS (SELECT ev AS qv, bucket AS qbucket FROM e JOIN sig USING (vec_id) WHERE vec_id = 0)
        |SELECT e.vec_id, sig.bucket,
        |  list_aggregate(list_transform(list_zip(e.ev, q.qv), p -> p[1] * p[2]), 'sum') /
        |  (sqrt(list_aggregate(list_transform(e.ev, x -> x * x), 'sum')) *
        |   sqrt(list_aggregate(list_transform(q.qv, x -> x * x), 'sum'))) AS cos_sim
        |FROM e JOIN sig USING (vec_id), q
        |WHERE e.vec_id <> 0 AND sig.bucket = q.qbucket
        |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "llm_ann_multiprobe" -> (
      s"WITH ${graft.functions.AnnCodebook.oracleCtes}," +
      s"""
        |ke AS (SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS ev,
        |    kcells.cell AS cell
        |  FROM embeddings e JOIN kcells ON e.vec_id = kcells.vec_id),
        |kqq AS (SELECT qv FROM kq WHERE vec_id = 0),
        |kprobe AS (SELECT cell AS pcell FROM (
        |    SELECT c.cell, row_number() OVER (
        |      ORDER BY ${graft.functions.AnnCodebook.oracleScore("q.qv", "c.csum")} DESC,
        |        c.cell ASC) AS rn
        |    FROM kqq q CROSS JOIN ${graft.functions.AnnCodebook.oracleFinalCent} c)
        |  WHERE rn <= 3),
        |q AS (SELECT ev AS qv FROM ke WHERE vec_id = 0)
        |SELECT ke.vec_id, ke.cell,
        |  list_aggregate(list_transform(list_zip(ke.ev, q.qv), z -> z[1] * z[2]), 'sum') /
        |  (sqrt(list_aggregate(list_transform(ke.ev, x -> x * x), 'sum')) *
        |   sqrt(list_aggregate(list_transform(q.qv, x -> x * x), 'sum'))) AS cos_sim
        |FROM ke JOIN kprobe ON ke.cell = kprobe.pcell, q
        |WHERE ke.vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin),

    "llm_ann_pq" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
        |  FROM embeddings),
        |js AS (SELECT unnest(generate_series(0, 7)) AS j),
        |vs AS (SELECT vec_id, j, ev[j*8+1 : j*8+8] AS sv FROM e CROSS JOIN js),
        |cb AS (SELECT CAST(vec_id AS INT) AS c, j AS cj, sv AS cw
        |  FROM vs WHERE vec_id BETWEEN 1 AND 16),
        |d AS (SELECT v.vec_id, v.j, cb.c,
        |    list_aggregate(list_transform(list_zip(v.sv, cb.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d2
        |  FROM vs v JOIN cb ON v.j = cb.cj),
        |b AS (SELECT vec_id, j, c, d2 FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) = 1)
        |SELECT vec_id, string_agg(c::VARCHAR, ':' ORDER BY j) AS pq_code,
        |  CAST(sum(CAST(round(d2, 8) AS DECIMAL(18,8))) AS DOUBLE) AS qerr
        |FROM b GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "llm_ann_pq_adc" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
        |  FROM embeddings),
        |js AS (SELECT unnest(generate_series(0, 7)) AS j),
        |vs AS (SELECT vec_id, j, ev[j*8+1 : j*8+8] AS sv FROM e CROSS JOIN js),
        |cb AS (SELECT CAST(vec_id AS INT) AS c, j AS cj, sv AS cw
        |  FROM vs WHERE vec_id BETWEEN 1 AND 16),
        |d AS (SELECT v.vec_id, v.j, cb.c,
        |    list_aggregate(list_transform(list_zip(v.sv, cb.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d2
        |  FROM vs v JOIN cb ON v.j = cb.cj),
        |b AS (SELECT vec_id, j, c FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) = 1),
        |lut AS (SELECT cb.c AS lc, cb.cj,
        |    list_aggregate(list_transform(list_zip(q.sv, cb.cw),
        |      p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS qd2
        |  FROM cb JOIN (SELECT j, sv FROM vs WHERE vec_id = 0) q ON cb.cj = q.j)
        |SELECT b.vec_id,
        |  CAST(sum(CAST(round(lut.qd2, 8) AS DECIMAL(18,8))) AS DOUBLE)
        |    AS adc_dist
        |FROM b JOIN lut ON b.j = lut.cj AND b.c = lut.lc
        |WHERE b.vec_id <> 0
        |GROUP BY b.vec_id ORDER BY adc_dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "llm_ann_cell_balance" -> s"""
      |WITH ${AnnCodebook.oracleCtes},
      |cb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
      |  FROM kcells GROUP BY cell),
      |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM cb)
      |SELECT cell, n_vecs,
      |  CAST(n_vecs AS DOUBLE) / (SELECT total FROM t) AS share,
      |  CAST(row_number() OVER (ORDER BY n_vecs DESC, cell ASC) AS BIGINT) AS size_rank
      |FROM cb ORDER BY cell""".stripMargin,

    "llm_ann_recall" -> s"""
      |WITH ${AnnCodebook.oracleCtes},
      |${AnnCodebook.indexedVectorsSql},
      |${AnnCodebook.evalSliceSql},
      |${AnnCodebook.exactTop10Sql("b.cell AS bcell")},
      |ex AS (SELECT a_id, b_id AS nn_exact FROM ex10 WHERE rk = 1),
      |an AS (SELECT a_id, b_id AS nn_ann FROM (
      |    SELECT p.a_id, p.b_id, row_number() OVER (PARTITION BY p.a_id
      |      ORDER BY cos_sim DESC, b_id ASC) rn
      |    FROM p JOIN n ON n.vec_id = p.a_id WHERE n.cell = p.bcell)
      |  WHERE rn = 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(count_if(an.nn_ann = ex.nn_exact) AS BIGINT) AS n_match,
      |  round(count_if(an.nn_ann = ex.nn_exact) * 1.0 / count(*), 4) AS recall_at_1
      |FROM ex LEFT JOIN an USING (a_id)""".stripMargin,

    "llm_ann_recall10" -> s"""
      |WITH ${AnnCodebook.probeEvalSql}
      |${AnnCodebook.recallAt10Sql("ex10", "an10", "recall_at_10")}""".stripMargin,

    "llm_ann_ndcg" -> (probeHitsSql + """,
        |dcg AS (SELECT a_id,
        |    sum(CAST(round(ln(2.0) / ln(CAST(rk AS DOUBLE) + 1), 8)
        |      AS DECIMAL(18,8))) AS dcg
        |  FROM hits GROUP BY a_id),
        |norm AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ksmp) AS n_vecs,
        |    sum(CAST(round(ln(2.0) / ln(CAST(i AS DOUBLE) + 1), 8)
        |      AS DECIMAL(18,8))) AS idcg
        |  FROM unnest(generate_series(1, 10)) u(i))
        |SELECT max(n_vecs) AS n_vecs,
        |  round(CAST(sum(CAST(round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 8)
        |      AS DECIMAL(18,8))) AS DOUBLE) / CAST(max(n_vecs) AS DOUBLE), 6)
        |    AS mean_ndcg10
        |FROM dcg CROSS JOIN norm""").stripMargin,

    "llm_ann_mrr" -> (probeHitsSql + """,
        |rr AS (SELECT a_id, min(rk) AS minrk FROM hits GROUP BY a_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ksmp) AS n_vecs,
        |  round(CAST(sum(CAST(round(1.0 / CAST(minrk AS DOUBLE), 8)
        |      AS DECIMAL(18,8))) AS DOUBLE)
        |    / (SELECT CAST(count(*) AS DOUBLE) FROM ksmp), 6) AS mean_mrr10
        |FROM rr""").stripMargin,

    "llm_ann_map" -> (probeHitsSql + """,
        |prec AS (SELECT a_id, rk, row_number() OVER (PARTITION BY a_id
        |    ORDER BY rk) AS hi FROM hits),
        |ap AS (SELECT a_id,
        |    sum(CAST(round(CAST(hi AS DOUBLE) / CAST(rk AS DOUBLE), 8)
        |      AS DECIMAL(18,8))) AS psum
        |  FROM prec GROUP BY a_id)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ksmp) AS n_vecs,
        |  round(CAST(sum(CAST(round(CAST(psum AS DOUBLE) / 10.0, 8)
        |      AS DECIMAL(18,8))) AS DOUBLE)
        |    / (SELECT CAST(count(*) AS DOUBLE) FROM ksmp), 6) AS mean_map10
        |FROM ap""").stripMargin,

    "llm_knn_label_acc" -> s"""
      |${rawEvalSql()}
      |SELECT CAST(count(*) AS BIGINT) AS n_eval,
      |  CAST(count(*) FILTER (la.label = lb.label) AS BIGINT) AS n_correct,
      |  round(CAST(count(*) FILTER (la.label = lb.label) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS accuracy
      |FROM (SELECT a_id, b_id FROM ex10 WHERE rk = 1) nn
      |JOIN embeddings la ON nn.a_id = la.vec_id
      |JOIN embeddings lb ON nn.b_id = lb.vec_id""".stripMargin,

    "llm_ann_dim_truncate" -> s"""
      |${rawEvalSql("a.a_v", "b.ev AS b_v")},
      |t AS (SELECT a_id, b_id,
      |    list_aggregate(list_transform(list_zip(a_v[1:32], b_v[1:32]),
      |      z -> z[1] * z[2]), 'sum')
      |    / (sqrt(list_aggregate(list_transform(a_v[1:32],
      |        x -> x * x), 'sum'))
      |      * sqrt(list_aggregate(list_transform(b_v[1:32],
      |        x -> x * x), 'sum'))) AS cos32
      |  FROM p),
      |${AnnCodebook.top10Sql("ap10", "t", "cos32 DESC")}
      |${AnnCodebook.recallAt10Sql("ex10", "ap10", "overlap_at_10")}""".stripMargin,

    "llm_emb_binary_recall" -> s"""
      |${rawEvalSql()},
      |bits AS (SELECT vec_id,
      |    CAST(list_aggregate(list_transform(range(1, 33),
      |      i -> CASE WHEN ev[i] > 0 THEN (1::BIGINT << (i - 1))
      |        ELSE 0 END), 'sum') AS BIGINT) AS lo,
      |    CAST(list_aggregate(list_transform(range(33, 65),
      |      i -> CASE WHEN ev[i] > 0 THEN (1::BIGINT << (i - 33))
      |        ELSE 0 END), 'sum') AS BIGINT) AS hi
      |  FROM n),
      |h AS (SELECT p.a_id, p.b_id,
      |    bit_count(xor(ba.lo, bb.lo)) + bit_count(xor(ba.hi, bb.hi)) AS hd
      |  FROM p JOIN bits ba ON ba.vec_id = p.a_id
      |    JOIN bits bb ON bb.vec_id = p.b_id),
      |${AnnCodebook.top10Sql("ap10", "h", "hd ASC")}
      |${AnnCodebook.recallAt10Sql("ex10", "ap10", "recall_at_10")}""".stripMargin,

    "llm_emb_int8_recall" -> s"""
      |${rawEvalSql()},
      |q AS (SELECT vec_id,
      |    list_transform(ev, x -> CAST(floor(x * 127.0
      |      / list_max(list_transform(ev, y -> abs(y)))) AS BIGINT)) AS qv
      |  FROM n),
      |qn AS (SELECT vec_id, qv,
      |    sqrt(CAST(list_aggregate(list_transform(qv, x -> x * x),
      |      'sum') AS DOUBLE)) AS qnrm
      |  FROM q),
      |c AS (SELECT p.a_id, p.b_id,
      |    CAST(list_aggregate(list_transform(list_zip(qa.qv, qb.qv),
      |      z -> z[1] * z[2]), 'sum') AS DOUBLE) / (qa.qnrm * qb.qnrm)
      |      AS cq
      |  FROM p JOIN qn qa ON qa.vec_id = p.a_id
      |    JOIN qn qb ON qb.vec_id = p.b_id),
      |${AnnCodebook.top10Sql("ap10", "c", "cq DESC")}
      |${AnnCodebook.recallAt10Sql("ex10", "ap10", "recall_at_10")}""".stripMargin,

    "llm_emb_sign_balance" -> """
      |SELECT CAST(i - 1 AS BIGINT) AS dim,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (embedding[CAST(i AS INTEGER)] > 0)
      |    AS BIGINT) AS n_pos,
      |  round(CAST(count(*) FILTER (embedding[CAST(i AS INTEGER)] > 0)
      |      AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS pos_share
      |FROM embeddings, range(1, 65) r(i)
      |GROUP BY i ORDER BY dim""".stripMargin,

    "llm_emb_dim_variance" -> """
      |WITH q AS (SELECT CAST(i - 1 AS INTEGER) AS dim,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS qx
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)),
      |bd AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
      |    CAST(sum(qx) AS BIGINT) AS sq, CAST(sum(qx * qx) AS BIGINT) AS sqq
      |  FROM q GROUP BY dim),
      |bv AS (SELECT dim, n_vecs,
      |    CASE WHEN sq >= 0 THEN (2 * sq + n_vecs) // (2 * n_vecs)
      |         ELSE -((2 * (-sq) + n_vecs) // (2 * n_vecs)) END AS m6,
      |    (2 * (CAST(n_vecs AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq)
      |      + CAST(n_vecs AS HUGEINT) * n_vecs * 1000000)
      |     // (2 * CAST(n_vecs AS HUGEINT) * n_vecs * 1000000) AS v6
      |  FROM bd),
      |tot AS (SELECT sum(v6) AS vt6 FROM bv)
      |SELECT dim, n_vecs,
      |  CAST(m6 AS DOUBLE) / 1000000.0 AS mean,
      |  CAST(v6 AS DOUBLE) / 1000000.0 AS variance,
      |  CAST(v6 AS DOUBLE) / CAST(vt6 AS DOUBLE) AS var_share
      |FROM bv CROSS JOIN tot ORDER BY dim""".stripMargin,

    "llm_emb_norm_audit" ->
      """WITH n AS (SELECT vec_id,
        |    sqrt(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        |  FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(count(*) FILTER (nrm = 0.0) AS BIGINT) AS n_zero,
        |  CAST(count(*) FILTER (nrm < 0.01) AS BIGINT) AS n_near_zero,
        |  CAST(sum(CAST(round(nrm, 8) AS DECIMAL(18,8))) AS DOUBLE)
        |    / count(*) AS mean_norm,
        |  round(min(nrm), 6) AS min_norm,
        |  round(max(nrm), 6) AS max_norm
        |FROM n""".stripMargin,

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

    "llm_emb_drift" -> """
      |WITH x AS (SELECT CAST(label AS BIGINT) AS lab,
      |    (vec_id % 2 = 0) AS even, u.pos - 1 AS pos,
      |    CAST(u.v AS DOUBLE) AS v
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) AS pos) u),
      |g AS (SELECT lab, pos,
      |    sum(CASE WHEN even THEN CAST(round(v, 6) AS DECIMAL(28,6))
      |        ELSE CAST(0 AS DECIMAL(28,6)) END) AS se,
      |    CAST(count(*) FILTER (even) AS BIGINT) AS ne,
      |    sum(CASE WHEN NOT even THEN CAST(round(v, 6) AS DECIMAL(28,6))
      |        ELSE CAST(0 AS DECIMAL(28,6)) END) AS so,
      |    CAST(count(*) FILTER (NOT even) AS BIGINT) AS no
      |  FROM x GROUP BY 1, 2),
      |dd AS (SELECT lab, ne, no,
      |    CAST(round((CAST(se AS DOUBLE) / CAST(ne AS DOUBLE)
      |      - CAST(so AS DOUBLE) / CAST(no AS DOUBLE))
      |      * (CAST(se AS DOUBLE) / CAST(ne AS DOUBLE)
      |      - CAST(so AS DOUBLE) / CAST(no AS DOUBLE)), 10)
      |      AS DECIMAL(28,10)) AS d2
      |  FROM g)
      |SELECT lab, max(ne) AS n_even, max(no) AS n_odd,
      |  round(sqrt(CAST(sum(d2) AS DOUBLE)), 6) AS drift
      |FROM dd GROUP BY lab ORDER BY lab""".stripMargin
  )
}
