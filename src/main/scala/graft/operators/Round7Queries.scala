package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.QueryUtils._
import graft.sources.Tables

/** Round-7 surface batch: distribution-drift and rank statistics on the
  * distributed prefix-sum/rank kernels (KS test, Spearman ρ, PSI,
  * Welch t, Cramér's V), three graph-analytics siblings (local
  * clustering, degree histogram, Adamic-Adar link prediction), and
  * four LLM-pipeline operators (SemDeDup over the IVF codebook,
  * temperature-scaled mixture weights, subword fertility, Dunning LLR
  * keyness) plus a rolling-correlation window.
  *
  * Determinism conventions (see QueryUtils and the Round6 files): all
  * counts exact integers; decimal sums for anything reassociated by
  * partial aggregation; order-risky float terms are round(·, 8) then
  * decimal-summed; one final cast to double + round(·, 4..6); every
  * query ends in a total ORDER BY. Top-k cuts sort by ROUNDED scores
  * (or exact decimals) with a unique tiebreak so a 1-ulp libm
  * difference can never reorder the cut across engines.
  */
object Round7Queries extends graft.QueryFamily {

  val queries: Map[String, QFn] = Map(

    // ---- two-sample Kolmogorov-Smirnov test -----------------------------
    // Treatment-vs-control distribution equality per event type:
    // D = max_v |F_t(v) − F_c(v)| over the pooled observed values —
    // the standard "did the experiment shift the whole distribution"
    // gate. Empirical CDFs ride GlobalRank.withRunningSums (range-
    // partitioned prefix sums over the (type, value)-grouped counts —
    // never a single-task window); each CDF step is an exact
    // integer/integer division, the max picks over identical doubles.
    "agg_ks_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        col("value").cast(DecimalType(18, 6)).as("v"),
        (col("user_id") % 2 === 0).as("treat"))
      val g = ev.groupBy("event_type", "v")
        .agg(count_if(col("treat")).as("ct"), count_if(!col("treat")).as("cc"))
      val r = GlobalRank.withRunningSums(g,
        Seq((col("ct"), "rt", "n_treat"), (col("cc"), "rc", "n_ctrl")),
        Seq("event_type"), Seq(col("v").asc),
        groupsHint = 16) // 5 event types in the schema
      r.select(col("event_type"), col("n_treat"), col("n_ctrl"),
          abs(col("rt").cast(DoubleType) / col("n_treat").cast(DoubleType)
            - col("rc").cast(DoubleType) / col("n_ctrl").cast(DoubleType))
            .as("gap"))
        .groupBy("event_type")
        .agg(max("n_treat").as("n_treat"), max("n_ctrl").as("n_ctrl"),
          round(max("gap"), 6).as("ks_d"))
        .orderBy("event_type")
    }),

    // ---- Welch's unequal-variance t-test --------------------------------
    // The parametric two-arm mean comparison (ANOVA's 2-group sibling,
    // Mann-Whitney's parametric complement): per event type, t and the
    // Welch-Satterthwaite df from exact decimal moments (Σv at (18,6),
    // Σv² over (19,6)-recapped operands so squares stay exact — the
    // CUPED/ANOVA lesson), then one fixed-order double closed form.
    "agg_welch_ttest" -> ((s, dir) => {
      val v = col("value").cast(DecimalType(18, 6))
      val v19 = col("value").cast(DecimalType(19, 6))
      val ev = Tables.events(s, dir).select(col("event_type"),
        (col("user_id") % 2 === 0).as("treat"), v.as("v"), (v19 * v19).as("v2"))
      val m = ev.groupBy("event_type").agg(
        count_if(col("treat")).as("n1"),
        count_if(!col("treat")).as("n2"),
        sum(when(col("treat"), col("v"))).as("s1"),
        sum(when(!col("treat"), col("v"))).as("s2"),
        sum(when(col("treat"), col("v2"))).as("q1"),
        sum(when(!col("treat"), col("v2"))).as("q2"))
      // a, b = the two arms' s²/n standard-error terms; t = Δmean/√(a+b),
      // df = (a+b)² / (a²/(n1−1) + b²/(n2−1)) — one fixed-order double
      // closed form each, mirrored operation-for-operation in the oracle
      val a = (d(col("q1")) - d(col("s1")) * d(col("s1")) / d(col("n1"))) /
        (d(col("n1")) - 1) / d(col("n1"))
      val b = (d(col("q2")) - d(col("s2")) * d(col("s2")) / d(col("n2"))) /
        (d(col("n2")) - 1) / d(col("n2"))
      m.select(col("event_type"), col("n1").as("n_treat"), col("n2").as("n_ctrl"),
          round(d(col("s1")) / d(col("n1")), 6).as("mean_treat"),
          round(d(col("s2")) / d(col("n2")), 6).as("mean_ctrl"),
          round(
            (d(col("s1")) / d(col("n1")) - d(col("s2")) / d(col("n2"))) /
              sqrt(a + b), 6).as("t_stat"),
          round((a + b) * (a + b) /
            (a * a / (d(col("n1")) - 1) + b * b / (d(col("n2")) - 1)), 6)
            .as("df"))
        .orderBy("event_type")
    }),

    // ---- Spearman rank correlation --------------------------------------
    // Monotone association between quantity and price over the whole
    // lineitem fact. ANSI midranks depend only on PER-VALUE counts:
    // with hi(v) = Σ_{v'≤v} cnt(v') (a distributed prefix sum via
    // GlobalRank.withRunningSums over the DISTINCT-VALUE table, never
    // the rows), the doubled midrank is lo+hi = 2·hi − cnt + 1 — so
    // the rank stage shuffles |distinct values| rows, not the fact
    // (a round-7 micro-benchmark found the row-level double-rank form
    // ~2× slower at sf0.1). Midranks rejoin the fact by value: the
    // ~50-row quantity table broadcast, the price table value-equi-keyed.
    // Doubled midranks keep every moment an exact integer/decimal sum
    // (the ×2 cancels from ρ); the closed form is one fixed-order
    // double expression, rounded to 6dp.
    "agg_spearman" -> ((s, dir) => {
      val base = Tables.lineitem(s, dir).select(
        col("l_quantity").cast(DecimalType(18, 2)).as("x"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("y"))
      val xr = GlobalRank.withRunningSums(
          base.groupBy("x").agg(count(lit(1)).as("cx")),
          Seq((col("cx"), "hx", "__nx")), Seq.empty, Seq(col("x").asc))
        .select(col("x").as("x2"), (col("hx") * 2 - col("cx") + 1).as("r2x"))
      val yr = GlobalRank.withRunningSums(
          base.groupBy("y").agg(count(lit(1)).as("cy")),
          Seq((col("cy"), "hy", "__ny")), Seq.empty, Seq(col("y").asc))
        .select(col("y").as("y2"), (col("hy") * 2 - col("cy") + 1).as("r2y"))
      val rows = base
        .join(broadcast(xr), col("x") === col("x2"))
        .join(yr, col("y") === col("y2"))
      def dec19(c: org.apache.spark.sql.Column) = c.cast(DecimalType(19, 0))
      val m = rows.agg(count(lit(1)).as("n"),
        sum("r2x").as("sx"), sum("r2y").as("sy"),
        sum(dec19(col("r2x")) * dec19(col("r2y"))).as("sxy"),
        sum(dec19(col("r2x")) * dec19(col("r2x"))).as("sxx"),
        sum(dec19(col("r2y")) * dec19(col("r2y"))).as("syy"))
      m.select(col("n"),
        round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
           sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
          .as("spearman_rho"))
    }),

    // ---- population stability index (distribution drift) ----------------
    // The model-monitoring drift gate: PSI between the first and second
    // half of the event month per event type, over 10 fixed-width value
    // bins (domain [0, 200), bin = min(⌊v/20⌋, 9) — integer arithmetic,
    // no data-dependent quantile edges). Bins are densified from an
    // exploded 0..9 sequence so absent bins still carry their
    // Laplace-smoothed mass ((c+1)/(N+10) — deterministic, no 0/0);
    // each bin term is round(·, 8) then decimal-summed.
    "agg_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        (dayofmonth(col("ts")) <= 15).as("early"),
        least(greatest(floor(col("value") / 20).cast("int"), lit(0)), lit(9))
          .as("bin"))
      val cnt = ev.groupBy("event_type", "bin")
        .agg(count_if(col("early")).as("ca"), count_if(!col("early")).as("cb"))
      val tot = ev.groupBy(col("event_type").as("et"))
        .agg(count_if(col("early")).as("na"), count_if(!col("early")).as("nb"))
      val grid = ev.select("event_type").distinct()
        .select(col("event_type"), explode(sequence(lit(0), lit(9))).as("bin"))
      val terms = grid
        .join(cnt, Seq("event_type", "bin"), "left")
        .join(broadcast(tot), col("event_type") === col("et"))
        .select(col("event_type"),
          ((d(coalesce(col("ca"), lit(0L))) + 1.0) / (d(col("na")) + 10.0)).as("pa"),
          ((d(coalesce(col("cb"), lit(0L))) + 1.0) / (d(col("nb")) + 10.0)).as("pb"))
        .select(col("event_type"),
          round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 8)
            .cast(DecimalType(18, 8)).as("term"))
      terms.groupBy("event_type")
        .agg(round(sum("term").cast(DoubleType), 6).as("psi"))
        .orderBy("event_type")
    }),

    // ---- Cramér's V (categorical effect size) ---------------------------
    // How strongly does order priority associate with order status? The
    // χ² machinery of agg_chi2_independence (cell terms quantized to
    // decimal(18,8) before the cross-cell sum) on the orders
    // priority×status contingency, normalized to the [0,1] effect size
    // V = sqrt(χ² / (n·(min(r,c)−1))) — the number analysts compare
    // across tables, not just the test statistic.
    "agg_cramers_v" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val cells = o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("obs"))
      val rowT = cells.groupBy(col("o_orderpriority").as("p2"))
        .agg(sum("obs").as("rp"))
      val colT = cells.groupBy(col("o_orderstatus").as("s2"))
        .agg(sum("obs").as("cs"))
      val n = o.agg(count(lit(1)).as("n"))
      val term = cells
        .join(broadcast(rowT), col("o_orderpriority") === col("p2"))
        .join(broadcast(colT), col("o_orderstatus") === col("s2"))
        .crossJoin(broadcast(n))
        .select(col("n"),
          ((col("obs") - col("rp") * col("cs") / col("n"))
            * (col("obs") - col("rp") * col("cs") / col("n"))
            / (col("rp") * col("cs") / col("n")))
            .cast(DecimalType(18, 8)).as("t"),
          col("o_orderpriority"), col("o_orderstatus"))
      term.agg(max("n").as("n_orders"),
          countDistinct("o_orderpriority").as("n_rows_dim"),
          countDistinct("o_orderstatus").as("n_cols_dim"),
          sum("t").as("chi2d"))
        .select(col("n_orders"), col("n_rows_dim"), col("n_cols_dim"),
          round(col("chi2d").cast(DoubleType), 4).as("chi2"),
          round(sqrt(col("chi2d").cast(DoubleType) /
            (col("n_orders").cast(DoubleType) *
              (least(col("n_rows_dim"), col("n_cols_dim")) - 1)
                .cast(DoubleType))), 6).as("cramers_v"))
    }),

    // ---- local clustering coefficient by nation -------------------------
    // "How clique-like is each nation's supplier neighborhood": per-node
    // cc = 2·tri(v)/(deg(v)·(deg(v)−1)) from the wedge-closure triangle
    // enumeration (every join node-keyed, candidate volume Σ deg² — the
    // graph_triangles plan with a per-node rollup), averaged per nation
    // with the round-8-then-decimal-sum convention.
    "graph_clustering_coeff" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("ccoef.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val e1 = e.select(col("sa").as("a"), col("sb").as("b"))
      val e2 = e.select(col("sa").as("b"), col("sb").as("c"))
      val e3 = e.select(col("sa").as("a"), col("sb").as("c"))
      val tris = e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
      val triN = tris.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("tri"))
      val deg = e.select(col("sa").as("v")).union(e.select(col("sb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val cc = deg.join(triN, Seq("v"), "left")
        .select(col("v"), col("deg"),
          when(col("deg") >= 2,
            lit(2.0) * d(coalesce(col("tri"), lit(0L))) /
              (d(col("deg")) * (d(col("deg")) - 1.0)))
            .otherwise(lit(0.0)).as("cc"))
      cc.join(Tables.supplier(s, dir)
            .select(col("s_suppkey").as("v"), col("s_nationkey")), "v")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_nodes"),
          sum(round(col("cc"), 8).cast(DecimalType(18, 8))).as("ccs"))
        .select(col("s_nationkey").as("nationkey"), col("n_nodes"),
          round(col("ccs").cast(DoubleType) / col("n_nodes").cast(DoubleType), 6)
            .as("avg_cc"))
        .orderBy("nationkey")
    }),

    // ---- degree histogram (log2 buckets) --------------------------------
    // The degree distribution every graph audit starts with: nodes
    // bucketed by ⌊log2(deg)⌋ — computed as length(bin(deg))−1, pure
    // integer string arithmetic identical in both engines, never libm
    // log2 at an exact power-of-two boundary. Share-of-total rides a
    // window over the ≤7-row bucket table.
    "graph_degree_hist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // r15: e feeds both legs of the degree union — materialized once
      // (guide §2.4).
      val e = graft.tools.Materialize.eager("deghist.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val deg = e.select(col("sa").as("v")).union(e.select(col("sb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val hist = deg
        .select((length(bin(col("deg"))) - 1).cast("int").as("bucket"), col("deg"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"), min("deg").as("min_deg"),
          max("deg").as("max_deg"))
      val w = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      hist
        .withColumn("share", round(col("n_nodes").cast(DoubleType) /
          sum("n_nodes").over(w).cast(DoubleType), 6))
        .orderBy("bucket")
    }),

    // ---- Adamic-Adar link prediction ------------------------------------
    // The classic "which non-edges are most likely real" score:
    // AA(a,b) = Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg z), over wedge-generated
    // candidate pairs (Σ deg² bound, equi-joins only), existing edges
    // removed by an anti-join. Each 1/ln term is round(·, 8) and the
    // scores are decimal sums, so the top-20 cut orders by an EXACT
    // comparable — no double-ulp rank flips across engines. (Common
    // neighbors z always have deg ≥ 2, so ln(deg) > 0.)
    "graph_adamic_adar" -> ((s, dir) => {
      val e = graft.tools.Materialize.eager("aa.edges",
        GraphStatsQueries.supplierEdges(s, dir))
      val nb = e.select(col("sa").as("z"), col("sb").as("x"))
        .union(e.select(col("sb").as("z"), col("sa").as("x")))
      val deg = nb.groupBy(col("z").as("v")).agg(count(lit(1)).as("deg"))
      val pairs = nb.toDF("z", "a")
        .join(nb.toDF("z2", "b"), col("z") === col("z2") && col("a") < col("b"))
        .join(deg, col("z") === col("v"))
        .select(col("a"), col("b"),
          round(lit(1.0) / log(col("deg").cast(DoubleType)), 8)
            .cast(DecimalType(18, 8)).as("w"))
      val aa = pairs.groupBy("a", "b")
        .agg(count(lit(1)).as("cn"), sum("w").as("aa_dec"))
      aa.join(e, aa("a") === e("sa") && aa("b") === e("sb"), "left_anti")
        .orderBy(col("aa_dec").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("cn"),
          round(col("aa_dec").cast(DoubleType), 6).as("aa_score"))
    }),

    // ---- semantic dedup over the IVF codebook (SemDeDup) ----------------
    // The embedding-space complement of the token-space dedup family:
    // documents whose vectors land in the SAME k-means cell with cosine
    // ≥ 0.4 are semantic duplicates (threshold calibrated to the data
    // like llm_dedup_embcos — the synthetic embedding space tops out
    // near cos 0.48, so a "real" 0.9 SemDeDup cut would be vacuous);
    // every higher-id member is flagged
    // with its lowest-id keeper. Reuses the memoized AnnCodebook index
    // (cells as the partition key at 100 TB — the SemDeDup recipe:
    // cluster once, compare only within cells, Σ cell² never all-pairs)
    // and joins documents on the doc_id = vec_id contract for the
    // source attribution. The oracle replays the identical codebook via
    // AnnCodebook.oracleCtes.
    "llm_dedup_semantic" -> ((s, dir) => {
      val (e, _) = graft.functions.AnnCodebook.indexed(s, dir)
      import graft.functions.VectorFunctions.vecDot
      val a = e.select(col("cell"), col("vec_id").as("a_id"),
        col("embedding").as("a_v"), col("nrm").as("a_n"))
      val b = e.select(col("cell").as("cell_b"), col("vec_id").as("b_id"),
        col("embedding").as("b_v"), col("nrm").as("b_n"))
      val pairs = a.join(b,
          col("cell") === col("cell_b") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (vecDot(col("a_v"), col("b_v")) / (col("a_n") * col("b_n")))
            .as("cos_sim"))
        .where(col("cos_sim") >= 0.4)
      val flagged = pairs.groupBy(col("b_id").as("doc_id"))
        .agg(min("a_id").as("kept_id"), count(lit(1)).as("n_matches"),
          round(max("cos_sim"), 6).as("best_cos"))
      flagged
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id")
        .select("doc_id", "kept_id", "n_matches", "best_cos", "source")
        .orderBy("doc_id")
    }),

    // ---- temperature-scaled mixture weights -----------------------------
    // The multilingual/multi-source sampling recipe: raw token shares
    // p_i are flattened to w_i ∝ p_i^α (α = 0.7) and renormalized —
    // low-resource sources get boosted, dominant ones damped. pow terms
    // are round(·, 8) BEFORE renormalization (a 1-ulp libm pow
    // difference must not leak into the normalizing sum — it is an
    // exact decimal sum of rounded terms); boost = w/p says how many
    // effective epochs each source runs.
    "llm_mix_temperature" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cnt = Tables.documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens"))
      val w = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      cnt
        .withColumn("p", d(col("n_tokens")) / d(sum("n_tokens").over(w)))
        .withColumn("w_raw",
          round(pow(col("p"), lit(0.7)), 8).cast(DecimalType(18, 8)))
        .withColumn("wgt", d(col("w_raw")) / d(sum("w_raw").over(w)))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("p"), 6).as("p"), round(col("wgt"), 6).as("weight"),
          round(col("wgt") / col("p"), 6).as("boost"))
        .orderBy("source")
    }),

    // ---- subword fertility (BPE-ish segmentation) -----------------------
    // Tokenizer-cost estimate without a trained vocab: greedy ≤4-char
    // alphanumeric chunks ([a-z0-9]{1,4} — the same greedy semantics in
    // Java regex and RE2) approximate subword segmentation; fertility =
    // subword/word ratio per language — the number that prices CJK vs
    // latin scripts before committing to a tokenizer. Map-only + 5-key
    // shuffle.
    "llm_token_bpe" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), nTok.as("nw"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]{1,4}"), lit(0)))
            .cast("long").as("ns"))
        .where(col("nw") >= 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("word_tokens"),
          sum("ns").as("subword_tokens"))
        .select(col("lang"), col("n_docs"), col("word_tokens"),
          col("subword_tokens"),
          round(d(col("subword_tokens")) / d(col("word_tokens")), 6)
            .as("fertility"))
        .orderBy("lang")
    }),

    // ---- Dunning log-likelihood keyness ---------------------------------
    // Which tokens characterize the first half of the crawl (src0-src9)
    // against the second: the signed G² = 2·(a·ln(a/E1) + b·ln(b/E2))
    // keyness score over token counts (0·ln0 = 0 by convention), the
    // standard corpus-linguistics "what changed in this slice" readout.
    // Token-keyed shuffles bounded by vocabulary; the two corpus totals
    // are a 1-row broadcast; the top-25 cut orders by round(G², 6) with
    // a token tiebreak so libm ulps cannot reorder it.
    "llm_keyness_llr" -> ((s, dir) => {
      // focus/reference token counts roll up from the shared unigram
      // ledger (r10 verdict item 6): the focus flag is a function of
      // the ledger's `source` key, so both contingency margins are
      // vocab-scale rollups — no corpus re-pass
      val st = graft.tools.TokenArtifacts.bySource(s, dir)
        .withColumn("focus", substring(col("source"), 4, 10).cast("int") <= 9)
      val cnt = st.groupBy("tok")
        .agg(sum(when(col("focus"), col("cnt")).otherwise(lit(0L))).as("a"),
          sum(when(!col("focus"), col("cnt")).otherwise(lit(0L))).as("b"))
      val tot = st.agg(
        sum(when(col("focus"), col("cnt")).otherwise(lit(0L))).as("ta"),
        sum(when(!col("focus"), col("cnt")).otherwise(lit(0L))).as("tb"))
      def xlx(x: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column) =
        when(x > 0, d(x) * log(d(x) / ex)).otherwise(lit(0.0))
      val scored = cnt.crossJoin(broadcast(tot))
        .withColumn("e1",
          d(col("ta")) * d(col("a") + col("b")) / d(col("ta") + col("tb")))
        .withColumn("e2",
          d(col("tb")) * d(col("a") + col("b")) / d(col("ta") + col("tb")))
        .withColumn("llr",
          round(lit(2.0) * (xlx(col("a"), col("e1")) + xlx(col("b"), col("e2"))), 6))
        .withColumn("direction",
          when(d(col("a")) * d(col("tb")) >= d(col("b")) * d(col("ta")),
            lit("focus")).otherwise(lit("reference")))
      scored.orderBy(col("llr").desc, col("tok"))
        .limit(25)
        .select("tok", "a", "b", "llr", "direction")
    }),

    // ---- rolling 7-day correlation --------------------------------------
    // Does daily event volume track daily spend? Per event type, the
    // Pearson correlation of (daily count, daily value-sum) over a
    // 7-day rolling frame — computed from rolling decimal moments (the
    // frame is calendar-bounded, so the window input is the ≤31-row
    // daily aggregate, scale-free by construction), with the zero-
    // variance guard CASE'd to NULL identically on both engines.
    "win_rolling_corr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = dailyAgg(s, dir, count(lit(1)).as("x"),
        sum(col("value").cast(DecimalType(18, 6))).as("y"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, 0)
      val y19 = col("y").cast(DecimalType(19, 6))
      val x19 = col("x").cast(DecimalType(19, 0))
      val m = daily.select(col("event_type"), col("day"), col("x"), col("y"),
          count(lit(1)).over(w).as("n7"),
          sum(col("x")).over(w).as("sx"),
          sum(col("y")).over(w).as("sy"),
          sum(x19 * x19).over(w).as("sxx"),
          sum(x19 * y19).over(w).as("sxy"),
          sum(y19 * y19).over(w).as("syy"))
        .where(col("n7") === 7)
      val num = lit(7.0) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val dx = lit(7.0) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      val dy = lit(7.0) * d(col("syy")) - d(col("sy")) * d(col("sy"))
      m.select(col("event_type"), col("day"),
          when(dx > 0 && dy > 0,
            round(num / (sqrt(dx) * sqrt(dy)), 6)).as("corr7"))
        .orderBy("event_type", "day")
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  val oracles: Map[String, String] = Map(

    "agg_ks_test" -> """
      |WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
      |    user_id % 2 = 0 AS treat FROM events),
      |g AS (SELECT event_type, v,
      |    CAST(count(*) FILTER (treat) AS BIGINT) AS ct,
      |    CAST(count(*) FILTER (NOT treat) AS BIGINT) AS cc
      |  FROM ev GROUP BY 1, 2),
      |r AS (SELECT event_type,
      |    CAST(sum(ct) OVER w AS BIGINT) AS rt,
      |    CAST(sum(cc) OVER w AS BIGINT) AS rc,
      |    CAST(sum(ct) OVER (PARTITION BY event_type) AS BIGINT) AS nt,
      |    CAST(sum(cc) OVER (PARTITION BY event_type) AS BIGINT) AS nc
      |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY v))
      |SELECT event_type, max(nt) AS n_treat, max(nc) AS n_ctrl,
      |  round(max(abs(CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)
      |    - CAST(rc AS DOUBLE) / CAST(nc AS DOUBLE))), 6) AS ks_d
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_welch_ttest" -> """
      |WITH ev AS (SELECT event_type, user_id % 2 = 0 AS treat,
      |    CAST(value AS DECIMAL(18,6)) AS v,
      |    CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6)) AS v2
      |  FROM events),
      |m AS (SELECT event_type,
      |    CAST(count(*) FILTER (treat) AS BIGINT) AS n1,
      |    CAST(count(*) FILTER (NOT treat) AS BIGINT) AS n2,
      |    sum(v) FILTER (treat) AS s1, sum(v) FILTER (NOT treat) AS s2,
      |    sum(v2) FILTER (treat) AS q1, sum(v2) FILTER (NOT treat) AS q2
      |  FROM ev GROUP BY event_type),
      |se AS (SELECT event_type, n1, n2, s1, s2,
      |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) / CAST(n1 AS DOUBLE) AS a,
      |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) / CAST(n2 AS DOUBLE) AS b
      |  FROM m)
      |SELECT event_type, n1 AS n_treat, n2 AS n_ctrl,
      |  round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean_treat,
      |  round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS mean_ctrl,
      |  round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(a + b), 6) AS t_stat,
      |  round((a + b) * (a + b) /
      |    (a * a / (CAST(n1 AS DOUBLE) - 1)
      |     + b * b / (CAST(n2 AS DOUBLE) - 1)), 6) AS df
      |FROM se ORDER BY event_type""".stripMargin,

    "agg_spearman" -> """
      |WITH b AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
      |  FROM lineitem),
      |rx AS (SELECT *, CAST(row_number() OVER (ORDER BY x, ok, ln) AS BIGINT) AS rnx
      |  FROM b),
      |gx AS (SELECT x AS x2, min(rnx) AS lox, max(rnx) AS hix FROM rx GROUP BY x),
      |wx AS (SELECT ok, ln, x, y, lox + hix AS r2x
      |  FROM rx JOIN gx ON rx.x = gx.x2),
      |ry AS (SELECT *, CAST(row_number() OVER (ORDER BY y, ok, ln) AS BIGINT) AS rny
      |  FROM wx),
      |gy AS (SELECT y AS y2, min(rny) AS loy, max(rny) AS hiy FROM ry GROUP BY y),
      |rows_ AS (SELECT r2x, loy + hiy AS r2y FROM ry JOIN gy ON ry.y = gy.y2),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(r2x) AS BIGINT) AS sx, CAST(sum(r2y) AS BIGINT) AS sy,
      |    sum(CAST(r2x AS DECIMAL(19,0)) * CAST(r2y AS DECIMAL(19,0))) AS sxy,
      |    sum(CAST(r2x AS DECIMAL(19,0)) * CAST(r2x AS DECIMAL(19,0))) AS sxx,
      |    sum(CAST(r2y AS DECIMAL(19,0)) * CAST(r2y AS DECIMAL(19,0))) AS syy
      |  FROM rows_)
      |SELECT n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS spearman_rho
      |FROM m""".stripMargin,

    "agg_psi_drift" -> """
      |WITH ev AS (SELECT event_type, day(ts) <= 15 AS early,
      |    least(greatest(CAST(floor(value / 20) AS INTEGER), 0), 9) AS bin
      |  FROM events),
      |cnt AS (SELECT event_type, bin,
      |    CAST(count(*) FILTER (early) AS BIGINT) AS ca,
      |    CAST(count(*) FILTER (NOT early) AS BIGINT) AS cb
      |  FROM ev GROUP BY 1, 2),
      |tot AS (SELECT event_type AS et,
      |    CAST(count(*) FILTER (early) AS BIGINT) AS na,
      |    CAST(count(*) FILTER (NOT early) AS BIGINT) AS nb
      |  FROM ev GROUP BY 1),
      |grid AS (SELECT DISTINCT event_type, u.bin FROM ev,
      |  unnest(generate_series(0, 9)) AS u(bin)),
      |terms AS (SELECT g.event_type,
      |    CAST(round((pa - pb) * ln(pa / pb), 8) AS DECIMAL(18,8)) AS term
      |  FROM (SELECT g.event_type,
      |      (CAST(coalesce(c.ca, 0) AS DOUBLE) + 1.0) / (CAST(t.na AS DOUBLE) + 10.0) AS pa,
      |      (CAST(coalesce(c.cb, 0) AS DOUBLE) + 1.0) / (CAST(t.nb AS DOUBLE) + 10.0) AS pb
      |    FROM grid g
      |    LEFT JOIN cnt c ON g.event_type = c.event_type AND g.bin = c.bin
      |    JOIN tot t ON g.event_type = t.et) g)
      |SELECT event_type, round(CAST(sum(term) AS DOUBLE), 6) AS psi
      |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_cramers_v" -> """
      |WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS obs
      |  FROM orders GROUP BY 1, 2),
      |r AS (SELECT o_orderpriority, sum(obs) AS rp FROM c GROUP BY 1),
      |s AS (SELECT o_orderstatus, sum(obs) AS cs FROM c GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM orders),
      |t AS (SELECT n.n,
      |    CAST((c.obs - r.rp * s.cs / n.n) * (c.obs - r.rp * s.cs / n.n)
      |      / (r.rp * s.cs / n.n) AS DECIMAL(18,8)) AS t,
      |    c.o_orderpriority, c.o_orderstatus
      |  FROM c JOIN r USING (o_orderpriority) JOIN s USING (o_orderstatus)
      |  CROSS JOIN n)
      |SELECT CAST(max(n) AS BIGINT) AS n_orders,
      |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_rows_dim,
      |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_cols_dim,
      |  round(CAST(sum(t) AS DOUBLE), 4) AS chi2,
      |  round(sqrt(CAST(sum(t) AS DOUBLE) / (CAST(max(n) AS DOUBLE)
      |    * (least(count(DISTINCT o_orderpriority),
      |        count(DISTINCT o_orderstatus)) - 1))), 6) AS cramers_v
      |FROM t""".stripMargin,

    "graph_clustering_coeff" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |t AS (SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
      |  FROM e e1 JOIN e e2 ON e1.sb = e2.sa
      |  JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb),
      |tn AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM (
      |    SELECT a AS v FROM t UNION ALL SELECT b FROM t
      |    UNION ALL SELECT c FROM t) GROUP BY v),
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT sa AS v FROM e UNION ALL SELECT sb FROM e) GROUP BY v),
      |cc AS (SELECT deg.v, CASE WHEN deg.deg >= 2
      |    THEN 2.0 * CAST(coalesce(tn.tri, 0) AS DOUBLE)
      |      / (CAST(deg.deg AS DOUBLE) * (CAST(deg.deg AS DOUBLE) - 1.0))
      |    ELSE 0.0 END AS cc
      |  FROM deg LEFT JOIN tn ON deg.v = tn.v)
      |SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_nodes,
      |  round(CAST(sum(CAST(round(cc, 8) AS DECIMAL(18,8))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS avg_cc
      |FROM cc JOIN supplier ON cc.v = s_suppkey
      |GROUP BY s_nationkey ORDER BY nationkey""".stripMargin,

    "graph_degree_hist" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT sa AS v FROM e UNION ALL SELECT sb FROM e) GROUP BY v),
      |h AS (SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_nodes,
      |    min(deg) AS min_deg, max(deg) AS max_deg
      |  FROM deg GROUP BY 1)
      |SELECT bucket, n_nodes, min_deg, max_deg,
      |  round(CAST(n_nodes AS DOUBLE) / CAST(sum(n_nodes) OVER () AS DOUBLE), 6)
      |    AS share
      |FROM h ORDER BY bucket""".stripMargin,

    "graph_adamic_adar" -> s"""
      |WITH ${GraphStatsQueries.edgesSql},
      |nb AS (SELECT sa AS z, sb AS x FROM e UNION ALL SELECT sb, sa FROM e),
      |deg AS (SELECT z AS v, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY z),
      |p AS (SELECT n1.x AS a, n2.x AS b,
      |    CAST(round(1.0 / ln(CAST(d.deg AS DOUBLE)), 8) AS DECIMAL(18,8)) AS w
      |  FROM nb n1 JOIN nb n2 ON n1.z = n2.z AND n1.x < n2.x
      |  JOIN deg d ON n1.z = d.v),
      |aa AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn, sum(w) AS aa_dec
      |  FROM p GROUP BY a, b),
      |nf AS (SELECT aa.* FROM aa
      |  LEFT JOIN e ON aa.a = e.sa AND aa.b = e.sb WHERE e.sa IS NULL)
      |SELECT a, b, cn, round(CAST(aa_dec AS DOUBLE), 6) AS aa_score
      |FROM nf ORDER BY aa_dec DESC, a, b LIMIT 20""".stripMargin,

    "llm_dedup_semantic" -> {
      val cos = "list_aggregate(list_transform(list_zip(a.ev, b.ev), " +
        "z -> z[1] * z[2]), 'sum') / (a.nrm * b.nrm)"
      s"""
      |WITH ${graft.functions.AnnCodebook.oracleCtes},
      |ev AS (SELECT e.vec_id,
      |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS ev, c.cell
      |  FROM embeddings e JOIN kcells c USING (vec_id)),
      |n AS (SELECT vec_id, ev, cell,
      |    sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum')) AS nrm
      |  FROM ev),
      |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, $cos AS cos_sim
      |  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE $cos >= 0.4),
      |f AS (SELECT b_id AS doc_id, min(a_id) AS kept_id,
      |    CAST(count(*) AS BIGINT) AS n_matches,
      |    round(max(cos_sim), 6) AS best_cos
      |  FROM pairs GROUP BY b_id)
      |SELECT f.doc_id, f.kept_id, f.n_matches, f.best_cos, d.source
      |FROM f JOIN documents d ON f.doc_id = d.doc_id
      |ORDER BY f.doc_id""".stripMargin
    },

    "llm_mix_temperature" -> s"""
      |WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len($duckToks)) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |p AS (SELECT source, n_docs, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS p
      |  FROM cnt),
      |w AS (SELECT *, CAST(round(pow(p, 0.7), 8) AS DECIMAL(18,8)) AS w_raw
      |  FROM p)
      |SELECT source, n_docs, n_tokens, round(p, 6) AS p,
      |  round(CAST(w_raw AS DOUBLE) / CAST(sum(w_raw) OVER () AS DOUBLE), 6)
      |    AS weight,
      |  round(CAST(w_raw AS DOUBLE) / CAST(sum(w_raw) OVER () AS DOUBLE) / p, 6)
      |    AS boost
      |FROM w ORDER BY source""".stripMargin,

    "llm_token_bpe" -> s"""
      |WITH d AS (SELECT lang, CAST(len($duckToks) AS BIGINT) AS nw,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS BIGINT) AS ns
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nw) AS BIGINT) AS word_tokens,
      |  CAST(sum(ns) AS BIGINT) AS subword_tokens,
      |  round(CAST(sum(ns) AS DOUBLE) / CAST(sum(nw) AS DOUBLE), 6) AS fertility
      |FROM d WHERE nw >= 1 GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_keyness_llr" -> s"""
      |WITH t AS (SELECT CAST(substr(source, 4) AS INTEGER) <= 9 AS focus,
      |    unnest($duckToks) AS tok FROM documents),
      |cnt AS (SELECT tok, CAST(count(*) FILTER (focus) AS BIGINT) AS a,
      |    CAST(count(*) FILTER (NOT focus) AS BIGINT) AS b
      |  FROM t GROUP BY tok),
      |tot AS (SELECT CAST(count(*) FILTER (focus) AS BIGINT) AS ta,
      |    CAST(count(*) FILTER (NOT focus) AS BIGINT) AS tb FROM t),
      |s AS (SELECT tok, a, b,
      |    round(2.0 * (
      |      CASE WHEN a > 0 THEN CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) /
      |        (CAST(ta AS DOUBLE) * CAST(a + b AS DOUBLE) / CAST(ta + tb AS DOUBLE)))
      |        ELSE 0.0 END +
      |      CASE WHEN b > 0 THEN CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) /
      |        (CAST(tb AS DOUBLE) * CAST(a + b AS DOUBLE) / CAST(ta + tb AS DOUBLE)))
      |        ELSE 0.0 END), 6) AS llr,
      |    CASE WHEN CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
      |        >= CAST(b AS DOUBLE) * CAST(ta AS DOUBLE)
      |      THEN 'focus' ELSE 'reference' END AS direction
      |  FROM cnt CROSS JOIN tot)
      |SELECT tok, a, b, llr, direction FROM s
      |ORDER BY llr DESC, tok LIMIT 25""".stripMargin,

    "win_rolling_corr" -> """
      |WITH daily AS (SELECT event_type, day(ts) AS day,
      |    CAST(count(*) AS BIGINT) AS x,
      |    sum(CAST(value AS DECIMAL(18,6))) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, day, x, y,
      |    CAST(count(*) OVER w AS BIGINT) AS n7,
      |    CAST(sum(x) OVER w AS BIGINT) AS sx,
      |    sum(y) OVER w AS sy,
      |    sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) OVER w AS sxx,
      |    sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,6))) OVER w AS sxy,
      |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) OVER w AS syy
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  CASE WHEN 7.0 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |      AND 7.0 * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |    THEN round((7.0 * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (sqrt(7.0 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(7.0 * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    ELSE NULL END AS corr7
      |FROM m WHERE n7 = 7 ORDER BY event_type, day""".stripMargin)
}
