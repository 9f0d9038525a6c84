package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Scale-behavior dry run: replays headline shapes at 1×..K× the sf0.1
  * fact volume (self-union keeps the data columnar in memory of the
  * scan; no files are written) and prints the wall-time curve. Linear
  * growth here = no super-linear operator in the plan (the property
  * that must hold at 100 TB). Run: sbt "runMain graft.tools.ScaleDryRun"
  */
object ScaleDryRun {
  def main(args: Array[String]): Unit = {
    // Optional section filter: `runMain graft.tools.ScaleDryRun scale_r13`
    // runs only the named decade tag(s), each warming its own shapes —
    // a single decade is re-runnable without paying the full ~15 min
    // dry run. No args = every section, as before.
    val want: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Shuffle-partition override for the high-k decades: at 64× the
    // corpus, 32 reducers hold 64× the per-task sort volume of the 1×
    // point — a layout no real cluster would run (partitions scale
    // with data to keep bytes/task constant). SPARK_GRAFT_SHUFFLE lets
    // a decade be replayed at a data-proportional reducer count to
    // separate plan behavior from per-task-volume artifacts.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32")
    // SPARK_GRAFT_CPUS (same knob as BenchSlice): task-concurrency
    // override for the contention probes of the high-k decades.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def rep(df: DataFrame, k: Int): DataFrame =
      Seq.fill(k)(df).reduce(_ unionAll _)

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val li = graft.sources.Tables.lineitem(spark, dir)
    val orders = graft.sources.Tables.orders(spark, dir)
    val customer = graft.sources.Tables.customer(spark, dir)

    def q1(k: Int): Long = rep(li, k)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType),
        count(lit(1))).count()

    def join3(k: Int): Long = rep(li, k)
      .join(rep(orders, k).hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1))).count()

    // near-dup (MinHash-LSH candidates + exact verify) at k× the corpus.
    // Replica perturbation is a PER-REPLICA TOKEN BIJECTION (every token
    // tagged ~r$i): intra-replica Jaccard is exactly preserved (the
    // planted near-dups stay near-dups inside each replica) while
    // cross-replica shingle overlap is zero, so true pairs grow
    // k-LINEARLY by construction. The previous 3-token suffix only
    // looked like a perturbation: shingles are word trigrams, so two
    // replicas of one doc still shared ~S/(S+6) ≥ 0.6 Jaccard and
    // every doc's replicas were MUTUAL true near-dups — C(k,2)·docs
    // quadratic true-pair growth, measured as the r6 "super-linear last
    // doubling" (3.04 s at 4× → 9.30 s at 8×). LshScaleProbe carries
    // the measured attribution; the plan itself was never super-linear.
    val docs = graft.sources.Tables.documents(spark, dir)
    def dedupShape(k: Int): Long = {
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i)
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1~r$i")))
        .reduce(_ unionAll _)
      // the SHIPPED pipeline, not a copy — tuning the query retunes this
      graft.operators.ScaleQueries.minhashLshPairs(spark, d).count()
    }

    // sequence packing at k× the corpus: the per-lang running-sum window
    // must stay linear (its state is one scalar per partition)
    def packShape(k: Int): Long = {
      import org.apache.spark.sql.expressions.Window
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i))
        .reduce(_ unionAll _)
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.select(col("doc_id"), col("lang"),
          graft.QueryUtils.nTok.as("n_tok"))
        .withColumn("cum", sum("n_tok").over(w))
        .select((col("cum") / 2048).cast("long").as("chunk"))
        .groupBy("chunk").count().count()
    }

    // bigram-LM scoring at k× the corpus: occurrences grow linearly,
    // the model (distinct bigrams) sub-linearly; replica suffixes keep
    // the vocabulary from collapsing into one shared model
    def bigramShape(k: Int): Long = {
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i)
        .withColumn("text", concat(col("text"), lit(s" replica$i"))))
        .reduce(_ unionAll _)
      val occ = d.select(col("doc_id"),
          explode_outer(graft.functions.TextShingles.mkBigrams(col("text"))).as("bg"))
        .where(col("bg").isNotNull)
        .withColumn("w1", substring_index(col("bg"), " ", 1))
      val bgc = occ.groupBy("bg").agg(count(lit(1)).as("c2"))
      val ugc = occ.groupBy("w1").agg(count(lit(1)).as("c1"))
      occ.join(bgc, "bg").join(ugc, "w1")
        .groupBy("doc_id").agg(count(lit(1))).count()
    }

    // PPJoin exact-verify near-dup at k× the corpus (r8 verdict item
    // 3): same per-replica token bijection as dedupShape — intra-
    // replica Jaccard preserved exactly, zero cross-replica shingle
    // overlap, so true pairs AND rare-prefix candidates grow
    // k-linearly by construction; the SHIPPED nearDupPairs pipeline,
    // not a copy
    def nearShape(k: Int): Long = {
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i)
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1~r$i")))
        .reduce(_ unionAll _)
      graft.operators.LlmQueries.nearDupPairs(d).count()
    }

    // context-window chunking at k× the corpus: map-only explode, must
    // track scan speed exactly (the shipped chunkTable, not a copy)
    def chunkShape(k: Int): Long = {
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i))
        .reduce(_ unionAll _)
      graft.operators.PipelineDepthQueries.chunkTable(d)
        .groupBy("doc_id").count().count()
    }

    // contamination gate at k× the corpus: gram volume grows linearly,
    // the distinct train-gram set sub-linearly (replicas share grams) —
    // the semi-join must stay gram-linear
    def contamShape(k: Int): Long = {
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i))
        .reduce(_ unionAll _)
      graft.operators.PipelineDepthQueries.contaminationHits(d).count()
    }

    // as-of join at k× the event volume (round 5, post-recovery):
    // replicas get DISJOINT user-id spaces on both sides so per-event
    // candidate fan-out stays constant — what must grow is only the
    // equi-key shuffle, never the candidate set
    val events = graft.sources.Tables.events(spark, dir)
    def asofShape(k: Int): Long = {
      val e = Seq.range(0, k).map(i => events
        .withColumn("user_id", col("user_id") * k + i)
        .withColumn("event_id", col("event_id") * k + i))
        .reduce(_ unionAll _)
        .select(col("event_id"), col("user_id"), col("ts").as("event_ts"))
      val o = Seq.range(0, k).map(i => orders
        .withColumn("o_custkey", col("o_custkey") * k + i)
        .withColumn("o_orderkey", col("o_orderkey") * k + i))
        .reduce(_ unionAll _)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      e.join(o, e("user_id") === o("o_custkey")
          && col("o_orderdate") <= col("event_ts"))
        .groupBy("event_id")
        .agg(max_by(col("o_orderkey"),
          struct(col("o_orderdate"), col("o_orderkey"))))
        .count()
    }

    // sessionization at k× the event volume (round 5): per-user lag +
    // running flag-sum windows — O(1) state per key, so wall time must
    // track event volume, not blow up on window buffering
    def sessShape(k: Int): Long = {
      import org.apache.spark.sql.expressions.Window
      val e = Seq.range(0, k).map(i => events
        .withColumn("user_id", col("user_id") * k + i)
        .withColumn("event_id", col("event_id") * k + i))
        .reduce(_ unionAll _)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      e.withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull
            || col("ts").cast("timestamp").cast("long")
               - col("prev_ts").cast("timestamp").cast("long") > 1800L, 1L)
            .otherwise(0L))
        .select(col("user_id"), sum("new_session").over(w).as("si"))
        .groupBy("si").count().count()
    }

    // global rank at k× the customer dimension (round 6): GlobalRank's
    // two-pass range-partitioned row_number (win_pareto_decile's shape)
    // — every stage keyed or range-sliced, so wall time must track the
    // dim volume; the r5 single-task Window.orderBy this replaced would
    // serialize the whole dim through one task here
    def rankShape(k: Int): Long = {
      val o = Seq.range(0, k).map(i => orders
        .withColumn("o_custkey", col("o_custkey") * k + i))
        .reduce(_ unionAll _)
      val rev = o.groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      graft.operators.GlobalRank.withSeqAndCount(rev, "rk", "n", Seq.empty,
          Seq(col("rev").desc, col("o_custkey").asc))
        .groupBy((((col("rk") - 1) * 10) / col("n")).cast("int").as("decile"))
        .agg(count(lit(1))).count()
    }

    // Wasserstein-1 CDF shape at k× (round-8 continuation): replicas
    // perturb each value by a tiny per-replica offset, so the distinct
    // support (which the runningSums stage and the rank+1 step join
    // both scale with) grows k-LINEARLY — a plain self-union would
    // only deepen per-value counts and measure the data, not the plan
    def w1Shape(k: Int): Long = {
      val e = Seq.range(0, k).map(i => events
        .withColumn("event_id", col("event_id") * k + i)
        .withColumn("value", col("value") + lit(i * 1e-4)))
        .reduce(_ unionAll _)
      graft.operators.Round8jQueries.w1Pipeline(
        e.select(col("event_type"),
          col("value").cast(DecimalType(18, 6)).as("v"),
          (col("user_id") % 2 === 0).as("treat"))).count()
    }

    // paragraph dedup at k× the corpus (round 6): a leading replica
    // marker token shifts every chunk boundary, so replica chunks stay
    // DISTINCT and the chunk-hash rollup grows linearly — a plain
    // self-union would make every chunk a k-way duplicate and measure
    // the data, not the plan (the minhash lesson)
    def paraShape(k: Int): Long = {
      val d = Seq.range(0, k).map(i => docs
        .withColumn("doc_id", col("doc_id") * k + i)
        .withColumn("text", concat(lit(s"replica$i "), col("text"))))
        .reduce(_ unionAll _)
      graft.operators.Round6dQueries.paragraphDupStats(d).count()
    }

    // ANN index build + cell assignment at k× the vector corpus (round
    // 8): the AnnCodebook build is seeded-sample + 2 fixed Lloyd passes
    // — every pass a broadcast-centroid map over the vectors — so wall
    // time must track vector volume (the probe itself is 1/64 of a
    // scan and rides the same index). Disjoint vec_ids per replica.
    val emb = graft.sources.Tables.embeddings(spark, dir)
    def annShape(k: Int): Long = {
      val e0 = Seq.range(0, k).map(i => emb
        .withColumn("vec_id", col("vec_id") * k + i))
        .reduce(_ unionAll _)
      val (qvDf, cent) = graft.functions.AnnCodebook.codebook(e0)
      qvDf.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cell"),
          graft.functions.AnnCodebook.score(col("qv"), col("csum")).as("sc"))
        .groupBy("vec_id")
        .agg(max_by(col("cell"), struct(col("sc"), -col("cell"))).as("cell"))
        .groupBy("cell").count().count()
    }

    // ---- skew stress (r7 verdict item 7) --------------------------------
    // One hot supplier owns 50% of the k× fact rows. Measures the
    // SHIPPED mitigation kernels against their unmitigated shapes:
    // join_skew_salted's 8-salt build replication vs the plain
    // equi-join (both forced to shuffle-hash — broadcast is the
    // first-line fix and would mask the skew; salting is for build
    // sides past the broadcast threshold), and agg_skew_salted's
    // two-stage salted aggregate vs the direct group-by (expected
    // near-tie: hash aggregation's map-side partials already absorb
    // hot GROUP-BY keys; the ledger records it rather than assumes it).
    val supplier = graft.sources.Tables.supplier(spark, dir)
    def skewLi(k: Int): DataFrame =
      Seq.range(0, k).map(i => li
          .withColumn("l_orderkey", col("l_orderkey") * k + i))
        .reduce(_ unionAll _)
        .withColumn("l_suppkey",
          when(pmod(col("l_orderkey"), lit(2)) === 0, lit(1))
            .otherwise(col("l_suppkey")))
    def skewJoinPlain(k: Int): Long = {
      val l = skewLi(k)
      l.join(supplier.hint("shuffle_hash"),
          l("l_suppkey") === supplier("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType), count(lit(1))).count()
    }
    def skewJoinSalted(k: Int): Long = {
      val sup = supplier.select(col("s_suppkey"), col("s_nationkey"))
        .withColumn("salt", explode(array((0 until 8).map(lit): _*)))
      val l = skewLi(k)
        .withColumn("salt", pmod(col("l_orderkey"), lit(8)).cast("int"))
      l.join(sup.hint("shuffle_hash"),
          l("l_suppkey") === sup("s_suppkey") && l("salt") === sup("salt"))
        .groupBy("s_nationkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType), count(lit(1))).count()
    }
    def skewAggPlain(k: Int): Long = skewLi(k)
      .groupBy("l_suppkey")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))), count(lit(1)))
      .count()
    def skewAggSalted(k: Int): Long = skewLi(k)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_suppkey"), col("salt"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("psum"),
        count(lit(1)).as("pcnt"))
      .groupBy("l_suppkey")
      .agg(sum(col("psum")), sum(col("pcnt")))
      .count()

    if (want("scale")) {
      q1(1); join3(1); dedupShape(1); packShape(1); bigramShape(1)
      chunkShape(1); contamShape(1); asofShape(1); sessShape(1)
      rankShape(1); paraShape(1); annShape(1) // JIT warm-up
      for (k <- Seq(1, 2, 4, 8)) {
        val t1 = time(q1(k))
        val t2 = time(join3(k))
        val t3 = time(dedupShape(k))
        val t4 = time(packShape(k))
        val t5 = time(bigramShape(k))
        val t6 = time(chunkShape(k))
        val t7 = time(contamShape(k))
        val t8 = time(asofShape(k))
        val t9 = time(sessShape(k))
        val t10 = time(rankShape(k))
        val t11 = time(paraShape(k))
        println(f"[scale] k=$k%2d  lineitem=${600000L * k}%9d  q1=$t1%6.2f s  join3=$t2%6.2f s  dedup=$t3%6.2f s  pack=$t4%6.2f s  bigram=$t5%6.2f s  chunk=$t6%6.2f s  contam=$t7%6.2f s  asof=$t8%6.2f s  sess=$t9%6.2f s  rank=$t10%6.2f s  para=$t11%6.2f s")
      }
    }
    // one more doubling decade on the headline columns (r7 verdict
    // item 8 + r8 verdict item 3, which added the PPJoin near-dup
    // column): the 128 GiB sandbox holds the 19.2M-row 32× fact replay
    if (want("scale32")) {
      dedupShape(1); nearShape(1); rankShape(1); annShape(1); packShape(1) // warm
      for (k <- Seq(1, 2, 4, 8, 16, 32)) {
        val td = time(dedupShape(k))
        val tn = time(nearShape(k))
        val tr = time(rankShape(k))
        val ta = time(annShape(k))
        val tp = time(packShape(k))
        println(f"[scale32] k=$k%2d  dedup=$td%6.2f s  near=$tn%6.2f s  rank=$tr%6.2f s  ann=$ta%6.2f s  pack=$tp%6.2f s")
      }
    }
    // Wasserstein-1 runningSums + step-join shape, 1×..32× (the newest
    // GlobalRank consumer; distinct support grows k-linearly; extended
    // 16×–32× per r8 verdict item 3)
    if (want("w1")) {
      w1Shape(1) // warm
      for (k <- Seq(1, 2, 4, 8, 16, 32)) {
        val tw = time(w1Shape(k))
        println(f"[w1] k=$k%2d  wasserstein=$tw%6.2f s")
      }
    }
    // ---- round-9 shapes, 1×..8× ----------------------------------------
    // ordinal pair ledger (agg_gk_gamma family): the contingency CELLS
    // are catalog-bounded (≤50×11 per flag) at ANY k, so the cell-pair
    // self-join is constant work and wall time must track scan volume
    def ordShape(k: Int): Long =
      graft.operators.Round9aQueries.ordinalPairsOf(rep(li, k)).count()
    // Matryoshka truncation eval: the exact side pairs the corpus only
    // against the constant 256-sample, so pair volume is 256·n — must
    // grow k-linearly (disjoint vec_ids per replica)
    def truncShape(k: Int): Long = {
      val e0 = Seq.range(0, k).map(i => emb
        .withColumn("vec_id", col("vec_id") * k + i))
        .reduce(_ unionAll _)
      graft.operators.AnnQueries.truncOverlapOf(e0).count()
    }
    // bipartite HITS: disjoint customer/supplier id spaces per replica
    // keep per-node degrees constant — each of the 4 half-steps is one
    // keyed join + aggregate, so wall time must track edge volume
    def hitsShape(k: Int): Long = {
      val o = Seq.range(0, k).map(i => orders
        .withColumn("o_custkey", col("o_custkey") * k + i)
        .withColumn("o_orderkey", col("o_orderkey") * k + i))
        .reduce(_ unionAll _)
        .where(col("o_orderdate") >= lit("1997-03-01").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey")
      val l = Seq.range(0, k).map(i => li
        .withColumn("l_orderkey", col("l_orderkey") * k + i)
        .withColumn("l_suppkey", col("l_suppkey") * k + i))
        .reduce(_ unionAll _)
      val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
      graft.operators.Round9gQueries.hitsAuthOf(e).count()
    }
    if (want("scale_r9")) {
      ordShape(1); truncShape(1); hitsShape(1) // warm
      // extended to 16×-32× per r9 verdict item 6 (parity with the
      // headline [scale32] decade)
      for (k <- Seq(1, 2, 4, 8, 16, 32)) {
        val to = time(ordShape(k))
        val tt = time(truncShape(k))
        val th = time(hitsShape(k))
        println(f"[scale_r9] k=$k%2d  ordinal=$to%6.2f s  trunc256=$tt%6.2f s  hits=$th%6.2f s")
      }
    }
    // [scale_r13] the two shapes whose 16×→32× last-doubling ratios sat
    // closest to 2 (PPJoin near-dup 1.91×, trunc-256 2.08× in r12's
    // record), extended one more doubling to 64× (r12 verdict item 5):
    // a 32×→64× ratio ≤ ~2 shows the linear/sub-linear trend holds past
    // the previous extrapolation point rather than inflecting at it.
    // 64× = 320k docs / 640k vectors in-memory — well inside the
    // 128 GiB sandbox (the 32× fact replay is 19.2M rows).
    if (want("scale_r13")) {
      nearShape(1); truncShape(1) // warm
      for (k <- Seq(16, 32, 64)) {
        val tn = time(nearShape(k))
        val tt = time(truncShape(k))
        println(f"[scale_r13] k=$k%2d  near=$tn%6.2f s  trunc256=$tt%6.2f s")
      }
      // r13 verdict item 6: the cluster-shaped replay — reducers ∝
      // data (2·k partitions; the 128-part row of r13's 64×
      // decomposition) — runs by default NEXT TO the fixed-32 row, so
      // the standing decade record tracks the marginal slope a real
      // cluster would see (partitions scale with data to keep
      // bytes/task constant) instead of the fixed-reducer memory-bus
      // artifact. Task concurrency stays at this JVM's local[cpus];
      // the r13 record's bounded-concurrency variant remains available
      // via SPARK_GRAFT_CPUS.
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        for (k <- Seq(16, 32, 64)) {
          spark.conf.set("spark.sql.shuffle.partitions", (2 * k).toString)
          val tn = time(nearShape(k))
          val tt = time(truncShape(k))
          println(f"[scale_r13_cluster] k=$k%2d parts=${2 * k}%3d  near=$tn%6.2f s  trunc256=$tt%6.2f s")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // ---- round-10 shape: the GlobalRank few-group rank (the r10
    // campaign's substitute for catalog-tiny partitioned windows) —
    // per-type rank+count over k× events, every stage distributed;
    // wall time must track scan volume, parallelism must NOT pin at
    // the 5-group key cardinality
    def fewGroupRankShape(k: Int): Long = {
      // disjoint event_ids per replica keep (value, event_id) total
      val e = Seq.range(0, k).map(i => events
        .withColumn("event_id", col("event_id") * k + i))
        .reduce(_ unionAll _)
      graft.operators.GlobalRank.withSeqAndCount(
        e.select(col("event_type"), col("event_id"), col("value")),
        "rn", "n", Seq("event_type"),
        Seq(col("value").asc, col("event_id").asc), groupsHint = 5)
        .where(col("rn") === col("n")).count()
    }
    // the fused gaps-and-islands kernel (win_interval_union's shape):
    // per-type interval merge over k× events — one range
    // materialization feeding both prefix scans; wall time must track
    // scan volume with parallelism never pinned at the 5 types
    def islandShape(k: Int): Long = {
      val e = Seq.range(0, k).map(i => events
        .withColumn("event_id", col("event_id") * k + i))
        .reduce(_ unionAll _)
        .select(col("event_type"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp_ltz))").as("tus"))
        .withColumn("en", col("tus") + lit(1800000000L))
      graft.operators.GlobalRank.withIslandSeq(e, col("tus"), col("en"),
          "pm", "isl", Seq(col("tus").asc, col("event_id").asc),
          part = Seq("event_type"), groupsHint = 5)
        .groupBy("event_type", "isl").agg(count(lit(1)))
        .count()
    }
    if (want("scale_r10")) {
      fewGroupRankShape(1); islandShape(1) // warm
      for (k <- Seq(1, 2, 4, 8, 16, 32)) {
        val tg = time(fewGroupRankShape(k))
        val ti = time(islandShape(k))
        println(f"[scale_r10] k=$k%2d  fewgroup_rank=$tg%6.2f s  islands=$ti%6.2f s")
      }
    }
    // the distinct-value LEDGER-MEDIAN idiom (agg_mood_median's
    // kernel, and agg_quadrant_corr's low-cardinality x axis): a
    // corpus-wide (flag, axis, value) count ledger — one
    // combiner-friendly aggregation — then one running-count rank
    // over the ledger. The
    // per-replica `*k + i` value bijection makes the DISTINCT domain
    // grow k-linearly (worst case: the ledger compresses nothing), so
    // this decade proves the ledger BUILD stays scan-bounded and the
    // GlobalRank pass stays ledger-bounded even when the ledger is as
    // large as the fact table (r10 verdict "missing" item 3)
    def ledgerMedianShape(k: Int): Long = {
      val l = Seq.range(0, k).map(i => li
        .select(col("l_returnflag").as("flag"),
          (col("l_quantity").cast(DecimalType(18, 0)).cast("long") * k + i)
            .as("x"),
          ((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(DecimalType(18, 0)).cast("long") * k + i).as("y")))
        .reduce(_ unionAll _)
      val ledger = l.select(col("flag"),
          explode(map(lit("x"), col("x"), lit("y"), col("y"))))
        .withColumnRenamed("key", "axis").withColumnRenamed("value", "v")
        .groupBy("flag", "axis", "v").agg(count(lit(1)).as("cnt"))
      graft.operators.GlobalRank.withRunningSums(ledger,
          Seq((col("cnt"), "hi", "nn")),
          Seq("flag", "axis"), Seq(col("v").asc), groupsHint = 6)
        .groupBy("flag", "axis")
        .agg(min(when(col("hi") >= expr("(nn + 1) DIV 2"), col("v"))))
        .count()
    }
    if (want("scale_r11")) {
      ledgerMedianShape(1) // warm
      for (k <- Seq(1, 2, 4, 8, 16, 32)) {
        val tm = time(ledgerMedianShape(k))
        println(f"[scale_r11] k=$k%2d  ledger_median=$tm%6.2f s")
      }
    }
    // GlobalRank's RELIABLE-checkpoint path at scale (r10 verdict
    // "next round" item 7): the durable `Dataset.checkpoint` route a
    // cluster run uses (ReliableCheckpointSpec pins its correctness;
    // this decade measures its constant factor). Same few-group rank
    // kernel as [scale_r10], so the two columns are directly
    // comparable — the delta is the price of writing the ranged frame
    // to the checkpoint dir and reading it back.
    // fresh temp dir per run, deleted on exit — a fixed /tmp path would
    // accumulate checkpoint data across repeated dry-runs
    if (want("scale_r11_reliable")) {
      val ckptDir = java.nio.file.Files.createTempDirectory("graft_scale_ckpt")
      spark.sparkContext.setCheckpointDir(ckptDir.toString)
      spark.conf.set(graft.tools.Materialize.ReliableFlag, "true")
      try {
        fewGroupRankShape(1) // warm the reliable path
        for (k <- Seq(1, 2, 4, 8, 16, 32)) {
          val tg = time(fewGroupRankShape(k))
          println(f"[scale_r11_reliable] k=$k%2d  fewgroup_rank=$tg%6.2f s")
        }
      } finally {
        spark.conf.set(graft.tools.Materialize.ReliableFlag, "false")
        // close the walk stream (it holds directory handles — r12
        // ADVICE) and surface any path the best-effort sweep fails to
        // delete instead of silently leaving checkpoint data behind
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(ckptDir)
        val paths =
          try walk.iterator().asScala.toSeq finally walk.close()
        paths.sortBy(-_.getNameCount).foreach { p =>
          try { java.nio.file.Files.deleteIfExists(p); () }
          catch { case e: java.io.IOException =>
            System.err.println(s"[scale] failed to delete checkpoint path $p: $e") }
        }
      }
    }
    // [scale_r12] the unigram-ledger BUILD at k× the corpus (r11
    // verdict item 3): replaces the asserted Heaps-sublinear claim in
    // TokenArtifacts' scaladoc with a measured curve. Per-replica
    // perturbation: a fixed ~10% slice of token TYPES (hash-selected,
    // so the same type is tagged in every doc of a replica) gets the
    // replica index appended — each extra copy grows the corpus
    // k-linearly but contributes NEW vocabulary only on that slice
    // (vocab ≈ (0.9 + 0.1k)·V), the Heaps-style regime the ledger must
    // stay sublinear in. Records the shipped build's wall time (must
    // grow ~k: one scan + one map-side-combined agg), the ledger row
    // count (must grow ≪ k), and one byLang rollup over the
    // materialized ledger (must track ledger size, not corpus size).
    def docsPerturbed(k: Int): DataFrame = Seq.range(0, k).map(i => docs
      .withColumn("doc_id", col("doc_id") * k + i)
      .withColumn("text", array_join(transform(split(col("text"), " "),
        t => when(abs(hash(t)) % 10 === 0, concat(t, lit(s"~r$i")))
          .otherwise(t)), " ")))
      .reduce(_ unionAll _)
    def ledgerAt(k: Int): DataFrame =
      TokenArtifacts.unigramOf(docsPerturbed(k)).localCheckpoint(true)
    if (want("scale_r12")) {
      ledgerAt(1) // warm
      for (k <- Seq(1, 2, 4, 8, 16, 32)) {
        var lg: DataFrame = null
        val tb = time { lg = ledgerAt(k); 0L }
        val rows = lg.count()
        val tr = time(lg.groupBy("lang", "tok").agg(sum("cnt").as("c")).count())
        println(f"[scale_r12] k=$k%2d  ledger_build=$tb%6.2f s  ledger_rows=$rows%9d  bylang_rollup=$tr%5.2f s")
      }
    }

    // skew stress at 8×: salted kernels vs unmitigated shapes
    if (want("skew")) {
      skewJoinPlain(1); skewJoinSalted(1); skewAggPlain(1); skewAggSalted(1)
      for (k <- Seq(8)) {
        val jp = time(skewJoinPlain(k))
        val js = time(skewJoinSalted(k))
        val ap = time(skewAggPlain(k))
        val as = time(skewAggSalted(k))
        println(f"[skew] k=$k%2d  hot=50%%  join_plain=$jp%6.2f s  join_salted=$js%6.2f s  agg_plain=$ap%6.2f s  agg_salted=$as%6.2f s")
      }
    }
    spark.stop()
  }
}
