package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the default 100-entry codegen class cache evicts the early
      // queries' generated code while the later ones compile (100
      // queries × several codegen stages each), so every heavy query
      // re-pays full Janino compilation in the timed loop; sizing the
      // cache to hold the whole surface keeps the sf0.001 warm-up's
      // compiled classes hot (measured: llm_dedup_near 8.6 s → ~2 s)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // same pin as Verify/TestSpark: a tz-adjusted timestamp fixture on
      // a non-UTC host must not shift ntz casts between the two mains
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed JIT/codegen warm-up AT THE MEASURED SF, so the timed loop
    // measures steady-state query cost rather than codegen/JIT tax.
    // Warming at a smaller SF is not enough: AQE picks size-dependent
    // join strategies, so the sf0.1 plans compile different generated
    // code than their sf0.001 twins (measured: llm_dedup_near 7.2 s
    // bench vs 2.0 s steady). Round 1 measured same-SF warming as WORSE,
    // but that was an artifact of the default 100-entry codegen cache
    // being thrashed by ~100 queries — fixed by maxEntries=5000 above.
    // A warm-up failure does not stop the run (the timed loop records
    // and gates it), but it is logged, so a cold query is never silent.
    SparkEntry.queries.foreach { case (name, fn) =>
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name failed: ${graft.tools.CauseChain(e)}") }
    }
    // Fixed cheap-first timed order: trivial parquet scans absorb the
    // residual sf-specific JIT/GC tax, then everything else alphabetically.
    // (SparkEntry.queries is an unordered Map; in round 1 whichever heavy
    // query the Map happened to put first ate an ~8 s one-off tax.)
    val ordered = SparkEntry.queries.keys.toSeq.sorted
      .sortBy(n => if (n.startsWith("scan_")) 0 else 1)
    // Build-once artifacts (ANN codebook, verified pair lists, cluster
    // labels) are charged to their FIRST timed consumer; the ledger
    // below splits that consumer's wall time into "artifact build" vs
    // "query" so a 17 s graph_bfs_hops line reads as "near-pair build
    // + 1.7 s query" instead of a 17 s query (r6 verdict item 3).
    val artifacts = scala.collection.mutable.LinkedHashMap[String, (Double, String, Boolean)]()
    // MEDIAN-OF-N RECORDING (r7 verdict item 4): single-run timings
    // drift ±15% run to run on this machine, so one full timed loop per
    // run, N runs, and the recorded per-query number is the across-run
    // MEDIAN — movement below ~2x in a single run is noise, the median
    // is stable enough to compare across rounds. The memo is cleared
    // before EVERY run so each run's first consumer pays each artifact
    // build (same semantics as the old single run, now sampled N times).
    val benchRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val perRun: Seq[Seq[(String, Double)]] = (1 to benchRuns).map { run =>
      // The warm-up pass (and any prior run) populated the build-once
      // artifact memo (ANN codebook, pair lists, cluster labels). Left
      // in place, every timed consumer of an artifact would be a cache
      // hit and the timed loop would never measure the builds at all.
      // Clearing makes each timed run honest: the FIRST timed consumer
      // of each artifact pays its full build (so every declared
      // computation is measured exactly once per run); later consumers
      // reuse it, which is the declared build-once semantics.
      // JIT/codegen warm-up is unaffected (the codegen cache is
      // JVM-level, not part of this memo).
      graft.tools.IndexCache.clear()
      // drop prior-loop garbage (and let the ContextCleaner release its
      // broadcasts) so the first timed query doesn't pay a full GC
      System.gc()
      Thread.sleep(500)
      ordered.map { name =>
        val fn = SparkEntry.queries(name)
        // untimed full GC per query: earlier queries' shuffle/broadcast
        // garbage (and the ContextCleaner work it triggers) must not be
        // paid inside a later query's timing — measured: the heavy dedup
        // queries ran up to 7x their steady-state cost when the first GC
        // of the timed loop landed inside them
        System.gc()
        val builtBefore = graft.tools.IndexCache.buildTimes.map(_._1).toSet
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed (run $run): ${graft.tools.CauseChain(e)}")
            false
        }
        // attribution comes from run 1 (identical build set every run);
        // a build that ran during a FAILED consumer still happened (and
        // later queries cache-hit it), so it stays in the ledger — but
        // flagged, because its consumer's timing is the -1.0 sentinel
        // and the build/query split is not reconstructible from it
        if (run == 1) {
          for ((key, sec) <- graft.tools.IndexCache.buildTimes
              if !builtBefore.contains(key)) {
            artifacts(key) = (sec, name, ok)
          }
        }
        // a failed query must not masquerade as a fast timing
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    }
    // per-query median across runs; any run's failure marks the query
    // failed (an intermittent failure must not hide behind the median)
    val results = ordered.map { name =>
      val ts = perRun.map(_.toMap.apply(name))
      name -> (if (ts.exists(_ < 0)) -1.0
               else ts.sorted.apply(ts.size / 2))
    }
    val runTotals = perRun.map(r => r.collect { case (_, v) if v >= 0 => v }.sum)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val artJson = artifacts.map { case (k, (sec, consumer, consumerOk)) =>
      s"\"" + k + "\":{\"build_sec\":" + sec +
        ",\"first_timed_consumer\":\"" + consumer + "\"" +
        (if (consumerOk) "" else ",\"consumer_failed\":true") + "}"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    // total over successful timings only — a -1.0 sentinel must not
    // subtract from the headline number. The headline is the sum of
    // per-query MEDIANS; run_totals carries the raw per-run sums so the
    // drift envelope stays legible.
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val runTotalsJson = runTotals.mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""artifacts":$artJson,"failed":$failedJson,""" +
        s""""runs":$benchRuns,"run_totals":$runTotalsJson,"sf":"$sfDir"}"""
    // The driver parses stdout, but sbt wraps stdout in [info] noise, so
    // ALSO persist the same JSON to a fixed file in the working directory.
    try {
      val w = new java.io.PrintWriter(new java.io.File("bench_out.json"), "UTF-8")
      try w.println(json) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] write bench_out.json failed: $e") }
    println(json)
    spark.stop()
    // RED BUILD on any failed query: round 4 lost its whole cycle because
    // 57 erroring queries rode under rc=0 while the harness reported the
    // passing subset as the round total. The JSON above is already
    // written/printed, so the driver still gets the timings — the
    // nonzero exit just makes the breakage impossible to misread.
    if (failed.nonEmpty) {
      System.err.println(s"[bench] RED: ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
