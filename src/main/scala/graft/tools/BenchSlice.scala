package graft.tools

import org.apache.spark.sql.SparkSession

/** One timed pass over a NAMED SLICE of the query surface, in one
  * fresh JVM — the unit of measurement of the paired A/B protocol
  * (tools/bench_ab.py; r11 verdict item 1).
  *
  * Why it exists: single bench totals on this machine drift with JVM
  * and machine state far more than one round's engineering moves them
  * (r11 measured the SAME code at 248 s and 279 s depending on what
  * ran before it), so "is rev B faster than rev A" can only be
  * answered by PAIRED runs — A and B alternating in fresh JVMs on an
  * otherwise idle machine, per-query deltas taken WITHIN each pair,
  * the across-pair median reported with its min–max band. This main
  * is the probe both revs run: the A/B driver compiles each rev into
  * its own git worktree, drops this one file in, and launches it with
  * identical flags.
  *
  * Timing semantics are Bench's, miniaturized: warm-up pass at the
  * measured SF (JIT + codegen + AQE-shaped plans), then IndexCache
  * cleared so the first timed consumer pays each build-once artifact,
  * System.gc between queries so one query's garbage is not billed to
  * the next, queries timed in sorted order. Output: ONE JSON line —
  * per-query seconds, slice total, and the artifact-build attribution
  * ledger (builds are real work and stay inside their consumer's
  * time, exactly as in bench_out.json).
  */
object BenchSlice {

  def main(args: Array[String]): Unit = {
    // --list: print the rev's declared query names, one per line (the
    // full-surface A/B driver chunks the SURFACE OF THE REV under
    // measurement, not of the current tree — surfaces can differ
    // across rounds)
    if (args.headOption.contains("--list")) {
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    require(args.length >= 2, "usage: BenchSlice <sfDir> <query> [query ...] | BenchSlice --list")
    val sfDir = args(0)
    val names = args.drop(1).toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // measurement-tool-only: extra session confs for config A/B probes
    // (e.g. SPARK_GRAFT_CONF="spark.sql.join.preferSortMergeJoin=false");
    // Bench itself never reads this — the graded session stays fixed.
    // Every injected key=value is logged to stderr AND recorded in the
    // emitted JSON (r14 ADVICE): a leftover exported variable from an
    // earlier probe must be visible in the measurement it contaminated.
    val injected = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';').filter(_.contains('=')))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        System.err.println(s"[slice] SPARK_GRAFT_CONF applied: ${k.trim}=${v.trim}")
        builder.config(k.trim, v.trim)
        k.trim -> v.trim
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // untimed warm-up at the measured SF (JIT/codegen/AQE plan shapes).
    // NonFatal only (r12 ADVICE): a fatal JVM error (OOM, stack
    // overflow) must crash the probe rather than let a mis-warmed JVM
    // silently produce timed numbers; a query-level failure is logged
    // so a cold slice is visible in the A/B driver's stderr.
    names.foreach { n =>
      try { graft.SparkEntry.queries(n)(spark, sfDir).count(); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[slice] warm-up $n failed: ${CauseChain(e)}") }
    }

    IndexCache.clear()
    System.gc()
    Thread.sleep(500)

    val artifacts = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    val timed = names.map { n =>
      System.gc()
      val builtBefore = IndexCache.buildTimes.map(_._1).toSet
      val t0 = System.nanoTime()
      val ok = try { graft.SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[slice] $n failed: ${CauseChain(e)}"); false }
      for ((key, sec) <- IndexCache.buildTimes if !builtBefore.contains(key))
        artifacts(key) = (sec, n)
      n -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${JsonStr(k)}:$v" }.mkString("{", ",", "}")
    val qs = obj(timed.map { case (k, v) => k -> v.toString })
    val arts = obj(artifacts.map { case (k, (sec, consumer)) =>
      k -> s"""{"build_sec":$sec,"first_timed_consumer":${JsonStr(consumer)}}""" })
    val total = timed.collect { case (_, v) if v >= 0 => v }.sum
    val conf = obj(injected.map { case (k, v) => k -> JsonStr(v) })
    println(s"""{"slice_total_sec":$total,"queries":$qs,"artifacts":$arts,"injected_conf":$conf,"sf_dir":${JsonStr(sfDir)}}""")
    spark.stop()
  }
}
