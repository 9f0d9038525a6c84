package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.tools.{ArtifactStore, IndexCache}

/** One benchmark run: a closed loop, one query in flight, over the
  * queries `run.py` picked for the workload and seed.
  *
  * Passes, in order:
  *  - `warmup` (untimed, part of set-up): builds each query and writes its
  *    declared output to the noop sink while observing its row count and
  *    an order-insensitive content fingerprint.
  *  - `reload` (untimed, part of set-up; only when the warm-up built an
  *    artifact): the same, in a new session with the memo cleared over the
  *    store the warm-up filled, so the fingerprints check the artifacts as
  *    they load back.
  *  - `cold<r>`: artifact memo cleared, artifact store empty. Per query:
  *    build, noop write, `count()` on the same DataFrame.
  *  - `warm<r>`: a new session, memo cleared, over the store `cold<r>`
  *    filled. Per query: build, noop write.
  * The cold and warm passes repeat once per entry of `round_traced`, so
  * that each query's time can be taken as a median; the entry says whether
  * the round records spans and Catalyst phases.
  *
  * Every layer is timed from outside, around calls into public entry
  * points: `SparkEntry.queries(name)(spark, sf)` (operators, eager stages
  * and artifact builds), the noop write (declared output) and `count()`
  * (the contract method). In a traced round the Catalyst phases (and the
  * `plans` rules) come from the tracker of the write's own
  * `QueryExecution`, which the `SqlListener` receives; they become a plan
  * span inside the execute span. The result is one JSON file.
  */
object Harness {

  final case class Plan(workload: String, sfDir: String, cpus: Int,
                        queries: Seq[String], workDir: String, out: String,
                        confs: Seq[(String, String)], roundTraced: Seq[Boolean],
                        survey: Boolean)

  /** `Class: message` of a throwable and each of its causes. */
  def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
      .map(x => s"${x.getClass.getName}: ${Option(x.getMessage).getOrElse("").take(400)}")
      .mkString(" <- caused by ")

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: Harness <plan.json>")
    val plan = readPlan(new File(args(0)))
    val unknown = plan.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    new Harness(plan).run()
  }

  private def readPlan(f: File): Plan = {
    val n = new ObjectMapper().readTree(f)
    Plan(
      workload = n.get("workload").asText,
      sfDir = n.get("sf_dir").asText,
      cpus = n.get("cpus").asInt,
      queries = n.get("queries").elements.asScala.map(_.asText).toSeq,
      workDir = n.get("work_dir").asText,
      out = n.get("out").asText,
      confs = n.get("confs").fields.asScala.map(e => e.getKey -> e.getValue.asText).toSeq,
      roundTraced = n.get("round_traced").elements.asScala.map(_.asBoolean).toSeq,
      survey = Option(n.get("survey")).exists(_.asBoolean))
  }

  /** Order-insensitive fingerprint columns: row count and the two 32-bit
    * halves of the summed per-row xxhash64 (summed apart so the sums
    * cannot overflow). Map-typed columns hash through their JSON form,
    * since xxhash64 rejects maps. */
  private def fingerprint(df: DataFrame): (DataFrame, Seq[Column]) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed -> Seq(count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  private def nodes(p: LogicalPlan): Int = {
    var n = 0
    p.foreach(_ => n += 1)
    n
  }

  /** Whether the plan evaluates an expression of `graft.functions`. */
  private def usesKernel(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.functions."))))
}

final class Harness(plan: Harness.Plan) {
  import Harness._

  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val spanListener = new SpanListener
  private val sql = new SqlListener
  private val heap = new HeapPeak
  private var nextSpan = 0

  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${plan.workDir}/local")
      .config("spark.sql.warehouse.dir", s"${plan.workDir}/warehouse")
    plan.confs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  private def listen(s: SparkSession): SparkSession = {
    s.listenerManager.register(sql)
    s
  }

  /** Time `body` as a span named `name` under `parent`, tagging every
    * job it starts with the span's tag. */
  private def span[T](s: SparkSession, parent: Int, query: String, pass: String,
                      name: String)(body: => T): (T, Double, String) = {
    val id = nextSpan
    nextSpan += 1
    val tag = s"$pass/$id"
    s.sparkContext.setLocalProperty(SpanListener.SpanKey, tag)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9, tag)
    } finally {
      val t1 = System.nanoTime()
      s.sparkContext.setLocalProperty(SpanListener.SpanKey, null)
      spans += Map("id" -> id, "parent" -> parent, "query" -> query, "pass" -> pass,
        "name" -> name, "start_ns" -> t0, "end_ns" -> t1)
    }
  }

  /** One pass over the plan's queries; returns one record per query. */
  private def pass(s: SparkSession, name: String, traced: Boolean,
                   check: Boolean, withCount: Boolean,
                   clearEach: Boolean = false): Map[String, Any] = {
    IndexCache.clear()
    ArtifactStore.drainActions()
    PerfbenchBus.drain(s.sparkContext)
    sql.capture(traced)
    System.gc()
    Thread.sleep(50)
    heap.reset()
    val sqlOkBefore = sql.succeeded.get
    val sqlFailedBefore = sql.failed.size
    val t0 = System.nanoTime()
    val records = plan.queries.map { q =>
      if (clearEach) IndexCache.clear()
      val rec = mutable.LinkedHashMap[String, Any]("query" -> q)
      val qid = nextSpan
      nextSpan += 1
      // epoch nanoseconds minus System.nanoTime, to place tracker phases
      val clockNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
      val qStart = System.nanoTime()
      val tags = mutable.LinkedHashMap[String, String]()
      val buildsBefore = IndexCache.buildTimes.map(_._1).toSet
      var execute: Option[Map[String, Any]] = None
      try {
        val (df, cs, ct) = span(s, qid, q, name, "construct")(SparkEntry.queries(q)(s, plan.sfDir))
        rec("construct_s") = cs
        tags("construct") = ct
        val obs = if (check) Some(Observation(s"fp$qid")) else None
        val out = obs match {
          case Some(o) =>
            val (renamed, cols) = fingerprint(df)
            renamed.observe(o, cols.head, cols.tail: _*)
          case None => df
        }
        val (_, es, et) = span(s, qid, q, name, "execute")(
          out.write.format("noop").mode("overwrite").save())
        execute = Some(spans.last)
        rec("exec_s") = es
        tags("execute") = et
        obs.foreach { o =>
          val m = o.get
          rec("rows") = m("rows")
          rec("fingerprint") = f"${m("rows")}:${m("lo")}:${m("hi")}"
        }
        if (withCount) {
          val (n, ns, nt) = span(s, qid, q, name, "count")(df.count())
          rec("count") = n
          rec("count_s") = ns
          tags("count") = nt
        }
        rec("ok") = true
      } catch {
        case NonFatal(e) =>
          rec("ok") = false
          rec("error") = causeChain(e)
          System.err.println(s"[perfbench] $name $q failed: ${causeChain(e)}")
      }
      val qEnd = System.nanoTime()
      spans += Map("id" -> qid, "parent" -> -1, "query" -> q, "pass" -> name,
        "name" -> "query", "start_ns" -> qStart, "end_ns" -> qEnd)
      rec("query_s") = (qEnd - qStart) / 1e9
      if (traced) writePhases(s, rec, execute, clockNs)
      val builds = IndexCache.buildTimes.filterNot { case (k, _) => buildsBefore(k) }
      val store = ArtifactStore.drainActions()
      rec("artifacts") = builds.map { case (key, secs) =>
        // an IndexCache entry is a load when every store action under
        // its name read a committed table, a build otherwise
        val prefix = key.takeWhile(_ != ':')
        val acts = store.filter(_._1.startsWith(prefix)).map(_._2)
        Map("key" -> prefix, "s" -> secs,
          "kind" -> (if (acts.nonEmpty && acts.forall(_ == "loaded")) "load" else "build"))
      }
      rec("tags") = tags.toMap
      rec
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val heapPeak = heap.peakBytes
    PerfbenchBus.drain(s.sparkContext)
    sql.capture(false)
    val withCounts = records.map { rec =>
      val tags = rec("tags").asInstanceOf[Map[String, String]]
      rec("spark") = tags.map { case (phase, tag) => phase -> spanListener.get(tag) }
      rec.remove("tags")
      rec.toMap
    }
    Map("wall_s" -> wall, "heap_peak_bytes" -> heapPeak,
      "sql_succeeded" -> (sql.succeeded.get - sqlOkBefore),
      "sql_failures" -> sql.failed.drop(sqlFailedBefore),
      "queries" -> withCounts)
  }

  /** In a traced round, after the query span: the Catalyst phases of the
    * query's noop write, read from the tracker of the write's own
    * `QueryExecution` (so planning is counted once, where it runs), and a
    * plan span inside the execute span that they cover. */
  private def writePhases(s: SparkSession, rec: mutable.Map[String, Any],
                          execute: Option[Map[String, Any]], clockNs: Long): Unit = {
    PerfbenchBus.drain(s.sparkContext)
    (execute, sql.takeWrites()) match {
      case (Some(ex), Seq(qe)) =>
        val all = qe.tracker.phases
        val phases = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING).flatMap(all.get)
        rec("phases_ms") = all.map { case (k, v) => k -> v.durationMs }
        rec("plan_s") = phases.map(_.durationMs).sum / 1e3
        rec("optimized_nodes") = nodes(qe.optimizedPlan)
        rec("kernel") = usesKernel(qe.optimizedPlan)
        if (phases.nonEmpty) {
          val (lo, hi) = (ex("start_ns").asInstanceOf[Long], ex("end_ns").asInstanceOf[Long])
          val start = math.min(hi, math.max(lo, phases.map(_.startTimeMs).min * 1000000L - clockNs))
          val end = math.max(start, math.min(hi, phases.map(_.endTimeMs).max * 1000000L - clockNs))
          spans += Map("id" -> nextSpan, "parent" -> ex("id"), "query" -> rec("query"),
            "pass" -> ex("pass"), "name" -> "plan", "start_ns" -> start, "end_ns" -> end)
          nextSpan += 1
        }
      case (Some(_), writes) if rec("ok") == true =>
        rec("ok") = false
        rec("error") = s"expected one noop write execution, the listener saw ${writes.size}"
      case _ =>
    }
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val spark = listen(session())
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(spanListener)
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val root = (tag: String) => s"${plan.workDir}/store-$tag"

    val passes = mutable.LinkedHashMap[String, Map[String, Any]]()
    if (!plan.survey) spark.conf.set(ArtifactStore.RootFlag, root("warmup"))
    passes("warmup") = pass(spark, "warmup", traced = false, check = true, withCount = false)
    if (Option(new File(root("warmup")).list()).exists(_.nonEmpty)) {
      val reload = listen(spark.newSession())
      reload.conf.set(ArtifactStore.RootFlag, root("warmup"))
      passes("reload") = pass(reload, "reload", traced = false, check = true, withCount = false)
    }
    val setup = (System.nanoTime() - t0) / 1e9

    if (plan.survey) {
      // one untraced pass, every query paying its own artifact builds,
      // so each query's artifact keys and cost show on its own record
      passes("cold") = pass(spark, "cold", traced = false, check = false,
        withCount = true, clearEach = true)
    } else {
      for ((traced, i) <- plan.roundTraced.zipWithIndex; r = i + 1) {
        spark.conf.set(ArtifactStore.RootFlag, root(s"cold$r"))
        passes(s"cold$r") = pass(spark, s"cold$r", traced, check = false, withCount = true)
        val warmSession = listen(spark.newSession())
        warmSession.conf.set(ArtifactStore.RootFlag, root(s"cold$r"))
        passes(s"warm$r") = pass(warmSession, s"warm$r", traced, check = false,
          withCount = false)
      }
    }

    val traced = plan.roundTraced.zipWithIndex.filter(_._1)
      .flatMap { case (_, i) => Seq(s"cold${i + 1}", s"warm${i + 1}") }.toSet
    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k.startsWith("spark.graft.") ||
        k == "spark.master" || k == "spark.local.dir" || k.startsWith("spark.driver.") }
    val result = Map(
      "workload" -> plan.workload,
      "sf_dir" -> plan.sfDir,
      "cpus" -> plan.cpus,
      "round_traced" -> plan.roundTraced,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "session_confs" -> confs.toMap,
      "session_start_s" -> sessionStart,
      "setup_s" -> setup,
      "passes" -> passes.toMap,
      "spans" -> spans.toList.filter(sp => traced(sp("pass").toString)))
    Files.write(new File(plan.out).toPath, Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
