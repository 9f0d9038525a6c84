package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters of one span (one phase of one query). */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  var inputBytes, inputRecords = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_run_ms" -> runMs,
    "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakExecMem,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords)
}

/** Attributes jobs, stages and tasks to the span that submitted them.
  * The harness tags each call with the `SpanKey` local property; a job
  * carries the property of the thread that started it, and its stages
  * and tasks inherit the job's tag. Events arrive on the listener bus
  * thread, so every access is synchronized. */
final class SpanListener extends SparkListener {
  private val stageTag = mutable.HashMap[Int, String]()
  private val counts = mutable.HashMap[String, Counts]()

  private def of(tag: String): Counts = counts.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.SpanKey)))
      .getOrElse("untagged")
    of(tag).jobs += 1
    e.stageIds.foreach(id => stageTag.getOrElseUpdate(id, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageTag.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    if (e.reason != TaskSuccess) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  def get(tag: String): Map[String, Long] =
    synchronized(counts.get(tag).map(_.toMap).getOrElse(new Counts().toMap))
}

object SpanListener {
  val SpanKey = "perfbench.span"
}

/** Counts SQL executions and keeps the cause chain of every failed one,
  * whichever call started it. While capturing, it also keeps the
  * `QueryExecution` of each write to the noop sink, whose tracker holds
  * the Catalyst phases of the declared output's plan as it ran. One
  * instance serves every session of a run. */
final class SqlListener extends QueryExecutionListener {
  val succeeded = new AtomicLong
  private val failures = mutable.ArrayBuffer[String]()
  private val writes = mutable.ArrayBuffer[QueryExecution]()
  private var capturing = false

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    succeeded.incrementAndGet()
    synchronized { if (capturing && SqlListener.writesNoop(qe)) writes += qe }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { failures += s"$funcName: ${Harness.causeChain(exception)}" }

  def failed: Seq[String] = synchronized(failures.toList)

  /** Start (or stop) keeping noop writes; drops those kept so far. */
  def capture(on: Boolean): Unit = synchronized { capturing = on; writes.clear() }

  /** The noop writes kept since the last call. */
  def takeWrites(): Seq[QueryExecution] = synchronized {
    val out = writes.toList
    writes.clear()
    out
  }
}

object SqlListener {
  def writesNoop(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation =>
        r.table.getClass.getName.startsWith("org.apache.spark.sql.execution.datasources.noop.")
      case _ => false
    }
    case _ => false
  }
}

/** Highest live heap since the last reset: the largest occupancy any
  * collection leaves behind. Occupancy before a collection mostly tracks
  * the collector's own sizing, so the live heap is what a workload moves. */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(after, math.max)
    }

  def reset(): Unit = peak.set(0)

  /** The peak so far, counting what a full collection now leaves live. */
  def peakBytes: Long = {
    System.gc()
    peak.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max)
  }
}
