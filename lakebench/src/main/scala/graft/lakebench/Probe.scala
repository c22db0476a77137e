package graft.lakebench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call from the benchmark into a layer of the
  * program. `parent` is the index of the enclosing span, -1 at top level;
  * spans of one timed operation share `op`. */
final case class Span(name: String, op: Long, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. With tracing off it only runs the body. */
final class Trace(val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op = 0L

  def nextOp(): Unit = op += 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      spans += Span(name, op, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  def total(name: String): Double = spans.iterator.filter(_.name == name).map(_.seconds).sum

  def json: String = spans.iterator.map { s =>
    s"""{"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Trace {
  val off = new Trace(false)
}

/** Scan figures of one executed plan. */
final case class ScanStats(files: Long, bytes: Long, rows: Long)

object ScanStats extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  def of(plan: SparkPlan): ScanStats = {
    val scans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s
      case b: BatchScanExec => b
    }
    ScanStats(scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum)
  }
}

/** Spark runtime counters from a SparkListener and a QueryExecutionListener,
  * read as differences between two [[Runtime.snapshot]]s. Stage intervals
  * are kept so the driver gap (time no stage was running) of a window can
  * be computed afterwards. */
final class Runtime(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val stageIntervals = ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime)
      stageIntervals.synchronized { stageIntervals += ((s, d)) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("executor_gc_s", m.jvmGCTime / 1e3)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    val s = ScanStats.of(qe.executedPlan)
    add("scan_files", s.files.toDouble)
    add("scan_bytes", s.bytes.toDouble)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Current totals, after every queued listener event has been delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    c.asScala.view.mapValues(_.doubleValue).toMap
  }

  /** Seconds of the windows [startMs, endMs] during which no stage ran. */
  def driverGap(windows: Seq[(Long, Long)]): Double = {
    val iv = stageIntervals.synchronized(stageIntervals.toVector).sortBy(_._1)
    windows.map { case (w0, w1) =>
      var covered = 0L
      var cur = w0
      iv.foreach { case (s0, s1) =>
        val a = math.max(s0, cur)
        val b = math.min(s1, w1)
        if (b > a) { covered += b - a; cur = b }
      }
      (w1 - w0 - covered) / 1e3
    }.sum
  }
}

object Runtime {
  val Counters: Seq[String] = Seq("jobs", "stages", "tasks", "plan_ms", "executor_cpu_s",
    "executor_gc_s", "shuffle_bytes", "spill_bytes", "scan_files", "scan_bytes")

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    Counters.map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
}

/** JVM-wide figures: GC and JIT time, and the heap occupancy left after
  * each collection (its peak is the run's heap footprint). */
object Jvm {
  @volatile private var peakAfterGc = 0L

  private lazy val install: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          n.getUserData match {
            case cd: javax.management.openmbean.CompositeData
                if n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION =>
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
              val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
                .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
              synchronized { if (used > peakAfterGc) peakAfterGc = used }
            case _ =>
          }
        }, null, null)
      case _ =>
    }

  def start(): Unit = install

  def peakHeapMb: Double = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peakAfterGc, if (peakAfterGc == 0L) now else 0L) / (1024.0 * 1024.0)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
}
