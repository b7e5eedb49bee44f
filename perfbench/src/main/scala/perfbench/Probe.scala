package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One wall clock for event times, emission times and spans: epoch
 * microseconds advanced by the monotonic nano timer. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spark execution counters summed over an interval. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    gcMs: Long = 0, shuffleWriteBytes: Long = 0, shuffleWriteRecords: Long = 0,
    shuffleReadBytes: Long = 0, spillBytes: Long = 0, peakExecMem: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleWriteRecords - o.shuffleWriteRecords,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes, peakExecMem)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteRecords + o.shuffleWriteRecords,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes,
    math.max(peakExecMem, o.peakExecMem))
}

object Counters {
  /** Execution counters per pass. */
  def layers(c: Counters, skew: Double, passes: Double): Map[String, Double] = Map(
    "exec.jobs" -> c.jobs / passes, "exec.stages" -> c.stages / passes,
    "exec.tasks" -> c.tasks / passes, "exec.task_ms" -> c.taskMs / passes,
    "exec.gc_ms" -> c.gcMs / passes, "shuffle.write_bytes" -> c.shuffleWriteBytes / passes,
    "shuffle.read_bytes" -> c.shuffleReadBytes / passes, "spill.bytes" -> c.spillBytes / passes,
    "exec.skew" -> skew, "exec.peak_mem_bytes" -> c.peakExecMem.toDouble)
}

/** Counters at a point in time, plus the positions needed to read the
 * jobs and stages that finish after it. */
final case class Mark(c: Counters, jobs: Int, stages: Int)

/** The harness's own SparkListener: job/stage/task counters, job time
 * ranges, and per-stage task times for the skew figure. Registered
 * only in traced runs. Events arrive on Spark's asynchronous listener
 * bus, so [[snapshot]] drains the bus before reading. */
class Probe(spark: SparkSession) extends SparkListener {
  private var total = Counters()
  /** (start ms, end ms) per finished job, in completion order. */
  private val jobTimes = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** Task run times per completed stage: stage id → ms per task. */
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageDone = mutable.ArrayBuffer.empty[Int]
  /** Peak execution memory since the last [[resetPeak]]. */
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    total = total.copy(jobs = total.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total = total.copy(stages = total.stages + 1)
    stageDone += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      total = total + Counters(tasks = 1, taskMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
      peak = math.max(peak, m.peakExecutionMemory)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)

  def snapshot(): Mark = { drain(); synchronized { Mark(total.copy(peakExecMem = peak), jobTimes.size, stageDone.size) } }

  def resetPeak(): Unit = { drain(); synchronized { peak = 0L } }

  /** Counters accumulated since `m`. */
  def since(m: Mark): Counters = { drain(); synchronized { total.copy(peakExecMem = peak) - m.c } }

  /** Job (start ms, end ms) ranges finished since `m`. */
  def jobsSince(m: Mark): Seq[(Long, Long)] = synchronized { jobTimes.drop(m.jobs).toList }

  /** Max ÷ median task time of the widest stage finished since `m`
   * (most tasks; ties go to the larger summed task time). 1.0 when no
   * stage ran or its median task took 0 ms. */
  def skewSince(m: Mark): Double = synchronized {
    val ts = stageDone.drop(m.stages).flatMap(stageTasks.get).filter(_.nonEmpty)
    if (ts.isEmpty) 1.0
    else {
      val widest = ts.maxBy(t => (t.size, t.sum))
      val med = Stats.median(widest.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else widest.max / med
    }
  }
}

object Machine {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGcPeak = 0L

  /** Starts following every collection: after each, the heap pools'
   * summed use is the heap the program still held. */
  def watchHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            Machine.synchronized { heapAfterGcPeak = math.max(heapAfterGcPeak, used) }
          }
      }, null, null)
    case _ => ()
  }

  /** Most heap in use after any collection since [[watchHeap]], in MB. */
  def heapAfterGcPeakMb(): Double = heapAfterGcPeak / 1048576.0

  /** Peak use summed over the non-heap pools (metaspace, code cache), MB. */
  def nonHeapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** High-water resident memory of this process in MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Contention sentinel: the same fixed 10M-row `spark.range` sum that
   * `graft.Bench.calibrate()` times. Median of three after one compile
   * run, in seconds. */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(10000000L).selectExpr("sum(id * 2654435761 % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median(Seq(once(), once(), once()))
  }
}
