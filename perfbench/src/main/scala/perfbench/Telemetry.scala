package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.jdk.CollectionConverters._

/** Spark-wide task counters, taken through the public listener API. */
final class TaskCounters extends SparkListener {
  private val c = Array.fill(8)(new AtomicLong())
  private def add(i: Int, v: Long): Unit = c(i).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add(0, 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(1, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(2, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(3, m.executorRunTime)
      add(4, m.executorCpuTime)
      add(5, m.shuffleReadMetrics.totalBytesRead)
      add(6, m.shuffleWriteMetrics.bytesWritten)
      add(7, m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): TaskCounters.Snap = {
    val v = c.map(_.get)
    TaskCounters.Snap(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
  }
}

object TaskCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, output: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
      shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
      output - o.output)
  }
}

/** JVM counters from the management beans. */
object Jvm {
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else 0L
  }

  /** CPU time of every thread of this JVM, in nanoseconds. */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of this JVM's threads except the JIT compiler threads,
    * in nanoseconds: the engine's own work and the GC it causes, without
    * the compilation that warm-up leaves running in the background. */
  def engineCpuNs: Long = processCpuNs - compilerCpuNs

  /** CPU time of the JIT compiler threads, found by name under
    * /proc/self/task; jvm.options keeps their number fixed, so none
    * exits and takes its time with it. 0 where /proc is missing. */
  def compilerCpuNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = java.nio.file.Files.readString(t.toPath.resolve("comm"))
        if (!comm.contains("CompilerThre")) 0L
        else java.nio.file.Files.readString(t.toPath.resolve("schedstat")).trim
          .split(' ')(0).toLong
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** One streaming query run to the end of its backlog: the records its
  * source admitted, the wall time from start until the last trigger
  * committed, and every progress report. */
final case class Drain(records: Long, wallNs: Long, cpuNs: Long,
    progress: Seq[StreamingQueryProgress]) {

  /** Triggers that carried data. */
  def dataTriggers: Seq[StreamingQueryProgress] =
    progress.filter(_.numInputRows > 0)

  def triggerMs: Seq[Double] =
    dataTriggers.map(Drain.phaseMs(_, "triggerExecution").toDouble)
}

object Drain {
  def phaseMs(p: StreamingQueryProgress, phase: String): Long =
    Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)

  /** Epoch millis of a progress report's trigger start. */
  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Phases of one micro-batch in the order MicroBatchExecution runs
    * them. Progress reports durations only, so traced spans lay them
    * end to end from the trigger's start. */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
}
