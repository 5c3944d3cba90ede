package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable.ArrayBuffer

/** Per-run state shared by the workloads: the session, the run's
  * scratch root, the tracer and the count of attempted and failed
  * operations. */
final class Ctx(val root: Path, val seed: Long, val scale: Int,
    val tracer: Tracer) {
  var spark: SparkSession = _
  val counters = new TaskCounters
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  private var dirSeq = 0

  /** A fresh directory under the run root. */
  def newDir(prefix: String): Path = {
    dirSeq += 1
    Files.createDirectories(root.resolve(f"$prefix-$dirSeq%04d"))
  }

  /** Record the outcome of one output check, itself an attempted
    * operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Exception => System.err.println(s"[perfbench] $what threw: $e"); false
    }
    if (!good) {
      failed += 1
      failures += what
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** One call into graft: counted as attempted, and as failed if it
    * throws (the exception propagates and ends the run). */
  def call[T](what: String)(body: => T): T = {
    attempted += 1
    try body catch {
      case e: Throwable =>
        failed += 1
        failures += s"$what: $e"
        throw e
    }
  }

  /** Run a streaming query until its backlog is drained: start it, wait
    * until every available record is committed, stop it. Spans cover
    * the drain, each trigger, and each trigger phase; `addBatchLayer`
    * names the module that a trigger's addBatch time is charged to.
    * With `resumeFrom` the query restarts from a copy of that
    * checkpoint, the way a subscriber catches up after a failover; the
    * copy is made before the clock starts. */
  def drain(what: String, parent: Int, trace: Int, addBatchLayer: String,
      resumeFrom: Path = null)(start: Path => StreamingQuery): Drain = {
    val cp = newDir("checkpoint")
    if (resumeFrom != null) Main.copyTree(resumeFrom, cp)
    val q0Ms = System.currentTimeMillis()
    val q0Ns = System.nanoTime()
    val cpu0 = Jvm.engineCpuNs
    val q = call(what) {
      val q = start(cp)
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
      q
    }
    val endNs = System.nanoTime()
    val cpuNs = Jvm.engineCpuNs - cpu0
    val progress = q.recentProgress.toSeq
    val d = Drain(progress.map(_.numInputRows).sum, endNs - q0Ns, cpuNs, progress)
    if (tracer.enabled) {
      val dId = tracer.add(parent, trace, what, "spark", q0Ns, endNs)
      d.dataTriggers.foreach { p =>
        val tStart = math.max(q0Ns, q0Ns + (Drain.startMs(p) - q0Ms) * 1000000L)
        val tEnd = math.min(endNs,
          tStart + Drain.phaseMs(p, "triggerExecution") * 1000000L)
        val tId = tracer.add(dId, trace, "trigger", "spark", tStart, tEnd)
        var at = tStart
        Drain.Phases.foreach { ph =>
          val ms = Drain.phaseMs(p, ph)
          if (ms > 0 && at < tEnd) {
            val e = math.min(tEnd, at + ms * 1000000L)
            tracer.add(tId, trace, ph, Main.phaseLayer(ph, addBatchLayer), at, e)
            at = e
          }
        }
      }
    }
    Main.deleteTree(cp)
    d
  }
}
