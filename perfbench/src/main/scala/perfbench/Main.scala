package perfbench

import graft.GraftSession
import graft.sources.{CdcSource, KafkaSimBroker}
import graft.streaming.CdcStreaming
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

/** The benchmark JVM. Usage:
  * {{{
  *   perfbench.Main --workload subscribe|upsert|aggregate --seed N
  *     --seconds S --trace 0|1 --root DIR [--scale K] [--trace-out FILE]
  * }}}
  * Everything it writes lives under DIR, which it empties before it
  * exits. The last line of stdout is the result object; with
  * `--trace 0` it carries the end-to-end metrics, with `--trace 1` the
  * per-layer ones. `--scale K` divides every fixture size by K (tests). */
object Main {

  /** Set-up rounds. Each builds the session, hands the backlog to the
    * engine ([[Workload.prepare]]) and runs one warm-up repetition;
    * set-up time is their median. */
  val SetupRounds = 3
  /** After the rounds, warm-up repetitions go on until two in a row
    * agree on CPU per record within [[SteadyTolerance]], or at most
    * this many have run. */
  val MaxWarmupReps = 5
  val SteadyTolerance = 0.10
  /** The window keeps running repetitions until it has at least this
    * many, so a repetition slowed by a transient stall moves no
    * median. */
  val MinReps = 3

  final case class Metric(value: Double, unit: String)

  def phaseLayer(phase: String, addBatchLayer: String): String = phase match {
    case "latestOffset" | "getBatch" => "sources"
    case "addBatch" => addBatchLayer
    case _ => "spark"
  }

  def main(args: Array[String]): Unit = {
    val (code, result) = execute(args)
    result.foreach(println)
    System.exit(code)
  }

  /** One run: the exit code, and the result line unless the run
    * failed before it had one. The session is stopped and the scratch
    * under `--root` removed whichever way the run ends. */
  def execute(args: Array[String]): (Int, Option[String]) = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val work = Paths.get(opts("root")).toAbsolutePath.resolve("work")
    val out =
      try run(opts, work)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          (1, None)
      }
      finally {
        KafkaSimBroker.clear()
        org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
        org.apache.spark.sql.SparkSession.getDefaultSession.foreach(_.stop())
        deleteTree(work)
      }
    if (Files.exists(work)) {
      System.err.println(s"[perfbench] scratch left behind: $work")
      (1, out._2)
    } else out
  }

  private def run(opts: Map[String, String], work: Path): (Int, Option[String]) = {
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val scale = opts.getOrElse("scale", "1").toInt
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workload(name)
    val ctx = new Ctx(work, seed, scale, new Tracer(false))
    Files.createDirectories(work)

    // ---- set-up: the records are generated once (benchmark work, not
    // the engine's); then rounds of session build, handing the backlog
    // to the engine, and one warm-up repetition (set-up time is their
    // median); then more repetitions until CPU per record is steady
    val g0 = System.nanoTime()
    wl.generate(ctx)
    System.err.println(f"[perfbench] generated records in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    val cpuPerRec = ArrayBuffer.empty[Double]
    def record(r: Rep): Unit = cpuPerRec += r.cpuNs / 1e3 / r.records
    val rounds = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) { ctx.spark.stop(); KafkaSimBroker.clear() }
      ctx.spark = GraftSession.build(cores, s"perfbench-$name")
      ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      ctx.spark.sparkContext.addSparkListener(ctx.counters)
      val t1 = System.nanoTime()
      wl.prepare(ctx)
      val t2 = System.nanoTime()
      record(wl.rep(ctx, -1, -1))
      (t1 - t0, t2 - t1, System.nanoTime() - t2, wl.digest)
    }
    val w0 = System.nanoTime()
    var extra = 0
    def steady = cpuPerRec.length >= 2 && {
      val Seq(a, b) = cpuPerRec.takeRight(2).toSeq
      math.abs(a - b) <= SteadyTolerance * math.min(a, b)
    }
    while (!steady && extra < MaxWarmupReps) { record(wl.rep(ctx, -1, -1)); extra += 1 }
    wl.cleanupAfterWindow()
    val steadyNs = System.nanoTime() - w0
    System.err.println(s"[perfbench] $name seed=$seed fixture sha256=${rounds.head._4}")
    rounds.foreach { r => System.err.println(f"[perfbench] set-up round: session ${r._1 / 1e9}%.2f s, " +
      f"fixture ${r._2 / 1e9}%.2f s, warm-up ${r._3 / 1e9}%.2f s") }
    System.err.println(f"[perfbench] $extra more warm-up repetitions: ${steadyNs / 1e9}%.2f s; " +
      "CPU us/record " + cpuPerRec.map(v => f"$v%.1f").mkString(" "))
    ctx.check("fixture digest is the same in every set-up round")(
      rounds.map(_._4).distinct.length == 1)
    val setupS = Stats.median(rounds.map(r => (r._1 + r._2 + r._3) / 1e9))

    // ---- the measured window, tracing off
    val (reps, _) = window(ctx, wl, seconds)
    if (!traced) wl.readBack(ctx, -1)
    val metrics = LinkedHashMap.empty[String, Metric]
    val records = reps.map(_.records).sum
    val trig = reps.flatMap(_.drains.flatMap(_.triggerMs))
    System.err.println(f"[perfbench] $name: ${reps.length} repetitions, " +
      f"${trig.length} data triggers, drain ${reps.map(_.drainNs).sum / 1e9}%.2f s " +
      reps.map(r => f"${r.drainNs / 1e9}%.2f").mkString("(", " ", ")") +
      "; CPU us/record " + reps.map(r => f"${r.cpuNs / 1e3 / r.records}%.1f").mkString(" "))
    if (!traced) {
      metrics("setup_s") = Metric(setupS, "s")
      metrics("cpu_us_per_rec") = Metric(Stats.median(reps.map(r => r.cpuNs / 1e3 / r.records)), "us")
    } else {
      // ---- the traced window (the single-thread layer loops run in a
      // JVM of their own: LayerLoops)
      ctx.tracer.enabled = true
      val corrupt0 = CdcSource.corruptSkipped.get
      val (treps, snap) = window(ctx, wl, seconds)
      val reads = wl.readBack(ctx, treps.length)
      ctx.tracer.enabled = false
      val tRecords = treps.map(_.records).sum
      val tDrainNs = treps.map(_.drainNs).sum
      val n = treps.length.toDouble
      def m(k: String, v: Double, unit: String): Unit = metrics(k) = Metric(v, unit)

      val drains = treps.flatMap(_.drains)
      val dtrig = drains.flatMap(_.dataTriggers)
      def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        if (dtrig.isEmpty) 0.0 else Stats.median(dtrig.map(f))
      val ex = (k: String) => treps.map(_.extra.getOrElse(k, 0.0)).sum
      val scanned = if (ex("scanned") > 0) ex("scanned") else tRecords.toDouble
      val selected = if (ex("scanned") > 0) ex("selected") else tRecords.toDouble
      m("sources.input_partitions", ctx.call("readBatch planning")(
        CdcStreaming.readBatch(ctx.spark, wl.chunkDir.toString)
          .queryExecution.toRdd.getNumPartitions).toDouble, "count")
      m("sources.rows_scanned", scanned / n, "count/rep")
      m("sources.rows_selected", selected / n, "count/rep")
      m("sources.selected_share", selected / scanned, "ratio")
      m("sources.corrupt_skipped", (CdcSource.corruptSkipped.get - corrupt0).toDouble, "count")
      m("sources.chunk_rps",
        if (ex("chunk_ns") > 0) ex("chunk_recs") / (ex("chunk_ns") / 1e9)
        else tRecords / (tDrainNs / 1e9), "records/s")
      m("sources.wire_rps",
        if (ex("wire_ns") > 0) ex("wire_recs") / (ex("wire_ns") / 1e9) else 0.0, "records/s")

      val addBatch = dtrig.map(Drain.phaseMs(_, "addBatch").toDouble)
      val tTrig = drains.flatMap(_.triggerMs)
      m("spark.drain_rps", Stats.median(treps.map(r => r.records / (r.drainNs / 1e9))), "records/s")
      m("spark.triggers", dtrig.length / n, "count/rep")
      m("spark.rows_per_trigger", tRecords.toDouble / math.max(1, dtrig.length), "records")
      m("spark.latest_offset_ms_p50", p50(Drain.phaseMs(_, "latestOffset").toDouble), "ms")
      m("spark.planning_ms_p50", p50(Drain.phaseMs(_, "queryPlanning").toDouble), "ms")
      m("spark.commit_ms_p50", p50(p =>
        (Drain.phaseMs(p, "walCommit") + Drain.phaseMs(p, "commitOffsets")).toDouble), "ms")
      m("spark.add_batch_ms_p50", p50(Drain.phaseMs(_, "addBatch").toDouble), "ms")
      m("spark.add_batch_ms_tail", Stats.tail(addBatch).map(_._2).getOrElse(addBatch.max), "ms")
      m("spark.trigger_ms_p50", Stats.median(tTrig), "ms")
      m("spark.trigger_ms_tail", Stats.tail(tTrig).map(_._2).getOrElse(tTrig.max), "ms")
      m("spark.trigger_tail_pct", Stats.tail(tTrig).map(_._1).getOrElse(100.0), "percentile")
      m("spark.outside_trigger_ms", drains.map(d =>
        d.wallNs / 1e6 - d.progress.map(Drain.phaseMs(_, "triggerExecution")).sum).sum / n, "ms/rep")

      def ops(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = p.stateOperators.toSeq
      m("streaming.state_rows_total", drains.map(d =>
        d.progress.lastOption.map(ops(_).map(_.numRowsTotal).sum).getOrElse(0L)).max.toDouble, "rows")
      m("streaming.state_rows_updated", dtrig.map(ops(_).map(_.numRowsUpdated).sum).sum / n, "rows/rep")
      m("streaming.state_update_ms_p50", p50(ops(_).map(_.allUpdatesTimeMs).sum.toDouble), "ms")
      m("streaming.state_commit_ms_p50", p50(ops(_).map(_.commitTimeMs).sum.toDouble), "ms")
      m("streaming.state_memory_mb", drains.flatMap(_.progress).map(ops(_).map(_.memoryUsedBytes).sum)
        .foldLeft(0L)(math.max) / 1048576.0, "MB")

      val sink = wl.sinkFigures(ctx)
      wl.cleanupAfterWindow()
      m("sinks.folded_buckets", sink.getOrElse("folded_buckets", 0.0), "count")
      m("sinks.write_amp", sink.get("codec_bytes")
        .map(cb => snap.tasks.output / n / cb).getOrElse(0.0), "ratio")
      m("sinks.space_amp", sink.getOrElse("space_amp", 0.0), "ratio")
      m("sinks.read_ms", reads.values.sum, "ms")
      m("sinks.read_table_ms", reads.getOrElse("read_table", 0.0), "ms")
      m("sinks.read_as_of_ms", reads.getOrElse("read_as_of", 0.0), "ms")
      m("sinks.table_changes_ms", reads.getOrElse("table_changes", 0.0), "ms")
      m("sinks.change_feed_ms", reads.getOrElse("change_feed", 0.0), "ms")

      m("spark.jobs", snap.tasks.jobs / n, "count/rep")
      m("spark.stages", snap.tasks.stages / n, "count/rep")
      m("spark.tasks", snap.tasks.tasks / n, "count/rep")
      m("spark.executor_run_ms", snap.tasks.runMs / n, "ms/rep")
      m("spark.executor_cpu_ms", snap.tasks.cpuNs / 1e6 / n, "ms/rep")
      m("spark.shuffle_read_mb", snap.tasks.shuffleRead / 1048576.0 / n, "MB/rep")
      m("spark.shuffle_write_mb", snap.tasks.shuffleWrite / 1048576.0 / n, "MB/rep")
      m("spark.output_mb", snap.tasks.output / 1048576.0 / n, "MB/rep")

      m("core.session_ms", Stats.median(rounds.map(_._1 / 1e6)), "ms")
      m("core.fixture_ms", Stats.median(rounds.map(_._2 / 1e6)), "ms")
      m("core.warmup_ms", Stats.median(rounds.map(_._3 / 1e6)), "ms")
      m("core.steady_wait_ms", steadyNs / 1e6, "ms")
      m("core.steady_wait_reps", extra.toDouble, "count")
      m("jvm.gc_ms", snap.gcMs / n, "ms/rep")
      m("jvm.jit_ms", snap.jitMs / n, "ms/rep")
      m("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")

      // ---- spans: per-layer self time, and the overhead of tracing
      val spans = ctx.tracer.spans
      val byLayer = SelfTime.byLayerNs(spans)
      Layers.foreach(l => m(s"$l.self_ms", byLayer.getOrElse(l, 0L) / 1e6 / n, "ms/rep"))
      m("trace.spans", spans.length / n, "count/rep")
      m("trace.overhead_pct",
        100.0 * ((tDrainNs.toDouble / tRecords) / (reps.map(_.drainNs).sum.toDouble / records) - 1),
        "%")
      val roots = spans.filter(_.parent == -1)
      ctx.check("layer self times sum to no more than each repetition's wall time")(
        roots.forall { r =>
          val own = spans.filter(_.trace == r.trace)
          SelfTime.selfNs(own).values.sum <= r.durNs
        })
      printLayerTable(name, byLayer, roots.map(_.durNs).sum, treps.length)
      opts.get("trace-out").foreach(p => writeSpans(Paths.get(p), name, seed, spans))
    }

    val correct = ctx.failed == 0
    if (!correct) System.err.println(s"[perfbench] failures: ${ctx.failures.mkString("; ")}")
    (if (correct) 0 else 1, Some(resultJson(correct, ctx.attempted, ctx.failed, metrics)))
  }

  /** Layers that own self time in the traced window. */
  val Layers: Seq[String] = Seq("bench", "spark", "sources", "sinks", "streaming")

  /** Task counters and JVM GC/JIT time over one window. */
  final case class WindowSnap(tasks: TaskCounters.Snap, gcMs: Long, jitMs: Long)

  /** Closed loop: run repetitions back to back until `seconds` have
    * passed and at least [[MinReps]] have run. */
  private def window(ctx: Ctx, wl: Workload, seconds: Double): (Seq[Rep], WindowSnap) = {
    val c0 = ctx.counters.snapshot(); val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    val t0 = System.nanoTime()
    val reps = ArrayBuffer.empty[Rep]
    var trace = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || reps.length < MinReps) {
      reps += ctx.tracer.span(-1, trace, "rep", "bench")(id => wl.rep(ctx, trace, id))
      trace += 1
    }
    // the listener bus delivers task ends asynchronously
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    val d = ctx.counters.snapshot() - c0
    (reps.toSeq, WindowSnap(d, Jvm.gcMs - gc0, Jvm.jitMs - jit0))
  }

  private def printLayerTable(name: String, byLayer: Map[String, Long],
      wallNs: Long, reps: Int): Unit = {
    val err = System.err
    err.println(f"[perfbench] $name self time per layer over $reps traced repetitions")
    err.println(f"  ${"layer"}%-10s ${"ms/rep"}%10s ${"share"}%7s")
    Layers.foreach { l =>
      val v = byLayer.getOrElse(l, 0L)
      err.println(f"  $l%-10s ${v / 1e6 / reps}%10.1f ${100.0 * v / wallNs}%6.1f%%")
    }
    err.println(f"  ${"sum"}%-10s ${byLayer.values.sum / 1e6 / reps}%10.1f   wall ${wallNs / 1e6 / reps}%.1f ms/rep")
  }

  private def writeSpans(p: Path, name: String, seed: Long, spans: Seq[Span]): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val body = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0}}""")
    Files.writeString(p, s"""{"workload":"$name","seed":$seed,"spans":[\n""" +
      body.mkString(",\n") + "\n]}\n")
    System.err.println(s"[perfbench] spans written to $p")
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: collection.Map[String, Metric]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.map { case (k, v) =>
      s""""$k": {"value": ${num(v.value)}, "unit": "${v.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def treeFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
