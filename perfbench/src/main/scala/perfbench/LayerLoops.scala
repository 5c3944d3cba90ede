package perfbench

import graft.cdc.{AvroWire, RecordCodec}
import graft.sources.CdcChunkFile
import java.nio.file.Paths
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** The single-thread `cdc` and `sources` loops of a traced run, in a
  * JVM of their own under the default tiered JIT (run.py starts it
  * after the engine JVM). Usage:
  * {{{
  *   perfbench.LayerLoops --workload W --seed N --root DIR [--scale K]
  * }}}
  * It generates the workload's records from the seed, writes them as
  * chunk segments under DIR, times each loop until its passes are
  * steady, and prints one result line with the metrics. */
object LayerLoops {

  /** Records sampled for the per-record loops. */
  val Sample = 20000
  /** Records per chunk segment for the chunk-read loop. */
  val PerChunk = 1000
  /** A loop is steady once its last [[Window]] passes agree within
    * [[Tolerance]]; it gives up after [[MaxNs]]. */
  val Window = 5
  val Tolerance = 0.05
  val MaxNs = 3000000000L

  def main(args: Array[String]): Unit = {
    val (code, result) = execute(args)
    result.foreach(println)
    System.exit(code)
  }

  def execute(args: Array[String]): (Int, Option[String]) = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val work = Paths.get(opts("root")).toAbsolutePath.resolve("work")
    try {
      val ctx = new Ctx(work, opts("seed").toLong, opts.getOrElse("scale", "1").toInt,
        new Tracer(false))
      val wl = Workload(opts("workload"))
      wl.generate(ctx)
      val metrics = LinkedHashMap.empty[String, Main.Metric]
      run(ctx, wl).foreach { case (k, (v, u)) => metrics(k) = Main.Metric(v, u) }
      val correct = ctx.failed == 0
      (if (correct) 0 else 1, Some(Main.resultJson(correct, ctx.attempted, ctx.failed, metrics)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] layer loops failed: $e")
        e.printStackTrace()
        (1, None)
    } finally Main.deleteTree(work)
  }

  /** Median ns per item of `f` over the last passes, once they are
    * steady. */
  def nsPerItem[T](items: IndexedSeq[T])(f: T => Int): Double = {
    var sink = 0L
    val passes = ArrayBuffer.empty[Double]
    def steady = passes.length >= Window && {
      val last = passes.takeRight(Window)
      last.max <= (1 + Tolerance) * last.min
    }
    val t0 = System.nanoTime()
    while (!steady && (passes.length < Window || System.nanoTime() - t0 < MaxNs)) {
      val s = System.nanoTime()
      var i = 0
      while (i < items.length) { sink += f(items(i)); i += 1 }
      passes += (System.nanoTime() - s).toDouble / items.length
    }
    if (sink == 42L) System.err.print("")
    Stats.median(passes.takeRight(Window).toSeq)
  }

  private def len(s: String): Int = if (s == null) 0 else s.length

  /** The loops over the workload's own records, checked against each
    * other first. */
  def run(ctx: Ctx, wl: Workload): Seq[(String, (Double, String))] = {
    val dir = ctx.newDir("loop-chunks")
    val chunks = Fixtures.writeChunks(dir, wl.records, PerChunk).map(_.toString)
    val codec = chunks.iterator.flatMap(CdcChunkFile.readRawRecords).take(Sample).toIndexedSeq
    val wire = wl.records.take(Sample).map(r => AvroWire.encodeRecord(Fixtures.toWire(r)))
    ctx.check("codec decode agrees with the header on every sampled record")(
      codec.forall(b => RecordCodec.decode(b).id == RecordCodec.headerId(b)))
    ctx.check("avro decode agrees with the header table on every sampled record")(
      wire.forall { b =>
        val r = AvroWire.decode(b)
        (r.db, r.tbl) == AvroWire.headerTable(b)
      })
    val chunkRead = nsPerItem(chunks)(c => CdcChunkFile.readRawRecords(c).length) *
      chunks.length / wl.records.length
    Seq(
      "cdc.decode_ns" -> (nsPerItem(codec)(b => RecordCodec.decode(b).id.toInt), "ns"),
      "cdc.header_table_ns" -> (nsPerItem(codec)(b => len(RecordCodec.headerTable(b)._2)), "ns"),
      "cdc.bytes_per_rec" -> (codec.map(_.length.toDouble).sum / codec.length, "bytes"),
      "cdc.avro_decode_ns" -> (nsPerItem(wire)(b => AvroWire.decode(b).op.length), "ns"),
      "cdc.avro_header_table_ns" -> (nsPerItem(wire)(b => len(AvroWire.headerTable(b)._2)), "ns"),
      "cdc.avro_bytes_per_rec" -> (wire.map(_.length.toDouble).sum / wire.length, "bytes"),
      "sources.chunk_read_ns" -> (chunkRead, "ns"))
  }
}
