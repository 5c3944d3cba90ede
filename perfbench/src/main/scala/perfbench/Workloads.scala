package perfbench

import graft.cdc.{ChangeRecord, RecordCodec}
import graft.sinks.CdcParquetSink
import graft.sources.{CdcChunkFile, CdcSubscription, KafkaSimBroker}
import graft.streaming.CdcStreaming
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** What one closed-loop repetition did: records its streams admitted,
  * every drain, and workload-specific figures. */
final case class Rep(records: Long, drains: Seq[Drain],
    extra: Map[String, Double] = Map.empty) {
  def drainNs: Long = drains.map(_.wallNs).sum
  def cpuNs: Long = drains.map(_.cpuNs).sum
}

/** A benchmark workload. `generate` makes the records and the oracle's
  * expectations from the seed, once; `prepare` hands them to the engine
  * (chunk segments, wire messages, state to resume from), once per
  * set-up round or, where a session rebuild leaves them intact, once;
  * `rep` drains the backlog once, checks every output, and removes what
  * it wrote. */
abstract class Workload {
  def name: String
  /** Module a trigger's addBatch time is charged to. */
  def addBatchLayer: String
  def generate(ctx: Ctx): Unit
  def prepare(ctx: Ctx): Unit
  def rep(ctx: Ctx, trace: Int, parent: Int): Rep
  /** Digest of every fixture byte handed to the engine. */
  def digest: String
  def chunkDir: Path
  /** Every record [[generate]] made. */
  def records: IndexedSeq[ChangeRecord]
  /** After the window: read the output back, check it, and return the
    * wall time of each read call in ms. */
  def readBack(ctx: Ctx, trace: Int): Map[String, Double] = Map.empty
  /** Sink-layer figures of the last drain (traced runs only). */
  def sinkFigures(ctx: Ctx): Map[String, Double] = Map.empty
  /** Remove what the last repetition left for [[sinkFigures]]. */
  def cleanupAfterWindow(): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "subscribe" => new Subscribe
    case "upsert" => new Upsert
    case "aggregate" => new Aggregate
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (subscribe|upsert|aggregate)")
  }

  private val P = 2147483647L

  private def xx(seed: Long, s: String): Long =
    if (s == null) seed
    else {
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
    }

  private def pmod(h: Long): Long = ((h % P) + P) % P

  /** Per-row checksum, computed by the generator. [[checksumSql]] is
    * the same function in Spark SQL, evaluated on graft's output. */
  def checksum(r: ChangeRecord): Long = {
    val head = pmod(xx(xx(xx(XXH64.hashLong(r.id, 42L), r.op), r.db), r.tbl))
    val img = if (r.after != null) r.after else r.before
    head + (if (img == null) 0L else img.iterator.map { case (k, v) => pmod(xx(xx(42L, k), v)) }.sum)
  }

  val checksumSql: String =
    s"pmod(xxhash64(id, op, db, tbl), $P) + coalesce(aggregate(" +
      "map_entries(coalesce(after, before)), 0L, " +
      s"(a, e) -> a + pmod(xxhash64(e.key, e.value), $P)), 0L)"

  /** Count and checksum sum of a frame of change records, as observed
    * metrics named `name`. */
  def observed(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("n"), sum(expr(checksumSql)).as("sum"))

  /** (rows, checksum) observed over every trigger of a drain. */
  def observedTotals(d: Drain, name: String): (Long, Long) =
    d.progress.flatMap(p => Option(p.observedMetrics.get(name))).foldLeft((0L, 0L)) {
      case ((n, s), row) =>
        (n + row.getLong(0), s + (if (row.isNullAt(1)) 0L else row.getLong(1)))
    }

  /** Chunks consumed by the end of each data-carrying batch. */
  def chunksByBatch(d: Drain): Seq[(Long, Int)] =
    d.dataTriggers.map { p =>
      val end = p.sources.head.endOffset
      p.batchId -> "\\d+".r.findFirstIn(end).get.toInt
    }
}

/** Wide multi-table changelog drained two ways: chunk segments through
  * the graft-cdc source, decoding every column, and the same records as
  * DTS-Avro messages through a Kafka-shaped topic, selecting one table
  * on the header prefix. Both end in a noop sink. */
final class Subscribe extends Workload {
  import Workload._
  val name = "subscribe"
  val addBatchLayer = "sources"
  var chunkDir: Path = _
  var digest = ""
  private var server = ""
  private var nRecords = 0L
  private var nMessages = 0L
  private var expectAll = (0L, 0L)
  private var expectSel = (0L, 0L)
  private var recs: IndexedSeq[ChangeRecord] = IndexedSeq.empty

  private def size(scale: Int) = 30000 / scale
  /** Sixteen small chunks per trigger and sixteen topic partitions: each
    * trigger runs sixteen tasks on the cores, so one slowed core delays
    * a trigger by a task, not by a quarter of it. */
  private def perChunk(scale: Int) = 625 / scale
  private val chunkCap = 16
  private val WirePartitions = 16

  def generate(ctx: Ctx): Unit = {
    recs = Fixtures.wideChangelog(ctx.seed, size(ctx.scale))
    nRecords = recs.length
    expectAll = (recs.length.toLong, recs.iterator.map(checksum).sum)
    val sel = recs.filter(r => r.tbl == Fixtures.SelectedTable)
    expectSel = (sel.length.toLong, sel.iterator.map(checksum).sum)
  }

  def prepare(ctx: Ctx): Unit = {
    if (chunkDir != null) Main.deleteTree(chunkDir)
    chunkDir = ctx.newDir("chunks")
    val chunks = Fixtures.writeChunks(chunkDir, recs, perChunk(ctx.scale))
    val msgs = Fixtures.wireMessages(recs, WirePartitions)
    digest = Fixtures.digest(chunks, msgs)
    nMessages = msgs.length
    server = s"sim://perfbench-${ctx.seed}"
    KafkaSimBroker.register(server, Map("dts-wide" -> msgs))
  }

  def rep(ctx: Ctx, trace: Int, parent: Int): Rep = {
    val spark = ctx.spark
    val a = ctx.drain("drain_chunks", parent, trace, addBatchLayer) { cp =>
      observed(CdcStreaming.readStream(spark, chunkDir.toString,
          maxChunksPerTrigger = Some(chunkCap)), "chk")
        .writeStream.format("noop").option("checkpointLocation", cp.toString)
        .start()
    }
    // three triggers per drain on the wire too: the cap converts at
    // CdcChunkFile.SplitStride messages per chunk
    val wireCap = math.max(1, math.ceil(nMessages / 3.0 / CdcChunkFile.SplitStride).toInt)
    val sub = CdcSubscription(server = server, topic = "dts-wide",
      group = Some("perfbench"), maxChunksPerTrigger = Some(wireCap))
    val b = ctx.drain("drain_wire", parent, trace, addBatchLayer) { cp =>
      val kafka = spark.readStream.format("graft-kafka-sim")
        .options(sub.toKafkaOptions).load()
      observed(CdcStreaming.fromKafkaRecords(kafka,
          table = Some(s"${Fixtures.Db}.${Fixtures.SelectedTable}"),
          permissive = false, wire = "dts-avro"), "chk")
        .writeStream.format("noop").option("checkpointLocation", cp.toString)
        .start()
    }
    ctx.tracer.span(parent, trace, "check", "bench") { _ =>
      ctx.check("subscribe chunk drain admitted every record")(a.records == nRecords)
      ctx.check("subscribe chunk drain count+checksum")(observedTotals(a, "chk") == expectAll)
      ctx.check("subscribe wire drain consumed every message")(b.records == nMessages)
      ctx.check("subscribe wire drain selected-table count+checksum")(
        observedTotals(b, "chk") == expectSel)
    }
    Rep(a.records + b.records, Seq(a, b), extra = Map(
      "chunk_ns" -> a.wallNs.toDouble, "chunk_recs" -> a.records.toDouble,
      "wire_ns" -> b.wallNs.toDouble, "wire_recs" -> b.records.toDouble,
      "scanned" -> (a.records + b.records).toDouble,
      "selected" -> (observedTotals(a, "chk")._1 + observedTotals(b, "chk")._1).toDouble))
  }

  def records: IndexedSeq[ChangeRecord] = recs
}

/** Shared by the two narrow keyed workloads: a Zipf-skewed
  * INSERT/UPDATE/DELETE changelog with stale updates. The first set-up
  * round drains its first part (the warm part) into a checkpoint; each
  * repetition restarts the query from a copy of that checkpoint and
  * catches up on the rest, one small chunk per trigger: a subscriber's
  * catch-up after a failover, against state that is already there. */
abstract class Narrow extends Workload {
  var chunkDir: Path = _
  var digest = ""
  protected var recs: IndexedSeq[ChangeRecord] = IndexedSeq.empty
  /** Records in the warm part; the rest are the changes a repetition
    * drains. */
  protected var warmN = 0
  /** Records written up to the end of each chunk. */
  private var chunkEnds: IndexedSeq[Int] = IndexedSeq.empty
  protected var warmCp: Path = _

  protected def sizes(scale: Int): Narrow.Sizes
  protected def seedSalt: Long

  /** Start the workload's query on the chunks, admitting at most `cap`
    * chunks per trigger; `out` is where it writes. */
  protected def startQuery(ctx: Ctx, cp: Path, cap: Int, out: String): StreamingQuery
  /** Where the warm drain writes. */
  protected def warmOut(ctx: Ctx): String

  def changes: IndexedSeq[ChangeRecord] = recs.drop(warmN)

  def generate(ctx: Ctx): Unit = {
    val z = sizes(ctx.scale)
    recs = Fixtures.narrowChangelog(ctx.seed * 31 + seedSalt,
      z.warm + z.changeChunks * z.perChunk - (if (z.preload) z.keyspace else 0),
      z.keyspace, z.zipfS, 0.05, z.preload)
    warmN = z.warm
    chunkEnds = (recs.take(warmN).grouped(z.warmPerChunk) ++ changes.grouped(z.perChunk))
      .map(_.length).scanLeft(0)(_ + _).drop(1).toIndexedSeq
  }

  /** First round only: write the warm chunks, drain them into the warm
    * checkpoint, then write the change chunks after them. Later rounds
    * reuse both; a session rebuild does not touch them. */
  def prepare(ctx: Ctx): Unit = if (chunkDir == null) {
    val z = sizes(ctx.scale)
    chunkDir = ctx.newDir("chunks")
    val warm = Fixtures.writeChunks(chunkDir, recs.take(warmN), z.warmPerChunk)
    warmCp = ctx.newDir("warm-checkpoint")
    val q = ctx.call("warm drain") {
      val q = startQuery(ctx, warmCp, z.warmChunksPerTrigger, warmOut(ctx))
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
      q
    }
    ctx.check(s"$name warm drain admitted every warm record")(
      q.recentProgress.map(_.numInputRows).sum == warmN)
    val more = Fixtures.writeChunks(chunkDir, changes, z.perChunk, first = warm.length)
    digest = Fixtures.digest(warm ++ more, Nil)
  }

  /** The records in the first `chunks` chunks. */
  protected def prefix(chunks: Int): IndexedSeq[ChangeRecord] =
    recs.take(chunkEnds(chunks - 1))

  def records: IndexedSeq[ChangeRecord] = recs
}

object Narrow {
  /** `warm` records in chunks of `warmPerChunk`, drained
    * `warmChunksPerTrigger` chunks a trigger in set-up; then
    * `changeChunks` chunks of `perChunk` records, one a trigger, per
    * repetition. Keys are Zipf(`zipfS`) over `keyspace`; with
    * `preload` the warm part is one INSERT per key. */
  final case class Sizes(warm: Int, warmPerChunk: Int, warmChunksPerTrigger: Int,
      changeChunks: Int, perChunk: Int, keyspace: Int, zipfS: Double, preload: Boolean)
}

/** The changelog landed in graft's base+delta parquet table, then read
  * back four ways. */
final class Upsert extends Narrow {
  import Workload._
  val name = "upsert"
  val addBatchLayer = "sinks"
  protected val seedSalt = 1L
  /** Seven warm triggers leave every bucket a chain of seven deltas; a
    * repetition's first trigger appends the eighth, and its second is
    * the ninth, which exceeds the sink's default eight deltas and folds
    * every touched bucket. */
  protected def sizes(scale: Int) =
    Narrow.Sizes(warm = 2800 / scale, warmPerChunk = 400 / scale, warmChunksPerTrigger = 1,
      changeChunks = 2, perChunk = 400 / scale, keyspace = 4000 / scale, zipfS = 1.0,
      preload = false)
  private var warmTable: Path = _
  private var lastTable: Path = _
  private var lastDrain: Drain = _

  protected def startQuery(ctx: Ctx, cp: Path, cap: Int, out: String): StreamingQuery =
    CdcParquetSink.start(
      CdcStreaming.readStream(ctx.spark, chunkDir.toString, maxChunksPerTrigger = Some(cap)),
      out, cp.toString)

  protected def warmOut(ctx: Ctx): String = {
    warmTable = ctx.newDir("warm-table")
    warmTable.toString
  }

  def rep(ctx: Ctx, trace: Int, parent: Int): Rep = {
    val table = ctx.newDir("table")
    Main.copyTree(warmTable, table)
    val d = ctx.drain("drain_sink", parent, trace, addBatchLayer, resumeFrom = warmCp) { cp =>
      startQuery(ctx, cp, 1, table.toString)
    }
    ctx.tracer.span(parent, trace, "check", "bench") { _ =>
      ctx.check("upsert drain admitted every change record")(d.records == changes.length)
    }
    if (lastTable != null) Main.deleteTree(lastTable)
    lastTable = table
    lastDrain = d
    Rep(d.records, Seq(d))
  }

  /** Read the last drained table back four ways, each call consuming
    * every row, and check each against last-DML-wins over the records
    * its version had admitted. The sink keeps the last two published
    * versions readable, so time-travel and change reads target the one
    * before the latest. */
  override def readBack(ctx: Ctx, trace: Int): Map[String, Double] = {
    val spark = ctx.spark
    val batches = chunksByBatch(lastDrain)
    val state = batches.map { case (id, c) => id -> Fixtures.liveRows(prefix(c)) }.toMap
    val last = batches.last._1
    val prev = batches(math.max(0, batches.length - 2))._1
    val t = lastTable.toString
    val reads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def rows(df: Option[DataFrame], cols: String*) =
      df.get.select(cols.map(col): _*).collect()
    val (live, asOf, changes, feed) = ctx.tracer.span(-1, trace, "read", "sinks") { rId =>
      def timed[T](what: String)(body: => T): T =
        ctx.tracer.span(rId, trace, what, "sinks") { _ =>
          val t0 = System.nanoTime()
          val out = ctx.call(what)(body)
          reads(what) = (System.nanoTime() - t0) / 1e6
          out
        }
      (timed("read_table")(rows(CdcParquetSink.readTable(spark, t), "key", "recordId")),
        timed("read_as_of")(rows(CdcParquetSink.readTableAsOf(spark, t, prev), "key", "recordId")),
        timed("table_changes")(rows(
          CdcParquetSink.tableChanges(spark, t, prev, last), "change_type", "key", "recordId")),
        timed("change_feed")(rows(
          CdcParquetSink.changeFeed(spark, t, prev), "version", "change_type", "key", "recordId")))
    }
    ctx.check("upsert readTable = last-DML-wins")(
      live.map(r => r.getString(0) -> r.getLong(1)).toMap == state(last) &&
        live.length == state(last).size)
    ctx.check("upsert readTableAsOf(prev) = last-DML-wins of its prefix")(
      asOf.map(r => r.getString(0) -> r.getLong(1)).toMap == state(prev) &&
        asOf.length == state(prev).size)
    val expectChanges = Fixtures.diff(state(prev), state(last))
    ctx.check("upsert tableChanges(prev, last) = state diff")(
      changes.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
        expectChanges && changes.length == expectChanges.size)
    val expectFeed = expectChanges.map { case (c, k, r) => (last, c, k, r) }
    ctx.check("upsert changeFeed(prev) = the last version's diff")(
      feed.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet ==
        expectFeed && feed.length == expectFeed.size)
    reads.toMap
  }

  /** Folds, write and space amplification of the last drained table. */
  override def sinkFigures(ctx: Ctx): Map[String, Double] = {
    val tbl = lastTable
    val manifests = Main.listFiles(tbl).filter(_.getFileName.toString.matches("manifest-v\\d+\\.tsv"))
    val folds = manifests.flatMap(m => Files.readAllLines(m).asScala)
      .flatMap(line => line.split("\t").toSeq.drop(1).flatMap(_.split(",").toSeq))
      .filter(_.contains("-base/")).distinct.length
    val tableBytes = Main.treeFiles(tbl).filter(_.toString.endsWith(".parquet"))
      .map(Files.size).sum
    val codecBytes = changes.map(r => RecordCodec.encode(r).length.toLong).sum
    val live = Fixtures.lastWins(recs).values.filter(_.op != graft.cdc.Op.Delete)
    val liveBytes = live.map(r => RecordCodec.encode(r).length.toLong).sum
    Map("folded_buckets" -> folds.toDouble,
      "space_amp" -> tableBytes.toDouble / liveBytes,
      "codec_bytes" -> codecBytes.toDouble)
  }

  override def cleanupAfterWindow(): Unit = {
    if (lastTable != null) Main.deleteTree(lastTable)
    lastTable = null
  }
}

/** The changelog through the retract materializer and a sign-sum
  * aggregate: live rows per value, kept in the state store. */
final class Aggregate extends Narrow {
  val name = "aggregate"
  val addBatchLayer = "streaming"
  protected val seedSalt = 2L
  /** The warm part inserts every key of a 10^5 keyspace in one trigger,
    * so each repetition updates a state of 10^5 keys. */
  protected def sizes(scale: Int) =
    Narrow.Sizes(warm = 100000 / scale, warmPerChunk = 25000 / scale, warmChunksPerTrigger = 4,
      changeChunks = 6, perChunk = 1500 / scale, keyspace = 100000 / scale, zipfS = 0.7,
      preload = true)
  private var expect: Map[String, Long] = Map.empty
  private var queries = 0

  override def generate(ctx: Ctx): Unit = {
    super.generate(ctx)
    expect = Fixtures.liveCounts(recs)
  }

  private def nextQueryName(): String = { queries += 1; s"live_counts_$queries" }

  protected def startQuery(ctx: Ctx, cp: Path, cap: Int, out: String): StreamingQuery =
    CdcStreaming.liveCountByValue(
        CdcStreaming.readStream(ctx.spark, chunkDir.toString, maxChunksPerTrigger = Some(cap)),
        expr("element_at(after, 'v')"))(ctx.spark)
      .writeStream.format("memory").queryName(out).outputMode("complete")
      .option("checkpointLocation", cp.toString).start()

  private var warmName = ""
  protected def warmOut(ctx: Ctx): String = { warmName = nextQueryName(); warmName }

  override def prepare(ctx: Ctx): Unit = {
    super.prepare(ctx)
    ctx.spark.catalog.dropTempView(warmName)
  }

  def rep(ctx: Ctx, trace: Int, parent: Int): Rep = {
    val spark = ctx.spark
    val qName = nextQueryName()
    val d = ctx.drain("drain_state", parent, trace, addBatchLayer, resumeFrom = warmCp) { cp =>
      startQuery(ctx, cp, 1, qName)
    }
    ctx.tracer.span(parent, trace, "check", "bench") { _ =>
      val got = spark.table(qName).collect()
        .map(r => r.getString(0) -> r.getLong(1)).filter(_._2 != 0L).toMap
      spark.catalog.dropTempView(qName)
      ctx.check("aggregate drain admitted every change record")(d.records == changes.length)
      ctx.check("aggregate live counts per value = last-DML-wins")(got == expect)
    }
    Rep(d.records, Seq(d))
  }
}
