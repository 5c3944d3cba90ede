package perfbench

import graft.cdc.{AvroWire, ChangeRecord, Op}
import graft.sources.{CdcChunkFile, KafkaSimBroker}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded changelog generators and the oracles the benchmark checks
  * graft's outputs against. Everything here is a pure function of the
  * seed and the sizes; the engine only ever sees the generated bytes. */
object Fixtures {

  val Db = "shop"
  private val BaseTsUs = 1700000000000000L

  /** Wide subscription tables: (name, share of DML records, column
    * count). Shares are skewed; every table has 10 to 20 columns. */
  val WideTables: IndexedSeq[(String, Int, Int)] = IndexedSeq(
    ("orders", 30, 14), ("order_items", 22, 11), ("customers", 14, 18),
    ("payments", 10, 12), ("shipments", 8, 16), ("inventory", 7, 10),
    ("reviews", 5, 20), ("audit_log", 4, 13))

  /** The table path (b) of `subscribe` selects on the wire. */
  val SelectedTable = "order_items"

  /** The narrow keyed table of `upsert` and `aggregate`. */
  val NarrowTable = "accounts"

  /** Distinct values of the aggregated `v` column. */
  val NarrowValues = 48

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 -_"

  private def word(rng: SplittableRandom, lo: Int, hi: Int): String = {
    val n = lo + rng.nextInt(hi - lo + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Alphabet.charAt(rng.nextInt(Alphabet.length))); i += 1 }
    sb.toString
  }

  /** Even-indexed columns are integers, odd ones strings; column 0 is
    * the primary key `id`. */
  private def wideColumns(cols: Int): IndexedSeq[String] =
    IndexedSeq("id") ++ (1 until cols).map(c => if (c % 2 == 0) s"n$c" else s"s$c")

  private def wideImage(rng: SplittableRandom, cols: Int, id: Long): Map[String, String] =
    wideColumns(cols).map { c =>
      c -> (if (c == "id") id.toString
        else if (c.startsWith("n")) rng.nextLong(1000000000L).toString
        else word(rng, 6, 30))
    }.toMap

  private def marker(id: Long, tx: String, tsUs: Long, op: String) =
    ChangeRecord(id, tx, tsUs, tsUs - 1000L, op, null, null, Seq.empty,
      null, null, sourceType = "MySQL", sourceVersion = "8.0")

  /** A wide multi-table changelog of about `n` records: transactions of
    * one to five DML records between BEGIN and COMMIT, and a HEARTBEAT
    * every 100 transactions. */
  def wideChangelog(seed: Long, n: Int): IndexedSeq[ChangeRecord] = {
    val rng = new SplittableRandom(seed)
    val shareTotal = WideTables.map(_._2).sum
    val out = scala.collection.mutable.ArrayBuffer.empty[ChangeRecord]
    val nextPk = Array.fill(WideTables.length)(1L)
    var ts = BaseTsUs
    var txn = 0
    def nextId(): Long = out.length + 1L
    while (out.length < n) {
      txn += 1
      val tx = s"tx-$txn"
      ts += 50 + rng.nextInt(100)
      out += marker(nextId(), tx, ts, Op.Begin)
      val stmts = 1 + rng.nextInt(5)
      var k = 0
      while (k < stmts) {
        var pick = rng.nextInt(shareTotal)
        var t = 0
        while (pick >= WideTables(t)._2) { pick -= WideTables(t)._2; t += 1 }
        val (tbl, _, cols) = WideTables(t)
        val roll = rng.nextInt(10)
        val existing = nextPk(t) > 1
        val op = if (!existing || roll < 6) Op.Insert
          else if (roll < 9) Op.Update else Op.Delete
        val pk = if (op == Op.Insert) { nextPk(t) += 1; nextPk(t) - 1 }
          else 1L + rng.nextLong(nextPk(t) - 1)
        val before = if (op == Op.Insert) null else wideImage(rng, cols, pk)
        val after = if (op == Op.Delete) null else wideImage(rng, cols, pk)
        ts += 20 + rng.nextInt(60)
        out += ChangeRecord(nextId(), tx, ts, ts - 1000L, op, Db, tbl,
          Seq("id"), before, after, sourceType = "MySQL", sourceVersion = "8.0")
        k += 1
      }
      ts += 10
      out += marker(nextId(), tx, ts, Op.Commit)
      if (txn % 100 == 0) { ts += 10; out += marker(nextId(), null, ts, Op.Heartbeat) }
    }
    out.toIndexedSeq
  }

  /** Sampler of ranks 0 until n with P(rank k) ∝ 1 / (k + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A narrow keyed INSERT/UPDATE/DELETE changelog of `n` records over
    * `keyspace` keys with Zipf(`zipfS`) skew. A `staleShare` of the
    * records are stale UPDATEs: they arrive after a newer record of
    * their key but carry an older timestamp, so last-DML-wins by
    * (tsUs, id) must discard them. Keys are permuted so hot keys spread
    * over the sink's buckets. With `preload` the changelog starts with
    * an INSERT of every key (an initial snapshot), so the `n` changes
    * after it run against a full keyspace. */
  def narrowChangelog(seed: Long, n: Int, keyspace: Int, zipfS: Double,
      staleShare: Double, preload: Boolean = false): IndexedSeq[ChangeRecord] = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(keyspace, zipfS)
    val perm = Array.tabulate(keyspace)(identity)
    var i = keyspace - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val lastTs = new Array[Long](keyspace)
    val alive = new Array[Boolean](keyspace)
    val image = new Array[Map[String, String]](keyspace)
    val pre = if (preload) keyspace else 0
    val out = new Array[ChangeRecord](pre + n)
    var ts = BaseTsUs
    var k = 0
    while (k < out.length) {
      val id = k + 1L
      ts += 20 + rng.nextInt(60)
      val key = if (k < pre) k else perm(zipf.sample(rng))
      val seen = lastTs(key) != 0L
      val stale = seen && alive(key) && rng.nextDouble() < staleShare
      val op =
        if (stale) Op.Update
        else if (!alive(key)) Op.Insert
        else if (rng.nextInt(100) < 85) Op.Update else Op.Delete
      val after = if (op == Op.Delete) null else Map(
        "id" -> key.toString,
        "v" -> f"v${rng.nextInt(NarrowValues)}%02d",
        "n" -> rng.nextInt(100000).toString)
      val recTs = if (stale) lastTs(key) - 1L - rng.nextInt(5000000) else ts
      out(k) = ChangeRecord(id, s"tx-$id", recTs, recTs - 1000L, op, Db,
        NarrowTable, Seq("id"), if (op == Op.Insert) null else image(key),
        after, sourceType = "MySQL", sourceVersion = "8.0")
      if (!stale) {
        lastTs(key) = recTs
        alive(key) = op != Op.Delete
        image(key) = if (op == Op.Delete) image(key) else after
      }
      k += 1
    }
    out.toIndexedSeq
  }

  /** Write `records` as chunk segments of `perChunk` records, numbered
    * from `first`; returns the chunk paths in name (= time) order. */
  def writeChunks(dir: Path, records: IndexedSeq[ChangeRecord],
      perChunk: Int, first: Int = 0): IndexedSeq[Path] = {
    Files.createDirectories(dir)
    records.grouped(perChunk).zipWithIndex.map { case (rs, i) =>
      val p = dir.resolve(f"chunk-${first + i}%06d${CdcChunkFile.Extension}")
      CdcChunkFile.write(p.toString, rs)
      p
    }.toIndexedSeq
  }

  /** The record in the public DTS Avro layout: integer columns ride
    * the Integer branch, string columns the Character branch. */
  def toWire(r: ChangeRecord): AvroWire.WireRecord = {
    import AvroWire._
    val isMarker = r.db == null
    val names =
      if (isMarker) null
      else Option(r.after).orElse(Option(r.before)).get.keys.toSeq.sorted
    def image(m: Map[String, String]): Seq[WireValue] =
      if (m == null || isMarker) null
      else names.map { c =>
        val v = m(c)
        if (c == "id" || c.startsWith("n")) WInteger(20, v)
        else WString("utf8mb4", v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    WireRecord(
      version = 2, id = r.id, timestampSec = Math.floorDiv(r.tsUs, 1000000L),
      sourcePosition = s"${r.tsUs}@1", safeSourcePosition = s"${r.tsUs}@0",
      transactionId = r.transactionId, sourceTypeCode = 0,
      sourceVersion = "8.0", op = r.op,
      objectName = if (isMarker) null else s"${r.db}.${r.tbl}",
      tags = if (isMarker) Map.empty else Map("pk_uk_info" -> """{"PRIMARY":["id"]}"""),
      fields = if (isMarker) null
        else names.map(c => c -> (if (c == "id" || c.startsWith("n")) 8 else 253)),
      before = image(r.before), after = image(r.after),
      bornTimestamp = r.bornUs)
  }

  /** DTS-Avro messages over `partitions` Kafka partitions, dealt by
    * record id, with partition-local offsets in id order. */
  def wireMessages(records: IndexedSeq[ChangeRecord],
      partitions: Int): IndexedSeq[KafkaSimBroker.Msg] = {
    val next = new Array[Long](partitions)
    records.map { r =>
      val p = (r.id % partitions).toInt
      val off = next(p); next(p) += 1
      KafkaSimBroker.Msg(p, off, r.tsUs / 1000L, null,
        AvroWire.encodeRecord(toWire(r)))
    }
  }

  /** SHA-256 over every byte the engine is given, in a fixed order. */
  def digest(chunks: Seq[Path], messages: Seq[KafkaSimBroker.Msg]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(p => md.update(Files.readAllBytes(p)))
    messages.foreach { m =>
      md.update(java.nio.ByteBuffer.allocate(12).putInt(m.partition).putLong(m.offset).array())
      md.update(m.value)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ----------------------------------------------------------- oracles

  /** The sink's key for a narrow record (CdcStreaming.keyExpr's form). */
  def keyOf(r: ChangeRecord): String = {
    val img = if (r.after != null) r.after else r.before
    s"${r.db}|${r.tbl}|${img("id")}"
  }

  /** Last DML wins per key by (tsUs, id); DELETE winners are kept, so
    * callers see tombstones and decide. */
  def lastWins(records: Iterable[ChangeRecord]): Map[String, ChangeRecord] = {
    val m = scala.collection.mutable.HashMap.empty[String, ChangeRecord]
    records.foreach { r =>
      if (Op.isDml(r.op)) {
        val k = keyOf(r)
        m.get(k) match {
          case Some(c) if c.tsUs > r.tsUs || (c.tsUs == r.tsUs && c.id > r.id) =>
          case _ => m(k) = r
        }
      }
    }
    m.toMap
  }

  /** Live rows: key → winning record id, tombstones dropped. */
  def liveRows(records: Iterable[ChangeRecord]): Map[String, Long] =
    lastWins(records).collect { case (k, r) if r.op != Op.Delete => k -> r.id }

  /** Live row count per value of the `v` column. */
  def liveCounts(records: Iterable[ChangeRecord]): Map[String, Long] =
    lastWins(records).values.filter(_.op != Op.Delete)
      .groupBy(_.after("v")).map { case (v, rs) => v -> rs.size.toLong }

  /** Row-level diff between two live states, as tableChanges reports
    * it: (change_type, key, record id of the newer side; the older
    * side's for a delete). */
  def diff(a: Map[String, Long], b: Map[String, Long]): Set[(String, String, Long)] = {
    val ins = b.collect { case (k, id) if !a.contains(k) => ("insert", k, id) }
    val del = a.collect { case (k, id) if !b.contains(k) => ("delete", k, id) }
    val upd = b.collect { case (k, id) if a.get(k).exists(_ != id) => ("update", k, id) }
    (ins ++ del ++ upd).toSet
  }
}
