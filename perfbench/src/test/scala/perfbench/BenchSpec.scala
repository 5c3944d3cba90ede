package perfbench

import graft.cdc.{ChangeRecord, Op}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def rec(id: Long, tsUs: Long, op: String, key: Int, v: String = "v00") =
    ChangeRecord(id, s"tx-$id", tsUs, tsUs, op, "shop", "accounts", Seq("id"),
      if (op == Op.Insert) null else Map("id" -> key.toString, "v" -> "old"),
      if (op == Op.Delete) null else Map("id" -> key.toString, "v" -> v))

  test("tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val (p11, v11) = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(v11 == 1.0 && math.abs(p11 - 100.0 / 11) < 1e-9)
    val xs = scala.util.Random.shuffle((1 to 30).map(_.toDouble))
    val (p, v) = Stats.tail(xs).get
    assert(v == 20.0 && xs.count(_ > v) == 10)
    assert(math.abs(p - 200.0 / 3) < 1e-9)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("covered time merges overlapping children and clips them to the parent") {
    assert(SelfTime.coveredNs(Seq((10L, 40L), (30L, 60L), (70L, 80L)), 0L, 100L) == 60L)
    assert(SelfTime.coveredNs(Seq((-5L, 5L), (95L, 120L)), 0L, 100L) == 10L)
    assert(SelfTime.coveredNs(Nil, 0L, 100L) == 0L)
  }

  test("self time of a nested tree partitions the root's wall time") {
    val spans = Seq(
      Span(0, -1, 7, "rep", "bench", 0L, 100L),
      Span(1, 0, 7, "drain", "spark", 10L, 60L),
      Span(2, 1, 7, "addBatch", "sinks", 20L, 50L),
      Span(3, 0, 7, "read", "sinks", 70L, 90L))
    val self = SelfTime.selfNs(spans)
    assert(self == Map(0 -> 30L, 1 -> 20L, 2 -> 30L, 3 -> 20L))
    assert(self.values.sum == 100L)
    assert(SelfTime.byLayerNs(spans) == Map("bench" -> 30L, "spark" -> 20L, "sinks" -> 50L))
  }

  test("overlapping siblings count twice, which the run's layer-sum check catches") {
    val spans = Seq(
      Span(0, -1, 0, "rep", "bench", 0L, 100L),
      Span(1, 0, 0, "a", "spark", 0L, 60L),
      Span(2, 0, 0, "b", "sinks", 40L, 100L))
    assert(SelfTime.selfNs(spans).values.sum > 100L)
  }

  test("tracer records nothing when disabled") {
    val t = new Tracer(false)
    assert(t.span(-1, 0, "x", "bench")(id => id) == -1)
    assert(t.add(-1, 0, "y", "bench", 0L, 1L) == -1)
    assert(t.spans.isEmpty)
  }

  test("last DML wins by (tsUs, id): stale updates lose, deletes tombstone") {
    val rs = Seq(
      rec(1, 100, Op.Insert, 1, "a"),
      rec(2, 200, Op.Update, 1, "b"),
      rec(3, 150, Op.Update, 1, "stale"), // newer id, older timestamp
      rec(4, 100, Op.Insert, 2, "c"),
      rec(5, 300, Op.Delete, 2),
      rec(6, 250, Op.Update, 2, "stale"), // older than the delete
      rec(7, 400, Op.Insert, 3, "d"),
      rec(8, 400, Op.Update, 3, "e"))     // same timestamp, higher id
    assert(Fixtures.lastWins(rs).map { case (k, r) => k -> r.id } ==
      Map("shop|accounts|1" -> 2L, "shop|accounts|2" -> 5L, "shop|accounts|3" -> 8L))
    assert(Fixtures.liveRows(rs) == Map("shop|accounts|1" -> 2L, "shop|accounts|3" -> 8L))
    assert(Fixtures.liveCounts(rs) == Map("b" -> 1L, "e" -> 1L))
  }

  test("diff reports inserts, deletes and updates between two live states") {
    val a = Map("k1" -> 1L, "k2" -> 2L, "k3" -> 3L)
    val b = Map("k1" -> 1L, "k2" -> 9L, "k4" -> 4L)
    assert(Fixtures.diff(a, b) ==
      Set(("update", "k2", 9L), ("delete", "k3", 3L), ("insert", "k4", 4L)))
    assert(Fixtures.diff(a, a).isEmpty)
  }

  test("narrow changelog has the stale updates it promises, and they lose") {
    val rs = Fixtures.narrowChangelog(5L, 5000, 300, 1.0, 0.05)
    val latestTs = scala.collection.mutable.HashMap.empty[String, Long]
    var stale = 0
    rs.foreach { r =>
      val k = Fixtures.keyOf(r)
      if (latestTs.get(k).exists(_ > r.tsUs)) stale += 1
      else latestTs(k) = r.tsUs
    }
    assert(stale > 100)
    assert(Fixtures.lastWins(rs).values.forall(r => latestTs(Fixtures.keyOf(r)) == r.tsUs))
  }

  test("a preloaded narrow changelog inserts every key first, then changes them") {
    val rs = Fixtures.narrowChangelog(4L, 2000, 500, 0.7, 0.05, preload = true)
    assert(rs.length == 2500)
    assert(rs.take(500).forall(_.op == Op.Insert))
    assert(rs.take(500).map(Fixtures.keyOf).distinct.length == 500)
    assert(rs(500).op != Op.Insert) // every key is alive when the changes start
    assert(Fixtures.liveRows(rs).size > 400)
  }

  test("steady layer loop: the median of its last passes") {
    var calls = 0
    val ns = LayerLoops.nsPerItem(IndexedSeq.fill(1000)(1)) { x => calls += 1; x }
    assert(ns > 0.0 && calls >= LayerLoops.Window * 1000)
  }

  test("the same seed gives the same fixture digest, another seed another") {
    def digest(seed: Long): String = {
      val dir = Files.createTempDirectory("perfbench-digest")
      try {
        val rs = Fixtures.wideChangelog(seed, 2000)
        Fixtures.digest(Fixtures.writeChunks(dir, rs, 500), Fixtures.wireMessages(rs, 4))
      } finally Main.deleteTree(dir)
    }
    assert(digest(1L) == digest(1L))
    assert(digest(1L) != digest(2L))
  }

  test("wide changelog: skewed tables, 10 to 20 columns, transaction markers") {
    val rs = Fixtures.wideChangelog(3L, 20000)
    val dml = rs.filter(r => Op.isDml(r.op))
    val byTable = dml.groupBy(_.tbl).map { case (t, xs) => t -> xs.length }
    assert(byTable.size == Fixtures.WideTables.length)
    assert(byTable("orders") > 4 * byTable("audit_log"))
    assert(dml.forall { r =>
      val n = Option(r.after).getOrElse(r.before).size
      n >= 10 && n <= 20
    })
    assert(Set(Op.Begin, Op.Commit, Op.Heartbeat).subsetOf(rs.map(_.op).toSet))
  }
}
