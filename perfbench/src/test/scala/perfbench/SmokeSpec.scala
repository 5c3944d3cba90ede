package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every workload at a twentieth of its size, untraced and traced: it
  * must pass its own output checks, leave no scratch behind, and report
  * exactly the metrics BENCHMARK.json declares. */
class SmokeSpec extends AnyFunSuite {

  private val json = new ObjectMapper()
  private val declared = json.readTree(Paths.get("..", "BENCHMARK.json").toFile)

  private def names(section: String): Set[String] =
    declared.get(section).elements().asScala.map(_.get("name").asText).toSet

  /** The metric names of one passing run; it must leave no scratch. */
  private def metricsOf(root: java.nio.file.Path, out: (Int, Option[String])): Set[String] = {
    val (code, result) = out
    assert(code == 0, s"exited $code")
    assert(!Files.exists(root.resolve("work")))
    val r = json.readTree(result.get)
    assert(r.get("correct").asBoolean)
    assert(r.get("failed").asLong == 0L && r.get("attempted").asLong > 0L)
    r.get("metrics").fieldNames().asScala.toSet
  }

  /** A run as run.py makes it: the engine JVM, and for a traced run
    * the layer loops after it. */
  private def runOnce(workload: String, trace: Int): Unit = {
    val root = Files.createTempDirectory(s"perfbench-$workload")
    try {
      val wl = Array("--workload", workload, "--seed", "7", "--root", root.toString,
        "--scale", "20")
      var got = metricsOf(root, Main.execute(wl ++ Array("--seconds", "0.1",
        "--trace", trace.toString, "--trace-out", root.resolve("spans.json").toString)))
      if (trace == 1) {
        assert(Files.size(root.resolve("spans.json")) > 0)
        got ++= metricsOf(root, LayerLoops.execute(wl))
      }
      assert(got == names(if (trace == 1) "per_layer" else "end_to_end"))
    } finally Main.deleteTree(root)
  }

  for (w <- Seq("subscribe", "upsert", "aggregate"); t <- Seq(0, 1))
    test(s"$w runs at tiny scale with trace=$t") { runOnce(w, t) }

  test("the generator's checksum is the SQL checksum Spark evaluates") {
    val spark = graft.GraftSession.build(2, "perfbench-checksum")
    try {
      import spark.implicits._
      val rs = Fixtures.wideChangelog(9L, 300)
      val got = spark.createDataset(rs).toDF()
        .selectExpr(s"sum(${Workload.checksumSql})").head().getLong(0)
      assert(got == rs.map(Workload.checksum).sum)
      val wire = Fixtures.wireMessages(rs, 2).map(m => graft.cdc.AvroWire.decode(m.value))
        .filter(_.db != null)
      assert(wire.map(Workload.checksum).sum ==
        rs.filter(_.db != null).map(Workload.checksum).sum)
    } finally spark.stop()
  }
}
