package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: with n sorted samples that is the sample at rank
    * n - beyond (1-based), reported as (percentile, value). None when
    * the sample is too small to have such a rank. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      val rank = n - beyond
      Some((100.0 * rank / n, s(rank - 1)))
    }
  }
}

/** One traced interval. Spans of one closed-loop repetition share a
  * trace id; `parent` is the id of the enclosing span (-1 for a root).
  * `layer` names the repo module the span's self time is charged to. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; spans are written out once, at the end. */
final class Tracer(var enabled: Boolean) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def spans: Seq[Span] = buf.toSeq

  /** Record a finished interval; returns its id (-1 when disabled). */
  def add(parent: Int, trace: Int, name: String, layer: String,
      startNs: Long, endNs: Long): Int =
    if (!enabled) -1
    else {
      val id = nextId
      nextId += 1
      buf += Span(id, parent, trace, name, layer, startNs, endNs)
      id
    }

  /** Time `body` as a span whose children `body` may add under the
    * id it is given. */
  def span[T](parent: Int, trace: Int, name: String, layer: String)(
      body: Int => T): T = {
    val id = if (enabled) { val i = nextId; nextId += 1; i } else -1
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled)
      buf += Span(id, parent, trace, name, layer, t0, System.nanoTime())
  }
}

object SelfTime {

  /** Length of the union of intervals, each first clipped to
    * [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - coveredNs(c, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per layer. */
  def byLayerNs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}
