package perfbench

object Stats {

  /** Quantile `q` (0..1) of a non-empty sample by the Harrell-Davis
    * estimator: a Beta(q(n+1), (1-q)(n+1))-weighted average of all order
    * statistics. Request latencies fall in clusters (one per request kind
    * or endpoint); one or two order statistics jump across a gap between
    * clusters from run to run, while the weighted average moves smoothly. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val n = s.size
    if (n == 1 || q == 0) s.head
    else if (q == 1) s.last
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One timed interval at a layer boundary. `parent` is 0 for a request's
  * root span; all spans of one request share `request`. Times are
  * nanoseconds on the [[Clock]] timeline. */
final case class Span(id: Long, parent: Long, request: Long, layer: String,
                      startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

object Spans {

  /** Self time per layer, in seconds: each span's duration minus the part
    * of its interval covered by its children. Overlapping children are
    * counted once, and a child is clipped to its parent's interval. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer) { sp =>
      val covered = coveredNs(children.getOrElse(sp.id, Nil).map(c =>
        (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs))))
      (sp.durationNs - covered) / 1e9
    }(_ + _)
  }

  /** Length of the union of the intervals. */
  def coveredNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

/** One timeline for benchmark spans and Spark listener events: epoch
  * nanoseconds, advanced by the monotonic clock. Spark stamps its events in
  * epoch milliseconds, which map onto this timeline as `ms * 1e6`. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}
