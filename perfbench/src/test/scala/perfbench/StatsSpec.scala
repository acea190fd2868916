package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("Harrell-Davis quantiles") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(near(Stats.median(xs), 3.0), "symmetric sample: the centre")
    assert(near(Stats.median(Seq(1.0, 2.0)), 1.5), "two values: their mean")
    assert(Stats.quantile(xs, 0.0) == 1.0 && Stats.quantile(xs, 1.0) == 5.0)
    assert(near(Stats.quantile(Seq.fill(7)(2.5), 0.9), 2.5))
    val qs = Seq(0.1, 0.5, 0.9, 0.95).map(Stats.quantile(xs, _))
    assert(qs == qs.sorted && qs.forall(q => q > 1.0 && q < 5.0))
    // on a large uniform sample it agrees with the plain order statistic
    val u = (1 to 1001).map(_.toDouble)
    assert(math.abs(Stats.quantile(u, 0.9) - 901.0) < 0.5)
    // a gap between two clusters: the estimate moves smoothly across it
    val gap = Seq.fill(16)(0.35) ++ Seq.fill(18)(0.45)
    assert(Stats.median(gap) > 0.35 && Stats.median(gap) < 0.45)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  private val ms = 1000000L

  test("self time subtracts children once, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, 1, "request", 0, 100 * ms),
      Span(2, 1, 1, "construct", 0, 40 * ms),
      // two overlapping jobs inside construct: 10..30 and 20..35 cover 25 ms
      Span(3, 2, 1, "eager_job", 10 * ms, 30 * ms),
      Span(4, 2, 1, "eager_job", 20 * ms, 35 * ms),
      Span(5, 1, 1, "execute", 40 * ms, 100 * ms),
      // a job event stamped past its parent's end counts only inside it
      Span(6, 5, 1, "job", 50 * ms, 110 * ms))
    val self = Spans.selfTimes(spans)
    assert(self("request") == 0.0)
    assert(self("construct") == 0.015)
    assert(self("eager_job") == 0.035)
    assert(self("execute") == 0.010)
    assert(self("job") == 0.060)
  }

  test("self times of separate requests add up per layer") {
    val spans = Seq(
      Span(1, 0, 1, "request", 0, 10 * ms),
      Span(2, 0, 2, "request", 5 * ms, 25 * ms),
      Span(3, 2, 2, "plan", 5 * ms, 10 * ms))
    val self = Spans.selfTimes(spans)
    assert(self("request") == 0.025)
    assert(self("plan") == 0.005)
  }

  test("result digests ignore row order and map entry order") {
    val a = Array(Row("k1", 1L, Map("x" -> 1, "y" -> 2)), Row("k2", 2L, Map.empty))
    val b = Array(Row("k2", 2L, Map.empty), Row("k1", 1L, Map("y" -> 2, "x" -> 1)))
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(a) != Digest.of(a.take(1)))
    assert(Digest.of(a) != Digest.of(Array(Row("k1", 1L, Map("x" -> 1)), a(1))))
  }
}
