package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact summary line's `queries` map: a cost-ordered prefix under
  * a character budget. */
class BenchSummarySpec extends AnyFunSuite {

  test("top-K stops at the first entry over budget (a long name that " +
    "misses is not replaced by a cheaper short one that fits)") {
    val long = "q_" + "x" * 40
    val results = Map("q_a" -> 3.0, long -> 2.0, "q_b" -> 1.0)
    // "q_a":3.0 takes 9 + 1 chars; "q_b":1.0 would fit the 25-char budget
    // after it, but the dearer long entry between them does not
    assert(Bench.topByCost(results, budget = 25) === Seq("\"q_a\":3.0"))
  }

  test("top-K keeps cost order, rounds to ms and caps at 40 entries") {
    val results = (1 to 50).map(i => f"q$i%02d" -> (i + 0.1234)).toMap
    val top = Bench.topByCost(results)
    assert(top.size === 40)
    assert(top.head === "\"q50\":50.123")
    assert(top.map(_.takeWhile(_ != ':')) ===
      (50 until 10 by -1).map(i => "\"q" + i + "\""))
  }
}
