package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's baseline lookup: which pinned time a query's run is
  * gated against. A subset run times the TPC-H head cold, so its head
  * queries compare with the pin's "head_cold" entry; a full-catalog run
  * compares with the pin's "queries" map throughout.
  */
class BenchBaselineSpec extends AnyFunSuite {
  private val pin =
    """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1_pricing_summary":0.5,"q_pivot":2.0},"failed":[],"errors":{},"regressions":[],"adjudicated":{"q_pivot":0.1},"head_cold":{"q1_pricing_summary":1.4},"frame_builds":[],"sf":"/data/sf0.1"}"""

  test("full-catalog run: every query gates against the queries map, never the adjudicated one") {
    assert(Bench.baselineTimes(pin, subset = false) ==
      Map("q1_pricing_summary" -> 0.5, "q_pivot" -> 2.0))
  }

  test("subset run: a head query gates against its head_cold entry") {
    assert(Bench.baselineTimes(pin, subset = true) ==
      Map("q1_pricing_summary" -> 1.4, "q_pivot" -> 2.0))
  }

  test("subset run against a pin without head_cold keeps the queries map") {
    val old = pin.replace(""","head_cold":{"q1_pricing_summary":1.4}""", "")
    assert(Bench.baselineTimes(old, subset = true) ==
      Map("q1_pricing_summary" -> 0.5, "q_pivot" -> 2.0))
  }
}
