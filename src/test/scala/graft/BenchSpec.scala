package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("steadyFields: one (cold) pass reports no steady_total or " +
    "spread_pct; three passes report the per-key minima and the spread") {
    assert(Bench.steadyFields(Seq(Seq(3.0, 5.0)), Seq(8.0)) == "")
    val passes = Seq(Seq(3.0, 5.0), Seq(2.0, 6.0), Seq(2.5, 4.5))
    assert(Bench.steadyFields(passes, passes.map(_.sum)) ==
      ""","steady_total":6.5,"spread_pct":14.286""")
  }
}
