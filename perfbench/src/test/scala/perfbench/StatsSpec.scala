package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.supportedTail(19).isEmpty)
    assert(Stats.supportedTail(20).contains(50))
    assert(Stats.supportedTail(39).contains(50))
    assert(Stats.supportedTail(40).contains(75))
    assert(Stats.supportedTail(99).contains(75))
    assert(Stats.supportedTail(100).contains(90))
    assert(Stats.supportedTail(200).contains(95))
    assert(Stats.supportedTail(1000).contains(99))
  }

  test("window throughput sums each client's rate up to its last completion") {
    // two clients doing back-to-back 1 s operations from t=0: 2 ops/s
    val a = (1 to 5).map(_.toDouble)
    val b = (1 to 5).map(_ + 0.5)
    assert(math.abs(Stats.windowThroughput(0, Seq(a, a)) - 2.0) < 1e-9)
    // an operation straddling the window end still counts up to its end
    assert(math.abs(Stats.windowThroughput(0, Seq(b)) - 5 / 5.5) < 1e-9)
    assert(Stats.windowThroughput(0, Seq(Nil, a)) == 1.0)
  }
}
