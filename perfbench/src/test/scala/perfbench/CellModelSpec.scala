package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CellModelSpec extends AnyFunSuite {
  test("last write wins, within a batch and across batches") {
    val m = new CellModel(1, Seq("a", "b"))
    m.write(Seq(10L -> Seq("a" -> 1.0), 10L -> Seq("a" -> 2.0)), 0.0)
    assert(m.cell(10, "a").contains(2.0f))
    m.write(Seq(10L -> Seq("a" -> 3.0)), 0.0)
    assert(m.cell(10, "a").contains(3.0f))
  }

  test("omitted cells keep their stored value") {
    val m = new CellModel(1, Seq("a", "b"))
    m.write(Seq(5L -> Seq("a" -> 1.0, "b" -> 2.0)), 0.0)
    m.write(Seq(5L -> Seq("b" -> 9.0)), 0.0)
    assert(m.cell(5, "a").contains(1.0f))
    assert(m.cell(5, "b").contains(9.0f))
    assert(m.cell(5, "c").isEmpty)
  }

  test("timestamps snap down to the tick grid") {
    val m = new CellModel(60, Seq("a"))
    m.write(Seq(125L -> Seq("a" -> 1.0)), 0.0)
    assert(m.ticks.toSeq == Seq(120L))
    assert(m.cell(120, "a").contains(1.0f))
  }

  test("a new metric reads as the fill value in chunks that existed before it") {
    val m = new CellModel(1, Seq("a"))
    val chunk = m.chunkSec
    m.write(Seq(0L -> Seq("a" -> 1.0), chunk + 1 -> Seq("a" -> 2.0)), 0.0)
    // evolution: "n" arrives in a later chunk with fill 7
    m.write(Seq(3 * chunk -> Seq("a" -> 3.0, "n" -> 4.0)), 7.0)
    assert(m.metrics == Seq("a", "n"))
    assert(m.cell(0, "n").contains(7.0f))
    assert(m.cell(chunk + 1, "n").contains(7.0f))
    assert(m.cell(3 * chunk, "n").contains(4.0f))
    // a later row in a chunk at or after `since` has no fill
    m.write(Seq(3 * chunk + 5 -> Seq("a" -> 5.0)), 0.0)
    assert(m.cell(3 * chunk + 5, "n").isEmpty)
    // a written cell beats the fill
    m.write(Seq(0L -> Seq("n" -> 8.0)), 0.0)
    assert(m.cell(0, "n").contains(8.0f))
  }
}
