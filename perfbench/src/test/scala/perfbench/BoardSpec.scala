package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{ExtQueries, PipeQueries, RelQueries, TsQueries}

class BoardSpec extends AnyFunSuite {
  test("the sample holds distinct keys from every query module") {
    assert(Board.Sample.distinct.size == Board.Sample.size)
    assert(Board.Sample.map(_._1).toSet ==
      Set("TsQueries", "RelQueries", "PipeQueries", "ExtQueries"))
  }

  test("the seed fixes the order, not the keys") {
    assert(Board.order(7) == Board.order(7))
    val orders = (1 to 20).map(s => Board.order(s))
    assert(orders.distinct.size > 1)
    assert(orders.map(_.toSet).distinct == Seq(Board.Sample.toSet))
  }

  test("every sampled key is defined by its module") {
    val defined = Map("TsQueries" -> TsQueries.queries, "RelQueries" -> RelQueries.queries,
      "PipeQueries" -> PipeQueries.queries, "ExtQueries" -> ExtQueries.queries)
    assert(Board.Sample.filterNot { case (m, k) => defined(m).contains(k) }.isEmpty)
  }
}
