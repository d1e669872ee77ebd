package graft.core

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class WireSpec extends AnyFunSuite {

  test("zlib round-trips; a truncated stream throws instead of spinning") {
    val original = (0 until 20000).map(i => (i * 7919 % 251).toByte).toArray
    val full = Wire.zlibDeflate(original)
    assert(Wire.zlibInflate(full).sameElements(original))
    // run on a pool thread: a loop that never ends must fail the test,
    // not hang the suite
    val cut = Future(Wire.zlibInflate(full.take(full.length / 2)))(
      ExecutionContext.global)
    val outcome = Await.ready(cut, 30.seconds).value.get
    assert(outcome.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
      outcome)
  }

  test("jstr escapes quotes, backslashes, control and non-ASCII chars") {
    val s = "C:\\temp\\new \"q\"\n\t\r μ ☂ \u0001"
    val lit = Wire.jstr(s)
    assert(lit.forall(c => c >= ' ' && c <= '~'), lit)
    assert(JsonMethods.parse(s"[$lit]") == JArray(List(JString(s))))
  }
}
