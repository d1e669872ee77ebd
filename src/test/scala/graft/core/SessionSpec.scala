package graft.core

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("parseCpus: unset is 4, blanks are trimmed, anything but a " +
    "positive integer fails naming the variable") {
    assert(Session.parseCpus(None) == 4)
    assert(Session.parseCpus(Some(" 8 ")) == 8)
    for (bad <- Seq("0", "x")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
