package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

class BinaryFrameSpec extends AnyFunSuite {

  test("encode→decode round-trips a dates+matrix frame bit-exactly") {
    val dates = Array(1704067200.0, 1704067201.0, 1704067202.5)
    val values = Array(
      Array(1.5f, -2.25f), Array(Float.NaN, 4.0f), Array(0.0f, 1e-7f))
    val bytes = BinaryFrame.encode(dates, values)
    assert(bytes.length == 3 * 8 + 6 * 4)

    val (gotDates, got) = BinaryFrame.decode(bytes, 3, 2)
    assert(gotDates.toSeq == dates.toSeq)
    assert(got(0)(0) == 1.5f && got(0)(1) == -2.25f)
    assert(got(1)(0).isNaN && got(1)(1) == 4.0f)
    assert(got(2)(0) == 0.0f && got(2)(1) == 1e-7f)
  }

  test("decode flags a truncated payload per frame, like the corrupt-chunk guard") {
    val good = BinaryFrame.encode(Array(1.0), Array(Array(2.0f)))
    val ex = intercept[graft.core.InvalidDataWriteException] {
      BinaryFrame.decode(good.dropRight(1), 1, 1)
    }
    assert(ex.getMessage.contains("expected 12 bytes, got 11"))
  }
}
