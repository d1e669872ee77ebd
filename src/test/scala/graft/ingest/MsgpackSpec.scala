package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.client.GraftClient

/** Wire-compat matrix mirroring the reference's
  * `tests/test_write_point_list.py` on the `/influx_binary` path: the
  * fixture BYTES below are exactly what the reference client's
  * `msgpack.dumps(sequence)` posts (encoded per the public msgpack
  * spec: fixarray/fixstr/str8/array16, float64 values, uint64 ns
  * timestamps — byte-for-byte what msgpack-python emits for these
  * values), so a real ong_tsdb binary payload ingests unmodified.
  */
class MsgpackSpec extends SparkSpec {

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // [('test','s1',['active','reactive'],[1.0,2.0],1704067200e9),
  //  ('test','s1',['active','reactive'],[3.0,4.0],1704067201e9)]
  private val seq1 =
    "9295a474657374a2733192a6616374697665a87265616374697665" +
    "92cb3ff0000000000000cb4000000000000000cf17a6101701650000" +
    "95a474657374a2733192a6616374697665a87265616374697665" +
    "92cb4008000000000000cb4010000000000000cf17a610173cffca00"

  // [('test','s1',['active','new_metric'],[1.0,42.0],1704067202.5e9)]
  private val seq2 =
    "9195a474657374a2733192a6616374697665aa6e65775f6d6574726963" +
    "92cb3ff0000000000000cb4045000000000000cf17a610179667f900"

  // test 1 analog: known-metric rows decode to the exact point stream
  test("reference client body: two known-metric rows decode to 4 points " +
    "with ns->sec stamps") {
    val rows = Msgpack.decodePointList(hex(seq1))
    assert(rows == Seq(
      PointRow("test", "s1", "active", 1.0, 1704067200.0),
      PointRow("test", "s1", "reactive", 2.0, 1704067200.0),
      PointRow("test", "s1", "active", 3.0, 1704067201.0),
      PointRow("test", "s1", "reactive", 4.0, 1704067201.0)))
  }

  /** A client over a fresh store holding the keyless sensor test/s1. */
  private def client(tag: String): GraftClient = {
    val c = new GraftClient(spark,
      Files.createTempDirectory(s"graft-$tag").toString)
    c.createSensor("test", "s1", "1s", Seq(Seq("active"), Seq("reactive")))
    c
  }

  // test 2 analog: a row introducing a new metric evolves the sensor
  test("a row with a new metric flows through store schema evolution") {
    val c = client("mp")
    c.writePoints(Msgpack.decodePointList(hex(seq2)))
    assert(c.metrics("test", "s1").contains("new_metric"))
  }

  test("width/int stress: str8 names, array16 metric lists, negative " +
    "float64 values, small-int ts") {
    // [('d'*40,'s'*40,['m0'..'m19'],[-5.0..14.0],123)]
    val wide =
      "9195d9286464646464646464646464646464646464646464646464646464" +
      "6464646464646464646464646464d9287373737373737373737373737373" +
      "7373737373737373737373737373737373737373737373737373dc0014a2" +
      "6d30a26d31a26d32a26d33a26d34a26d35a26d36a26d37a26d38a26d39a3" +
      "6d3130a36d3131a36d3132a36d3133a36d3134a36d3135a36d3136a36d31" +
      "37a36d3138a36d3139dc0014cbc014000000000000cbc010000000000000" +
      "cbc008000000000000cbc000000000000000cbbff0000000000000cb0000" +
      "000000000000cb3ff0000000000000cb4000000000000000cb4008000000" +
      "000000cb4010000000000000cb4014000000000000cb4018000000000000" +
      "cb401c000000000000cb4020000000000000cb4022000000000000cb4024" +
      "000000000000cb4026000000000000cb4028000000000000cb402a000000" +
      "000000cb402c0000000000007b"
    val rows = Msgpack.decodePointList(hex(wide))
    assert(rows.length == 20)
    assert(rows.head == PointRow("d" * 40, "s" * 40, "m0",
      -5.0, 123 / 1e9))
    assert(rows(19).metric == "m19" && rows(19).value == 14.0)
  }

  // Volume shape of the reference's `test_read_data1d_sensor1s`
  // (`tests/test_client.py:148-153`: 10k points written, read back):
  // a 10k-point body — encoded with the SAME format choices
  // msgpack-python makes for these values (fixarray/array16, fixstr,
  // float64 values, uint64 ns timestamps) — decodes, writes through
  // `writePoints`, and reads back with EXACT frame equality.
  test("10k-point volume body round-trips decode -> store -> read " +
    "with exact frame equality") {
    // minimal msgpack encoder making msgpack-python's choices for
    // exactly this body shape (the fixtures above pin the byte format;
    // this pins the VOLUME path)
    val bb = java.nio.ByteBuffer.allocate(1 << 22)
    def pStr(s: String): Unit = { // all names here are < 32 bytes
      val b = s.getBytes("UTF-8"); bb.put((0xa0 | b.length).toByte); bb.put(b)
    }
    def pF64(d: Double): Unit = { bb.put(0xcb.toByte); bb.putDouble(d) }
    def pU64(v: Long): Unit = { bb.put(0xcf.toByte); bb.putLong(v) }
    val nRows = 5000 // x 2 metrics = 10k points
    bb.put(0xdc.toByte); bb.putShort(nRows.toShort) // array16
    val t0 = 1704067200L
    (0 until nRows).foreach { i =>
      bb.put(0x95.toByte) // 5-tuple
      pStr("test"); pStr("s1")
      bb.put(0x92.toByte); pStr("active"); pStr("reactive")
      bb.put(0x92.toByte); pF64(i * 0.5); pF64(10000.0 - i)
      pU64((t0 + i) * 1000000000L)
    }
    val body = java.util.Arrays.copyOf(bb.array(), bb.position())

    val rows = Msgpack.decodePointList(body)
    assert(rows.length == 10000, s"expected 10k points, got ${rows.length}")

    val c = client("mp10k")
    c.writePoints(rows)
    val out = c.read("test", "s1")
      .select(unix_timestamp(col("ts")).as("sec"), col("active"),
        col("reactive")).collect()
    assert(out.length == nRows)
    // exact equality: every value here is float32-representable
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == t0 + i, s"row $i ts ${r.getLong(0)}")
      assert(r.getFloat(1) == (i * 0.5).toFloat, s"row $i active")
      assert(r.getFloat(2) == (10000.0 - i).toFloat, s"row $i reactive")
    }
  }

  test("malformed bodies fail with the byte offset, not a zip crash") {
    val full = hex(seq2)
    // truncated mid-value
    intercept[graft.core.InvalidDataWriteException] {
      Msgpack.decodePointList(full.take(full.length - 5))
    }
    // trailing garbage after the list
    intercept[graft.core.InvalidDataWriteException] {
      Msgpack.decodePointList(full :+ 0x00.toByte)
    }
    // ragged row: 2 metrics, 1 value
    val ragged = hex("9195a474657374a2733192a6616374697665a87265616374697665" +
      "91cb3ff0000000000000cf17a6101701650000")
    intercept[graft.core.InvalidDataWriteException] {
      Msgpack.decodePointList(ragged)
    }
    // a map where a row should be (unsupported type in this body)
    intercept[graft.core.InvalidDataWriteException] {
      Msgpack.decodePointList(hex("9181a16101"))
    }
  }
}
