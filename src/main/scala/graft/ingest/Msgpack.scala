package graft.ingest

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Wire-compatible decode of the reference's `/influx_binary` body —
  * the LAST interop surface where the reference client had an artifact
  * graft could not consume. The reference client posts
  * `msgpack.dumps(sequence)` where `sequence` is a list of 5-tuples
  * `(db, sensor, metrics: [str], values: [float], ts_nanos)`
  * (`client.py:357-366`, built by `write_df` at `client.py:372-383`);
  * the server decodes and routes it through the same
  * `write_point_list` as influx lines (`server.py:317-327`), stamping
  * rows at `ts/1e9` seconds (`server.py:244`).
  *
  * The decoder below implements exactly the msgpack subset that body
  * can contain (arrays, strings, float32/64, all int widths, nil/bool)
  * from the public msgpack spec — no library, no reflection — on the
  * driver, into the [[PointRow]]s an influx body decodes to too
  * ([[Influx.decode]]); `GraftClient.writePoints` writes either. A
  * malformed payload throws [[graft.core.InvalidDataWriteException]]
  * with the byte offset.
  */
object Msgpack {

  // ---- minimal msgpack value model --------------------------------
  sealed trait V
  case class VArr(items: Vector[V]) extends V
  case class VStr(s: String) extends V
  case class VNum(d: Double) extends V
  case object VNil extends V
  case class VBool(b: Boolean) extends V

  private def fail(off: Int, msg: String): Nothing =
    throw new graft.core.InvalidDataWriteException(
      s"msgpack decode error at byte $off: $msg")

  /** Decode ONE msgpack value from `buf` (big-endian per spec). */
  private def decodeValue(buf: ByteBuffer): V = {
    val off = buf.position()
    if (!buf.hasRemaining) fail(off, "truncated payload")
    val b = buf.get() & 0xff
    def str(n: Int): V = {
      if (buf.remaining() < n) fail(off, s"truncated str($n)")
      val a = new Array[Byte](n); buf.get(a)
      VStr(new String(a, StandardCharsets.UTF_8))
    }
    def arr(n: Int): V =
      VArr(Vector.fill(n)(decodeValue(buf)))
    b match {
      case x if x < 0x80 => VNum(x.toDouble)                 // posfixint
      case x if x >= 0xe0 => VNum((x - 256).toDouble)        // negfixint
      case x if (x & 0xf0) == 0x90 => arr(x & 0x0f)          // fixarray
      case x if (x & 0xe0) == 0xa0 => str(x & 0x1f)          // fixstr
      case 0xc0 => VNil
      case 0xc2 => VBool(false)
      case 0xc3 => VBool(true)
      case 0xc4 => str(buf.get() & 0xff)                     // bin8 (as str)
      case 0xc5 => str(buf.getShort() & 0xffff)
      case 0xc6 => str(buf.getInt())
      case 0xca => VNum(buf.getFloat().toDouble)
      case 0xcb => VNum(buf.getDouble())
      case 0xcc => VNum((buf.get() & 0xff).toDouble)
      case 0xcd => VNum((buf.getShort() & 0xffff).toDouble)
      case 0xce => VNum((buf.getInt() & 0xffffffffL).toDouble)
      case 0xcf => // uint64: values past Long.Max don't occur in ts/value domains
        val v = buf.getLong()
        VNum(if (v >= 0) v.toDouble
        else (v & Long.MaxValue).toDouble + 9.223372036854776e18)
      case 0xd0 => VNum(buf.get().toDouble)
      case 0xd1 => VNum(buf.getShort().toDouble)
      case 0xd2 => VNum(buf.getInt().toDouble)
      case 0xd3 => VNum(buf.getLong().toDouble)
      case 0xd9 => str(buf.get() & 0xff)
      case 0xda => str(buf.getShort() & 0xffff)
      case 0xdb => str(buf.getInt())
      case 0xdc => arr(buf.getShort() & 0xffff)
      case 0xdd => arr(buf.getInt())
      case x => fail(off, f"unsupported msgpack type 0x$x%02x " +
        "(maps/ext don't occur in the reference point-list body)")
    }
  }

  /** Decode a full `/influx_binary` body into long-format point rows
    * — `(db, sensor, metric, value, ts_sec)` with the reference's
    * ns→seconds stamp (`server.py:244`). Ragged metric/value lists and
    * non-list bodies are malformed (the reference would crash zipping
    * them; graft reports the payload offset instead).
    */
  def decodePointList(body: Array[Byte]): Seq[PointRow] = {
    val buf = ByteBuffer.wrap(body) // msgpack is big-endian; default order
    val top = (try decodeValue(buf) catch {
      case _: java.nio.BufferUnderflowException =>
        fail(buf.position(), "truncated payload")
    }) match {
      case VArr(rows) => rows
      case _ => fail(0, "top-level value is not a point list")
    }
    if (buf.hasRemaining)
      fail(buf.position(), s"${buf.remaining()} trailing bytes")
    top.map {
      case VArr(Vector(VStr(db), VStr(sensor), VArr(ms), VArr(vs), ts)) =>
        if (ms.length != vs.length)
          fail(0, s"ragged row: ${ms.length} metrics, ${vs.length} values")
        val tsSec = ts match {
          case VNum(n) => n / 1e9
          case _ => fail(0, "timestamp is not numeric")
        }
        (db, sensor, ms, vs, tsSec)
      case _ => fail(0, "row is not a (db, sensor, metrics, values, ts) 5-tuple")
    }.flatMap { case (db, sensor, ms, vs, tsSec) =>
      ms.zip(vs).map {
        case (VStr(m), VNum(v)) => PointRow(db, sensor, m, v, tsSec)
        case _ => fail(0, "metric/value with non-str/non-numeric entries")
      }
    }
  }
}
