package graft.ingest

import java.nio.{ByteBuffer, ByteOrder}

/** The `read_df` wire frame (reference A-2): `float64 dates ||
  * float32 value-matrix`, little-endian (numpy's default), the layout
  * the reference client decodes with `np.frombuffer`
  * (`client.py:549-560`, values dtype `__init__.py:26`). The server
  * encodes its reply with [[encode]] and the HTTP client decodes it
  * with [[decode]]: one codec for both ends.
  */
object BinaryFrame {

  /** `dates` as float64, then one float32 row of `values` per date. */
  def encode(dates: Array[Double], values: Array[Array[Float]]): Array[Byte] = {
    require(values.length == dates.length, "one value row per date")
    val nMetrics = if (values.isEmpty) 0 else values(0).length
    val buf = ByteBuffer.allocate(dates.length * 8 +
      dates.length * nMetrics * 4).order(ByteOrder.LITTLE_ENDIAN)
    dates.foreach(buf.putDouble)
    values.foreach { row =>
      require(row.length == nMetrics, "ragged value matrix")
      row.foreach(buf.putFloat)
    }
    buf.array()
  }

  /** The `nDates` dates and `nDates × nMetrics` values of `bytes`. A
    * wrong byte count throws [[graft.core.InvalidDataWriteException]],
    * mirroring the reference's corrupt-chunk byte-count guard
    * (`database.py:470-476`).
    */
  def decode(bytes: Array[Byte], nDates: Int,
             nMetrics: Int): (Array[Double], Array[Array[Float]]) = {
    val expected = nDates * 8L + nDates.toLong * nMetrics * 4
    if (bytes.length != expected)
      throw new graft.core.InvalidDataWriteException(
        s"Binary frame: expected $expected bytes, got ${bytes.length}")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dates = Array.fill(nDates)(buf.getDouble)
    (dates, Array.fill(nDates)(Array.fill(nMetrics)(buf.getFloat)))
  }
}
