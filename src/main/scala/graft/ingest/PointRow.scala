package graft.ingest

/** One point of a write body, either wire format — what [[Influx.decode]]
  * and [[Msgpack.decodePointList]] emit and `GraftClient.writePoints`
  * takes: `ts_sec` in epoch seconds, NaN `value` for a cell the write
  * leaves alone.
  */
case class PointRow(db: String, sensor: String, metric: String,
                    value: Double, ts_sec: Double)
