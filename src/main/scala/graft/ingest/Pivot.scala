package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Long↔wide reshaping of metric streams.
  *
  * Reference A-4 (`server.py:283-289`): incoming points for one chunk
  * are placed into a `(n_rows × n_metrics)` NaN-initialised matrix —
  * i.e. a pivot where, if two writes hit the same (tick, metric) cell,
  * the LAST write wins (`value_write[pos, idx+1] = np_values` runs in
  * arrival order). We reproduce last-write-wins with `max_by(value,
  * arrival_order)`; rows whose ordering key is NULL are skipped by
  * `max_by`, which is what scopes each aggregation to its own metric.
  *
  * Reference A-7 (`client.py:372-382`) is the inverse: a wide frame is
  * melted to `(ts, metric, value)` tuples, dropping NaN cells.
  */
object Pivot {

  /** Pivot long `(keys..., metricCol, valueCol)` rows to one wide row
    * per key tuple, one column per entry of `metrics`. `orderCol` is the
    * arrival order used for last-write-wins (must be unique per row).
    *
    * A static `metrics` list (= the sensor's schema, like the
    * reference's CONFIG.JSON `Metrics`) keeps this a single map-side
    * combinable hash aggregation — no second pass to discover pivot
    * values, which matters at 100 TB.
    */
  def longToWide(df: DataFrame, keys: Seq[String], metricCol: String,
                 valueCol: String, orderCol: String,
                 metrics: Seq[String]): DataFrame = {
    val aggs = metrics.map { m =>
      max_by(
        when(col(metricCol) === m, col(valueCol)),
        when(col(metricCol) === m, col(orderCol))
      ).as(m)
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Melt wide metric columns back to long rows, dropping null cells
    * (the reference emits only written cells, `server.py:453-455`).
    * Uses the built-in `unpivot` (codegen'd Expand) — one scan, no
    * shuffle.
    */
  def wideToLong(df: DataFrame, keys: Seq[String], metrics: Seq[String],
                 metricName: String = "metric",
                 valueName: String = "value"): DataFrame =
    df.unpivot(keys.map(col).toArray,
        metrics.map(graft.core.Cols.q).toArray,
        metricName, valueName)
      .filter(col(valueName).isNotNull)
}
