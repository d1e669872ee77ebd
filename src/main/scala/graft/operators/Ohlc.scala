package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Grid

/** OHLC (open/high/low/close) bucket resampling — the candlestick
  * downsample every TSDB dashboard wants next after first-per-bucket
  * (reference B-9 gives only "first"; this is the 4-aggregate
  * generalization).
  *
  * ONE map-side-combinable hash aggregation: open/close are
  * `min_by`/`max_by` over a composite in-bucket order key — no window,
  * no sort, no second shuffle. The order key is a STRUCT
  * `(sec - bucket, order)` — structs compare lexicographically, so the
  * argmin/argmax is totally ordered and deterministic even when
  * timestamps tie, with no packing invariant to violate (a packed
  * `offset * 10^10 + order` int64 silently corrupts the ordering for
  * order ids ≥ 10^10 or negative, and overflows for bucketSec ≳ 9.2e8).
  */
object Ohlc {

  def resample(df: DataFrame, groupCols: Seq[String], secCol: String,
               orderCol: String, valueCol: String,
               bucketSec: Long): DataFrame = {
    val bucket = Grid.snapSeconds(col(secCol), bucketSec)
    val okey = struct((col(secCol) - bucket).as("off"), col(orderCol).as("ord"))
    df.filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
      .withColumn("bucket", bucket)
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(
        min_by(col(valueCol), okey).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), okey).as("close"),
        count(lit(1)).as("n"))
  }
}
