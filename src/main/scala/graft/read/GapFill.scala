package graft.read

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap filling on the tick grid. The reference leaves unwritten cells
  * NaN; time-series consumers usually want last-observation-carried-
  * forward. One window per series — a single shuffle on the series key,
  * then a sorted per-partition pass.
  */
object GapFill {

  /** Add `<col>_filled` columns carrying the last non-null observation
    * forward within each series partition, ordered by `orderCol`.
    */
  def forwardFill(df: DataFrame, partCols: Seq[String], orderCol: String,
                  cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"${c}_filled", last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Add `<col>_interp` columns: null cells linearly interpolated
    * between the nearest non-null observations on either side
    * (`prev + (next - prev) · (t - t_prev)/(t_next - t_prev)`); cells
    * before the first / after the last observation stay the boundary
    * value (LOCF / NOCB). Two window passes over the SAME partitioning
    * and ordering — one shuffle total, Spark reuses the exchange+sort.
    */
  def linearInterpolate(df: DataFrame, partCols: Seq[String],
                        orderCol: String, cols: Seq[String]): DataFrame = {
    val part = Window.partitionBy(partCols.map(col): _*).orderBy(col(orderCol))
    val back = part.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = part.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cols.foldLeft(df) { (acc, c) =>
      val obsT = when(col(c).isNotNull, col(orderCol))
      val prevV = last(col(c), ignoreNulls = true).over(back)
      val nextV = first(col(c), ignoreNulls = true).over(fwd)
      val prevT = last(obsT, ignoreNulls = true).over(back)
      val nextT = first(obsT, ignoreNulls = true).over(fwd)
      acc.withColumn(s"${c}_interp",
        when(col(c).isNotNull, col(c))
          .when(prevV.isNull, nextV)
          .when(nextV.isNull, prevV)
          .otherwise(prevV + (nextV - prevV) *
            ((col(orderCol) - prevT).cast("double") / (nextT - prevT))))
    }
  }

  /** Missing grid slots: the expected tick grid per series (sequence +
    * explode — linear per series, generated distributed, never a
    * driver-side loop) anti-joined against the observed slots. This is
    * the read-side gap AUDIT; the write side never materializes holes.
    */
  def missingSlots(observed: DataFrame, partCols: Seq[String],
                   slotCol: String, startSlot: Long, endSlot: Long,
                   tick: Long): DataFrame = {
    val series = observed.select(partCols.map(col): _*).distinct()
    val expected = series.withColumn(slotCol,
      explode(sequence(lit(startSlot), lit(endSlot), lit(tick))))
    expected.join(
      observed.select((partCols :+ slotCol).map(col): _*).distinct(),
      partCols :+ slotCol, "left_anti")
  }
}
