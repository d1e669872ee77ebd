package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The general window-function surface the reference lacks entirely
  * (SURVEY §2.E "window functions: absent"): lead/lag navigation,
  * ntile bucketing, and the rank family, per series.
  *
  * Both specs share one `partitionBy`, so Catalyst plans ONE exchange
  * on the series key; the time-ordered and value-ordered frames then
  * cost one in-partition sort each (visible as a single shuffle +
  * two sorts in `.explain` — the minimum for two orderings).
  * percent_rank/cume_dist are exact small-integer ratios, so their
  * doubles are bit-identical across engines (no truncation needed).
  */
object WindowSuite {

  /** Adds: lead_v/lag_v (time order), ntile4 (quartile by value),
    * rnk/drnk (rank/dense_rank by value — ties allowed, tie semantics
    * identical across engines), pct_rank, cume_d.
    */
  def navigate(df: DataFrame, partCols: Seq[String], secCol: String,
               tieCol: String, valueCol: String): DataFrame = {
    val byTime = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(secCol), col(tieCol))
    val byValue = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(valueCol), col(tieCol))
    val byValueTies = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(valueCol))
    df.select(col("*"),
      lead(col(valueCol), 1).over(byTime).as("lead_v"),
      lag(col(valueCol), 1).over(byTime).as("lag_v"),
      ntile(4).over(byValue).as("ntile4"),
      rank().over(byValueTies).as("rnk"),
      dense_rank().over(byValueTies).as("drnk"),
      percent_rank().over(byValueTies).as("pct_rank"),
      cume_dist().over(byValueTies).as("cume_d"))
  }
}
