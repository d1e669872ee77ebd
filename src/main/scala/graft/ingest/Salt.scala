package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resistant two-stage aggregation. When a grouping key is heavily
  * skewed (a handful of hot sensors/event-types carrying most rows), a
  * single hash aggregation funnels each hot key through one reducer.
  * Salting splits every key into `saltFactor` sub-keys for a first
  * partial aggregation, then re-aggregates the (keys × saltFactor)
  * partials — the hot key's work spreads over `saltFactor` reducers and
  * the second stage touches only aggregate-sized data.
  *
  * Only algebraic aggregates decompose this way; sums/counts are
  * provided. Results are identical to the unsalted aggregation (counts
  * exactly; sums routed through the same DECIMAL type in both stages so
  * regrouping cannot change them).
  */
object Salt {

  /** `count(*)` and decimal-exact `sum(valueCol)` per `keys`, salted.
    * The salt is derived from a hash of a unique column so it is
    * deterministic (no rand() — replays and retries stay idempotent).
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     uniqueCol: String, saltFactor: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 2)
    val stage1 = df
      .withColumn("__salt", pmod(hash(col(uniqueCol)), lit(saltFactor)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast(dec)).as("__s"))
    stage1.groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n_rows"),
        sum(col("__s")).cast("double").as("sum_value"))
  }
}
