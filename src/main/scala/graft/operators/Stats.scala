package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution analytics over metric columns.
  *
  * Pearson correlation is computed from DECIMAL-routed moment sums
  * (Σx, Σy, Σxy, Σx², Σy², n): built-in `corr()` accumulates doubles in
  * partition order, so the same data can return different last bits
  * under a different partitioning — decimal sums are exact and
  * associative, then the closed-form combination runs once in double.
  * One hash aggregation; moments are mergeable partials, so the shape
  * is map-side-combinable at any scale.
  */
object Stats {

  // 18,6: a product of two of these is DECIMAL(37,12) — still inside
  // the 38-digit cap of BOTH Spark and DuckDB, so products stay exact;
  // wider inputs would silently lose scale (Spark) or error (DuckDB).
  private val Dec = DecimalType(18, 6)
  // representable range of Dec: |v| < 1e12. Values beyond it would make
  // the ANSI cast THROW (a data-dependent crash killing the whole job),
  // so they are excluded from the moments up front — same guard in the
  // DuckDB oracle (ADVICE r2).
  private val DecRange = 1e12

  /** Pairwise Pearson correlation of `xCol`,`yCol` per group over rows
    * where both are present AND inside the DECIMAL(18,6) range
    * (|v| < 1e12 — wider magnitudes are excluded, not crashed on).
    * Output: group cols + n (long) + corr (double, 6-decimal truncated;
    * null when either variance is 0).
    */
  def pearson(df: DataFrame, groupCols: Seq[String], xCol: String,
              yCol: String): DataFrame = {
    val both = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
      !isnan(col(xCol)) && !isnan(col(yCol)) &&
      abs(col(xCol)) < DecRange && abs(col(yCol)) < DecRange)
    val x = col(xCol).cast(Dec)
    val y = col(yCol).cast(Dec)
    val agg = both.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"))
    val n = col("n").cast("double")
    val covTerm = col("sxy") * n - col("sx") * col("sy")
    val varX = col("sxx") * n - col("sx") * col("sx")
    val varY = col("syy") * n - col("sy") * col("sy")
    // clamp before truncation: float noise can push a perfect
    // correlation to ±1.0000001
    agg.select((groupCols.map(col) :+ col("n") :+
      when(varX > 0 && varY > 0,
        graft.ext.TextStats.trunc6(
          least(greatest(covTerm / (sqrt(varX) * sqrt(varY)), lit(-1d)),
            lit(1d))))
        .as("corr")): _*)
  }

  /** [[pearson]] computed from ONE Gram-aggregate pass
    * ([[graft.expr.GramStats]] at dim = 2) instead of five decimal sum
    * lanes: the per-group state is a single constant-size moment
    * buffer (n, Σx, Σx² per dim + the Σxy cell), merged exactly in
    * scale-12 fixed point. Same row filter, same moment VALUES (both
    * routes accumulate exactly, so the doubles that reach the
    * combination are identical bits), same closed-form finish —
    * results are bit-identical to [[pearson]] whenever the inputs are
    * exact at the decimal(18,6) grain (integers, money, counts —
    * [[pearson]] quantizes inputs to 6 decimals; the Gram lane keeps
    * 12). OperatorsSpec pins the equality on integer inputs; this is
    * the Gram expression as a reusable engine surface beyond the
    * embedding corr audit (r12 ask #7).
    */
  def pearsonGram(df: DataFrame, groupCols: Seq[String], xCol: String,
                  yCol: String): DataFrame = {
    val both = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
      !isnan(col(xCol)) && !isnan(col(yCol)) &&
      abs(col(xCol)) < DecRange && abs(col(yCol)) < DecRange)
    val agg = both.groupBy(groupCols.map(col): _*)
      .agg(graft.expr.GramStats.gram_stats(
        array(col(xCol).cast("double"), col(yCol).cast("double")), 2)
        .as("g"))
      .select((groupCols.map(col) :+
        col("g.dims")(0).getField("n").as("n") :+
        col("g.dims")(0).getField("sx").cast("double").as("sx") :+
        col("g.dims")(1).getField("sx").cast("double").as("sy") :+
        col("g.cells")(0).getField("sxy").cast("double").as("sxy") :+
        col("g.dims")(0).getField("sxx").cast("double").as("sxx") :+
        col("g.dims")(1).getField("sxx").cast("double").as("syy")): _*)
    val n = col("n").cast("double")
    val covTerm = col("sxy") * n - col("sx") * col("sy")
    val varX = col("sxx") * n - col("sx") * col("sx")
    val varY = col("syy") * n - col("sy") * col("sy")
    agg.select((groupCols.map(col) :+ col("n") :+
      when(varX > 0 && varY > 0,
        graft.ext.TextStats.trunc6(
          least(greatest(covTerm / (sqrt(varX) * sqrt(varY)), lit(-1d)),
            lit(1d))))
        .as("corr")): _*)
  }

  /** Fixed-width value histogram per group: bucket = floor(value /
    * width), count per (group, bucket). The value-distribution audit —
    * one map-side-combinable aggregation, shuffles one row per
    * non-empty bucket.
    */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                width: Double): DataFrame =
    df.filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
      .withColumn("bucket", floor(col(valueCol) / lit(width)).cast("long"))
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(count(lit(1)).as("n"))
}
