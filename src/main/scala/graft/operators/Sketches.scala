package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (Apache DataSketches HLL, built
  * into Spark 4): the pre-aggregation shape that makes "distinct users
  * per <any time range>" a rollup-sized scan at 100 TB.
  *
  * The pattern mirrors the store's `RollupKind.Sketch`: materialize
  * per-(chunk, bucket) binary sketch PARTIALS once, then answer any
  * coarser/spanning range by `hll_union_agg` over the partials —
  * union is associative and lossless at a fixed lgK, so the merged
  * estimate equals the direct sketch over the raw rows (SketchesSpec
  * pins this exactly). Raw data is touched once at materialize time;
  * every query after that reads sketch rows ~10^4× smaller.
  */
object Sketches {

  /** Per-group binary HLL partials for `valueCol` (fixed lgK so unions
    * never degrade). One map-side-combinable aggregation.
    */
  def hllPartials(df: DataFrame, groupCols: Seq[String],
                  valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as(s"${valueCol}_hll"))

  /** Merge partials up to a coarser grouping and estimate. Partials
    * shuffle (tiny — one sketch per fine group), never the raw rows.
    */
  def hllEstimate(partials: DataFrame, groupCols: Seq[String],
                  sketchCol: String): DataFrame =
    partials.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol), false))
        .as("distinct_est"))

  /** Misra–Gries heavy-hitter PARTIALS: per fine group (e.g. per
    * chunk/day), the top `k` keys by exact local count, as a
    * (key, count) map column. The same materialize-once pattern as
    * [[hllPartials]] — but where HLL's union is lossless, Misra–Gries
    * style summaries are lossy with a BOUNDED error: merging partials
    * that each kept `k` entries and answering from the merged map
    * under-counts any key by at most the sum of each partial's dropped
    * mass (≤ N_partial − top-k mass, itself ≤ N_partial·k/(k+…)). The
    * classic guarantee survives the merge: any key with true global
    * count > ΣN/(k+1) is present in the merged summary.
    *
    * The partial build is exact-count + TakeOrdered-per-group (two
    * map-side-combinable aggregations), not a per-row decrement loop —
    * on Spark the bottleneck is the shuffle, and exact per-group counts
    * shuffle the same bytes a decrement sketch would while keeping the
    * summary deterministic (count DESC, key ASC cut).
    */
  def mgPartials(df: DataFrame, groupCols: Seq[String], keyCol: String,
                 k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__c").desc, col(keyCol))
    df.groupBy((groupCols :+ keyCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__r", row_number().over(w))
      .groupBy(groupCols.map(col): _*)
      .agg(
        map_from_entries(array_sort(collect_list(
          when(col("__r") <= k, struct(col(keyCol), col("__c"))))))
          .as("mg_summary"),
        sum(col("__c")).as("n_rows"),
        sum(when(col("__r") > k, col("__c")).otherwise(lit(0L)))
          .as("dropped_mass"))
  }

  /** Merge Misra–Gries partials to a coarser grouping: sum counts per
    * key across partials (map explode + hash agg — partial-scale rows,
    * never raw rows), keep the merged top `k`, and carry the summed
    * dropped mass as the per-key under-count bound. A key absent from
    * one partial's summary may be under-counted by that partial's
    * dropped mass — `max_err` is the honest error bar the caller
    * filters against (`count + max_err` upper bound, `count` lower).
    */
  def mgMerge(partials: DataFrame, groupCols: Seq[String],
              k: Int): DataFrame = {
    val exploded = partials.select(
      (groupCols.map(col) :+ explode(col("mg_summary")).as(Seq("key", "c")) :+
        col("dropped_mass")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("count").desc, col("key"))
    val bounds = partials.groupBy(groupCols.map(col): _*)
      .agg(sum(col("dropped_mass")).as("max_err"),
        sum(col("n_rows")).as("n_rows"))
    exploded.groupBy((groupCols :+ "key").map(col): _*)
      .agg(sum(col("c")).as("count"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .drop("__r")
      .join(bounds, groupCols)
  }

  /** Count-Min sketch (Cormode & Muthukrishnan) PARTIALS: a d×w
    * integer counter matrix per group. Where Misra–Gries under-counts
    * with a bounded error, CMS OVER-counts: est(key) = min over the d
    * rows of its counter ≥ true count, with overshoot ≤ εN (ε = e/w)
    * at probability 1−(1/2)^d. The matrix is the mergeable partial —
    * entrywise SUM of two matrices is the matrix of the concatenated
    * streams (exactly, not approximately), so partials materialize per
    * chunk/day and any span merges at d·w cost regardless of data
    * size. The d row hashes are SLICES of ONE md5 of the key (row r →
    * hex chars 4r+1..4r+4): the key is hashed once per event, not once
    * per (event, row) — at 100 TB that is the difference between N and
    * d·N hash evaluations on the ingest pass. md5's bytes are
    * independent, engine-portable, and stable across sessions; d ≤ 8
    * rows fit the 32 hex chars.
    */
  def cmsPartials(df: DataFrame, groupCols: Seq[String], keyCol: String,
                  d: Int = 4, w: Int = 4096): DataFrame = {
    requireCmsShape(d, w)
    // r18 (r17 advice, guide §2.3 "aggregate before you shuffle"): the
    // r17 `preparedBy` repartition shared one Exchange between this
    // aggregate and a downstream (r, bucket) merge — but that exchange
    // carried the RAW exploded cell stream (d× input rows, corpus
    // scale) with no map-side partial aggregation, where groupBy's own
    // planned exchange carries partials bounded by |groups|·d·w per
    // mapper. Two bounded-partial exchanges beat one corpus-scale one
    // at any real SF; reverted.
    df
      .select((groupCols.map(col) :+ md5(col(keyCol).cast("string")).as("hx") :+
        explode(sequence(lit(0), lit(d - 1))).as("r")): _*)
      .withColumn("bucket", cmsBucket(col("r"), col("hx"), w))
      .groupBy((groupCols :+ "r" :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  private def requireCmsShape(d: Int, w: Int): Unit = {
    require(w <= 65536 && Integer.bitCount(w) == 1,
      s"w must be a power of two <= 65536 (two md5 bytes), got $w")
    require(d >= 1 && d <= 8, s"d must be 1..8 (4 hex chars per row), got $d")
  }

  /** The row-r bucket given the key's md5 hex string: chars 4r+1..4r+4
    * as an int, masked to w buckets. Codegen'd built-ins, identical
    * arithmetic in DuckDB.
    */
  def cmsBucket(r: Column, md5Hex: Column, w: Int): Column =
    pmod(conv(md5Hex.substr(r * lit(4) + lit(1), lit(4)),
      16, 10).cast("int"), lit(w))

  /** Point-query candidates against merged CMS partials: for each
    * (group, candidate key), est = min over rows of the summed
    * counter. The matrix side is (groups·d·w) rows — broadcast-scale
    * at any corpus size; candidates join on (group, r, bucket).
    */
  def cmsEstimate(partials: DataFrame, groupCols: Seq[String],
                  candidates: DataFrame, keyCol: String,
                  d: Int = 4, w: Int = 4096): DataFrame = {
    requireCmsShape(d, w)
    val matrix = partials
      .groupBy((groupCols :+ "r" :+ "bucket").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
    val probes = candidates
      .select((groupCols.map(col) :+ col(keyCol) :+
        md5(col(keyCol).cast("string")).as("hx") :+
        explode(sequence(lit(0), lit(d - 1))).as("r")): _*)
      .withColumn("bucket", cmsBucket(col("r"), col("hx"), w))
    probes.join(matrix, groupCols ++ Seq("r", "bucket"))
      .groupBy((groupCols :+ keyCol).map(col): _*)
      .agg(min(col("cnt")).as("est"))
  }
}
