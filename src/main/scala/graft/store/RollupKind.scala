package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Cols.q
import graft.core.Grid
import graft.ingest.Pivot

/** One family of MERGEABLE pre-aggregations that [[SensorStore]]
  * materializes per (chunk, bucket) and answers coarser reads from —
  * the pre-aggregated downsample tables SURVEY §4 flags as the scale
  * path for dashboard reads. A kind is four things:
  *  - `name` (and a quantile's `binWidth`): its identity in the
  *    sensor's commit record; `dirName(bucketSec)` names the directory
  *    its files go under;
  *  - `partial`: the aggregate over raw wide rows (`slot` + metric
  *    columns) grouped by key columns and a bucket column;
  *  - `merge`: stored partials re-aggregated to a coarser bucket
  *    `cbucket` — exact, because every partial field merges
  *    associatively (integer counts, DECIMAL sums, min/max, HLL union);
  *  - `answer`: partials holding one row per `cbucket` → the answer
  *    columns, stamped `ts`, unordered. Every kind's reads order it
  *    through the one shared step, `finish`.
  *
  * A read that cannot use a rollup answers with `finish(partial(raw
  * rows bucketed at the coarse grid))`, so the rollup route (partial →
  * merge → finish) and the raw route share every expression and differ
  * only in cost.
  */
sealed trait RollupKind {
  def name: String
  def dirName(bucketSec: Long): String = s"rollup_${name}_$bucketSec"

  /** The stored bucket key built from bucket-start seconds, and the
    * stored key read back as seconds.
    */
  def storedBucket(sec: Column): Column = sec.as("bucket")
  def bucketSeconds: Column = col("bucket")

  def partial(rows: DataFrame, keys: Seq[String], bucket: Column,
              metrics: Seq[String]): DataFrame
  def merge(parts: DataFrame, cbucket: Column,
            metrics: Seq[String]): DataFrame
  def answer(merged: DataFrame, ts: Column, metrics: Seq[String]): DataFrame

  /** The read's answer: [[answer]] in `ts` order, the one place a
    * rollup answer is ordered. It holds at most one row per coarse
    * bucket, so it sorts in ONE partition: a range-partitioned
    * `orderBy` would add a sampling job and an exchange for rows that
    * fit one task.
    */
  final def finish(merged: DataFrame, ts: Column,
                   metrics: Seq[String]): DataFrame =
    answer(merged, ts, metrics).coalesce(1).sortWithinPartitions("ts")
}

object RollupKind {

  /** Fixed sketch precision: HLL union needs equal lgK on both sides,
    * so materialize, refresh and the raw fallback all sketch at it.
    */
  val SketchLgK = 12

  /** The kind a commit record names; `binWidth` only for quantiles. */
  def of(name: String, binWidth: Option[Double]): RollupKind = name match {
    case "first" => First
    case "mean" => Mean
    case "stats" => Stats
    case "sketch" => Sketch
    case "quantile" => Quantile(binWidth.getOrElse(
      throw new IllegalStateException("a quantile rollup needs its bin width")))
    case other => throw new IllegalStateException(s"unknown rollup kind $other")
  }

  private def grouped(rows: DataFrame, keys: Seq[Column],
                      aggs: Seq[Column]): DataFrame =
    rows.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Non-missing readings as long rows `(keys…, bucket, metric, value)`. */
  private def points(rows: DataFrame, keys: Seq[String], bucket: Column,
                     metrics: Seq[String]): DataFrame = {
    val wide = rows.select(keys.map(col) ++ (bucket +: metrics.map(q)): _*)
    Pivot.wideToLong(wide, wide.columns.take(keys.size + 1).toSeq, metrics)
      .filter(!isnan(col("value")))
  }

  /** First non-null value per bucket per metric — the reference's
    * first-value Grafana downsample (`server.py:412-475`) pre-aggregated.
    * Exact only for first-value reads whose buckets are unions of whole
    * rollup buckets.
    */
  case object First extends RollupKind {
    val name = "first"
    def partial(rows: DataFrame, keys: Seq[String], bucket: Column,
                metrics: Seq[String]): DataFrame =
      grouped(rows, keys.map(col) :+ bucket, metrics.map(m =>
        min_by(q(m), when(q(m).isNotNull, col("slot"))).as(m)))
    // a bucket straddling a chunk boundary has one partial per chunk;
    // chunk order is time order, so it breaks the tie
    def merge(parts: DataFrame, cbucket: Column,
              metrics: Seq[String]): DataFrame =
      grouped(parts, Seq(cbucket), metrics.map(m =>
        min_by(q(m), when(q(m).isNotNull,
          struct(bucketSeconds, col("chunk_start")))).as(m)))
    def answer(merged: DataFrame, ts: Column,
               metrics: Seq[String]): DataFrame =
      merged.select(ts.as("ts") +: metrics.map(q): _*)
  }

  /** Per metric the `(sum, count)` of non-NaN values, the sum routed
    * through DECIMAL: decimal addition is associative, so a mean over
    * any coarser grid derives exactly, with one division per output cell.
    */
  case object Mean extends RollupKind {
    val name = "mean"
    def partial(rows: DataFrame, keys: Seq[String], bucket: Column,
                metrics: Seq[String]): DataFrame =
      grouped(rows, keys.map(col) :+ bucket, metrics.flatMap { m =>
        val c = when(!isnan(q(m)), q(m))
        Seq(sum(c.cast(DecimalType(28, 6))).as(s"${m}__sum"),
          count(c).as(s"${m}__n"))
      })
    def merge(parts: DataFrame, cbucket: Column,
              metrics: Seq[String]): DataFrame =
      grouped(parts, Seq(cbucket), metrics.flatMap(m => Seq(
        sum(q(s"${m}__sum")).as(s"${m}__sum"),
        sum(q(s"${m}__n")).as(s"${m}__n"))))
    def answer(merged: DataFrame, ts: Column,
               metrics: Seq[String]): DataFrame =
      merged.select(ts.as("ts") +: metrics.map(m =>
          when(q(s"${m}__n") > 0,
            q(s"${m}__sum").cast("double") / q(s"${m}__n")).as(m)): _*)
  }

  /** Windowed stats (n, avg, min, max) per metric, stored as
    * `(window_start, metric, …)` rows carrying the partial columns of
    * [[graft.streaming.StreamIngest.statsPartials]], so the persisted
    * rollup is the streaming windowed-stats aggregate. A read finishes
    * one metric.
    */
  case object Stats extends RollupKind {
    val name = "stats"
    override def storedBucket(sec: Column): Column =
      timestamp_seconds(sec).as("window_start")
    override def bucketSeconds: Column = Grid.tsSeconds(col("window_start"))
    def partial(rows: DataFrame, keys: Seq[String], bucket: Column,
                metrics: Seq[String]): DataFrame = {
      val pts = points(rows, keys, bucket, metrics)
      grouped(pts.withColumn("value", col("value").cast("double")),
        pts.columns.filter(_ != "value").map(col).toSeq,
        graft.streaming.StreamIngest.statsPartials)
    }
    def merge(parts: DataFrame, cbucket: Column,
              metrics: Seq[String]): DataFrame =
      grouped(parts.filter(col("metric").isin(metrics: _*)),
        Seq(cbucket, col("metric")),
        Seq(sum(col("n")).as("n"), sum(col("n_value")).as("n_value"),
          sum(col("sum_value_dec")).as("sum_value_dec"),
          min(col("min_value")).as("min_value"),
          max(col("max_value")).as("max_value")))
    def answer(merged: DataFrame, ts: Column,
               metrics: Seq[String]): DataFrame =
      merged.select(ts.as("ts"), col("n"),
          (col("sum_value_dec").cast("double") / col("n_value"))
            .as("avg_value"),
          col("min_value"), col("max_value"))
  }

  /** Per metric a binary DataSketches HLL of the non-NaN values
    * (stringified — one deterministic representation) at [[SketchLgK]];
    * union at a fixed lgK is lossless, so merged estimates equal the
    * direct sketch over the raw rows.
    */
  case object Sketch extends RollupKind {
    val name = "sketch"
    def partial(rows: DataFrame, keys: Seq[String], bucket: Column,
                metrics: Seq[String]): DataFrame =
      grouped(rows, keys.map(col) :+ bucket, metrics.map(m =>
        hll_sketch_agg(when(!isnan(q(m)), q(m).cast("string")), SketchLgK)
          .as(s"${m}__hll")))
    def merge(parts: DataFrame, cbucket: Column,
              metrics: Seq[String]): DataFrame =
      grouped(parts, Seq(cbucket), metrics.map(m =>
        hll_union_agg(q(s"${m}__hll"), false).as(s"${m}__hll")))
    def answer(merged: DataFrame, ts: Column,
               metrics: Seq[String]): DataFrame =
      merged.select(ts.as("ts") +: metrics.map(m =>
          hll_sketch_estimate(q(s"${m}__hll")).as(s"${m}_distinct")): _*)
  }

  /** Per (metric, bin) the COUNT of non-NaN values with
    * ⌊value / binWidth⌋ = bin — fixed-grid histogram partials whose
    * integer counts merge losslessly; `answer` selects the `pct`
    * type-1 quantile at bin resolution
    * ([[graft.operators.Quantiles.gridHistQuantile]]). `binWidth` is
    * part of the commit record, so refresh counts on the grid the
    * materialized partials used; `pct` is read-time only.
    */
  final case class Quantile(binWidth: Double, pct: Int = 50)
      extends RollupKind {
    require(binWidth > 0.0, s"binWidth must be > 0, got $binWidth")
    val name = "quantile"
    override def dirName(bucketSec: Long): String =
      s"rollup_${name}_${bucketSec}_$binWidth"
    def partial(rows: DataFrame, keys: Seq[String], bucket: Column,
                metrics: Seq[String]): DataFrame = {
      val pts = points(rows, keys, bucket, metrics)
        .withColumn("bin", floor(col("value") / binWidth).cast("long"))
      grouped(pts, pts.columns.filter(_ != "value").map(col).toSeq,
        Seq(count(lit(1)).as("cnt")))
    }
    def merge(parts: DataFrame, cbucket: Column,
              metrics: Seq[String]): DataFrame =
      grouped(parts, Seq(cbucket, col("metric"), col("bin")),
        Seq(sum(col("cnt")).as("cnt")))
    def answer(merged: DataFrame, ts: Column,
               metrics: Seq[String]): DataFrame =
      graft.operators.Quantiles.gridHistQuantile(merged, metrics, pct,
        binWidth, ts)
  }
}
