package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact per-group quantiles by rank SELECTION, not interpolation.
  *
  * Interpolating quantiles (`percentile` / `quantile_cont`) compute
  * `lower + (higher - lower) * frac` — float arithmetic whose
  * association order differs across engines, so results are only
  * approximately portable. Selecting the value at rank `ceil(p·n)`
  * (classic type-1 quantile) involves NO float math: the answer is an
  * actual data value, bit-identical everywhere, with ties broken by a
  * deterministic order column.
  *
  * Shape: one shuffle on the group key, one within-partition sort
  * feeding both the row_number and the count window, then a tiny final
  * aggregation. At 100 TB a full per-group sort is the exact-quantile
  * price on any engine; the approximate path for dashboards is
  * `approx_percentile` (t-digest sketch, mergeable partials) — same
  * call shape, no sort.
  */
object Quantiles {

  /** One row per group: `q<pct>` columns with the type-1 quantile of
    * `valueCol` at each requested PERCENT (integer 1..100).
    *
    * The rank is computed in INTEGER arithmetic: `ceil(p·n)` for
    * `p = pct/100` is exactly `(pct·n + 99) div 100`. A double
    * `ceil(0.99 * n)` is off by one whenever the product lands just
    * above an integer (0.99·300 = 297.00000000000006 → rank 298) —
    * the "no float math" promise requires the rank itself to be exact,
    * not just the selected value (ADVICE r2).
    */
  def exactByRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  orderCol: String, pcts: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol), col(orderCol))
    val ranked = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)))
    val aggs = pcts.map { pct =>
      require(pct >= 1 && pct <= 100, s"percent out of range: $pct")
      max(when(col("__rn") === expr(s"($pct * __n + 99) div 100"),
        col(valueCol))).as(s"q$pct")
    }
    ranked.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Type-7 INTERPOLATED quantiles (`percentile_cont` / R default),
    * made engine-portable by doing the position math in integers and
    * pinning the one float expression's shape:
    * `h = (n−1)·pct/100` splits exactly into `lo = (pct·(n−1)) div 100`
    * (0-based lower index) and `frac = ((pct·(n−1)) mod 100)/100` —
    * frac is a two-digit decimal, so its double value is one fixed
    * rounding; the interpolation `v_lo + (v_hi − v_lo)·frac` is then a
    * fixed-order IEEE pipeline both engines evaluate identically. The
    * built-in `percentile`/`quantile_cont` would compute the same
    * number through engine-specific association orders — close, but
    * not hash-comparable.
    *
    * Same one-sort shape as [[exactByRank]]: both bracketing values are
    * picked by rank in ONE aggregation pass (2 conditional aggregates
    * per pct), interpolation is a final narrow projection.
    */
  def interpByRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   orderCol: String, pcts: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol), col(orderCol))
    val ranked = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)))
    val aggs = pcts.flatMap { pct =>
      require(pct >= 1 && pct <= 100, s"percent out of range: $pct")
      val lo = s"($pct * (__n - 1)) div 100" // 0-based floor index
      Seq(
        max(when(col("__rn") === expr(s"($lo) + 1"), col(valueCol)))
          .as(s"__lo$pct"),
        max(when(col("__rn") === expr(s"($lo) + 2"), col(valueCol)))
          .as(s"__hi$pct"),
        max(expr(s"(($pct * (__n - 1)) % 100) / cast(100 as double)"))
          .as(s"__f$pct"))
    }
    val agged = ranked.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val outs = pcts.map { pct =>
      (col(s"__lo$pct") +
        (coalesce(col(s"__hi$pct"), col(s"__lo$pct")) - col(s"__lo$pct")) *
          col(s"__f$pct")).as(s"q$pct")
    }
    agged.select(groupCols.map(col) ++ outs: _*)
  }

  /** Distributed per-group dense ranking WITHOUT a per-group window
    * over the raw rows — the scale-safe replacement for
    * `row_number().over(Window.partitionBy(lowCardKey).orderBy(...))`,
    * whose partition count equals the (tiny) group-key cardinality and
    * therefore sorts billions of rows on a handful of tasks at 100 TB.
    *
    * Classic two-pass range-partitioned rank:
    *   1. bucket each row onto a fixed value grid (one tiny min/max
    *      aggregate broadcast back as a 1-row scalar);
    *   2. count rows per (group, bucket) — a map-side-combinable hash
    *      aggregate whose result is ≤ |groups|·nBuckets rows — and turn
    *      the counts into per-group prefix OFFSETS with one window over
    *      that bounded table;
    *   3. broadcast the offset table back and rank within each
    *      (group, bucket) — a well-distributed window whose partition
    *      count is |groups|·nBuckets — adding the bucket's offset.
    *
    * The result column `__rank` equals exactly
    * `row_number() OVER (PARTITION BY groupCols ORDER BY valueCol,
    * tieCol)` (tieCol must be unique within a group for a total
    * order), and `__n` the group size — so any rank-derived statistic
    * (ntile, percentile position, top-k cut) is reproduced
    * bit-identically with no low-cardinality window anywhere near the
    * fact. Both helper windows run over provably bounded inputs: the
    * offset window over the ≤ |groups|·nBuckets count table, nothing
    * else.
    *
    * GLOBAL mode (`groupCols` empty) is EAGER: this call itself runs
    * the bucket-count pass (a scan of `df`) to fold the ≤ nBuckets
    * prefix offsets on the driver — even if the caller only ever
    * explains the result. The bucketed frame is lazily checkpointed
    * first, so the offsets and the rank join always read the same
    * materialized rows (a nondeterministic `df` cannot desync them)
    * and the input feeds both passes from that one scan.
    */
  def bucketedRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   tieCol: String, nBuckets: Int = 4096,
                   range: Option[(Double, Double)] = None): DataFrame = {
    val v = col(valueCol).cast("double")
    // Bucketing only needs MONOTONICITY, not containment: values
    // outside [lo, hi) clamp to the edge buckets and stay correctly
    // ordered within them — so a caller-supplied fixed range (domain
    // knowledge, e.g. "prices are positive and under 600k") skips the
    // min/max pass entirely and the fact is scanned exactly twice
    // (bucket counts + rank join), both column-pruned. Without a fixed
    // range the min/max scalar is computed from the input and broadcast
    // back; callers passing a non-trivial subtree should cut it with
    // localCheckpoint(false) first so the stats pass doesn't duplicate
    // the whole upstream plan (verify-skill gotcha).
    val b = range match {
      case Some((lo, hi)) =>
        val width = math.max((hi - lo) / nBuckets, 1e-9)
        df.withColumn("__bucket",
          least(greatest(floor((v - lo) / width), lit(0)),
            lit(nBuckets - 1)).cast("int"))
      case None =>
        val stats = df.agg(min(v).as("__vmin"), max(v).as("__vmax"))
        val width = greatest((col("__vmax") - col("__vmin")) / nBuckets,
          lit(1e-9))
        df.crossJoin(broadcast(stats))
          .withColumn("__bucket",
            least(greatest(floor((v - col("__vmin")) / width), lit(0)),
              lit(nBuckets - 1)).cast("int"))
          .drop("__vmin", "__vmax")
    }
    val bcols = groupCols :+ "__bucket"
    // GLOBAL path note: building the returned DataFrame runs an EAGER
    // action (the counts collect below) — the input is scanned at call
    // time, not at the caller's first action. The lazy checkpoint of
    // the bucketed frame makes that safe for nondeterministic inputs
    // (the driver-computed offsets and the rank join read the SAME
    // materialized rows, never two independent re-evaluations) and
    // means the fact feeds both passes from one scan.
    val bG = if (groupCols.isEmpty) b.localCheckpoint(false) else b
    val counts = bG.groupBy(bcols.map(col): _*).agg(count(lit(1)).as("__bc"))
    val offsets = if (groupCols.isEmpty) {
      // GLOBAL rank: the counts table is ≤ nBuckets rows BY
      // CONSTRUCTION (a bounded artifact regardless of input size), so
      // the prefix offsets come from a driver-side fold broadcast back
      // — an unpartitioned window here would move the (tiny) table to
      // one task anyway AND spray "No Partition Defined" warnings into
      // every log (the r8-verdict warning-hygiene point; same pattern
      // as pqCodebook's id→code map)
      val rows = counts.select(col("__bucket"), col("__bc"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val n = rows.map(_._2).sum
      var off = 0L
      val entries = rows.toSeq.map { case (bk, c) =>
        val o = off; off += c; (bk, o, n)
      }
      counts.sparkSession.createDataFrame(entries)
        .toDF("__bucket", "__off", "__n")
    } else {
      val wOff = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(col("__bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val wN = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*)
      counts
        .withColumn("__off", coalesce(sum(col("__bc")).over(wOff), lit(0L)))
        .withColumn("__n", sum(col("__bc")).over(wN))
        .drop("__bc")
    }
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(bcols.map(col): _*)
      .orderBy(col(valueCol), col(tieCol))
    bG.join(broadcast(offsets), bcols)
      .withColumn("__rank", col("__off") + row_number().over(wIn))
      .drop("__bucket", "__off")
  }

  /** `ntile(tiles)` reproduced in closed form from a row's rank and its
    * group size — SQL-standard semantics: the first `n mod tiles` tiles
    * get `⌊n/tiles⌋+1` rows, the rest `⌊n/tiles⌋`. Pure integer
    * arithmetic on the [[bucketedRank]] outputs, so the decile of every
    * row matches `ntile(t).over(...)` bit-for-bit without the
    * single-task-per-group window. (The `greatest(q,1)` guard keeps the
    * untaken CASE branch division legal when n < tiles.)
    */
  def ntileFromRank(rank: Column, n: Column, tiles: Int): Column = {
    // all operands are non-negative, so floor(a/b) == a div b
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val nq = idiv(n.cast("long"), lit(tiles.toLong))
    val r = n.cast("long") % tiles
    val bigCut = r * (nq + 1)
    when(rank <= bigCut, idiv(rank + nq, nq + 1))
      .otherwise(r + idiv(rank - bigCut + greatest(nq, lit(1L)) - 1,
        greatest(nq, lit(1L))))
      .cast("int")
  }

  /** Quantile over MERGED fixed-grid histogram partials — the
    * dashboard companion to the store's quantile rollups. Input is the
    * long-format histogram `(cbucket, metric, bin, cnt)` (bin =
    * ⌊value / binWidth⌋); output is one wide row per bucket with
    * `ts` (an expression over `cbucket`) and
    * `<metric>_p<pct>` = the lower edge of the first bin whose
    * cumulative count reaches rank ⌈pct·total/100⌉ — the type-1
    * quantile at bin resolution. The rank uses the same integer
    * arithmetic as [[exactByRank]] (`(pct·n + 99) div 100`), so merged
    * partials and a direct histogram over raw rows give IDENTICAL
    * answers: histogram counts are exact integers and addition is
    * associative — the same merge-anywhere algebra as the (sum, count)
    * mean partials, at bin-width resolution instead of exactness. The
    * rows come back unordered: the caller orders the bounded answer.
    */
  def gridHistQuantile(hist: DataFrame, metrics: Seq[String], pct: Int,
                       binWidth: Double, ts: Column): DataFrame = {
    require(pct >= 1 && pct <= 100, s"percent out of range: $pct")
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cbucket"), col("metric")).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cbucket"), col("metric"))
    val qbins = hist
      .withColumn("__cum", sum(col("cnt")).over(wCum))
      .withColumn("__tot", sum(col("cnt")).over(wTot))
      .filter(col("__cum") >= expr(s"($pct * __tot + 99) div 100"))
      .groupBy(col("cbucket"), col("metric"))
      .agg(min(col("bin")).as("qbin"))
    val aggs = metrics.map(m =>
      min(when(col("metric") === m, col("qbin"))).as(s"__b_$m"))
    qbins.groupBy(col("cbucket"))
      .agg(aggs.head, aggs.tail: _*)
      .select(ts.as("ts") +:
        metrics.map(m =>
          (col(s"__b_$m") * binWidth).as(s"${m}_p$pct")): _*)
  }

  /** Exact GLOBAL running sum of a DECIMAL column in (valueCol,
    * tieCol) order WITHOUT a global window — the prefix-sum sibling of
    * [[bucketedRank]]'s global path, for cumulative-share statistics
    * (Pareto/ABC curves) over arbitrarily large inputs:
    *
    *   1. bucket rows on the valueCol grid (caller-supplied fixed
    *      range, same monotonicity-only contract as bucketedRank);
    *   2. per-bucket DECIMAL sums — a bounded ≤ nBuckets table —
    *      folded into prefix offsets on the driver (decimal addition
    *      is exact and associative, so the fold order is immaterial)
    *      and broadcast back;
    *   3. within each bucket, one well-distributed window cumsum
    *      ordered by (valueCol, tieCol), plus the bucket's offset.
    *
    * Result columns: `__cumsum` (exact running sum INCLUDING the
    * current row) and `__total`. `sumCol` must be a DecimalType column
    * — double sums would be order-dependent and break the exactness
    * this exists to provide. Like bucketedRank's global path this is
    * EAGER (the bucket-sum pass runs at call time) and lazily
    * checkpoints the bucketed frame so both passes read one scan.
    */
  def bucketedPrefixSum(df: DataFrame, valueCol: String, sumCol: String,
                        tieCol: String, range: (Double, Double),
                        nBuckets: Int = 4096): DataFrame = {
    require(df.schema(sumCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"$sumCol must be DECIMAL for an exact, order-free prefix sum")
    val v = col(valueCol).cast("double")
    val (lo, hi) = range
    val width = math.max((hi - lo) / nBuckets, 1e-9)
    val b = df.withColumn("__bucket",
      least(greatest(floor((v - lit(lo)) / lit(width)), lit(0)),
        lit(nBuckets - 1)).cast("int"))
      .localCheckpoint(false)
    val sums = b.groupBy(col("__bucket"))
      .agg(sum(col(sumCol)).as("__bs"))
      .select(col("__bucket"), col("__bs"))
      .collect()
      .map(r => (r.getInt(0), r.getDecimal(1))).sortBy(_._1)
    val total = sums.map(_._2)
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).setScale(6)
    var off = java.math.BigDecimal.ZERO
    val entries = sums.toSeq.map { case (bk, s) =>
      val o = off; off = off.add(s); (bk, o.setScale(6), total)
    }
    val sparkSession = df.sparkSession
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("__bucket", IntegerType),
      StructField("__off", DecimalType(38, 6)),
      StructField("__total", DecimalType(38, 6))))
    val offsets = sparkSession.createDataFrame(
      sparkSession.sparkContext.parallelize(entries.map {
        case (bk, o, t) => org.apache.spark.sql.Row(bk, o, t)
      }, 1), schema)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bucket"))
      .orderBy(col(valueCol), col(tieCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    b.join(broadcast(offsets), "__bucket")
      .withColumn("__cumsum", col("__off") + sum(col(sumCol)).over(wIn))
      .drop("__bucket", "__off")
  }
}
