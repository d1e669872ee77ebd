package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed AT-REST layout for the persisted probe indexes (dedup cell
  * tables, band indexes, content-hash indexes).
  *
  * The incremental-dedup family probes a corpus-scale index with a
  * batch: while the batch is small the probe is a broadcast-hash join
  * and the corpus never moves ([[graft.ext.Dedup.incrementalSemantic]],
  * PlanSpec-pinned). But a 100 TB pipeline also replays LARGE batches
  * (a backfill, a whole crawl snapshot) where broadcasting the batch
  * is impossible — and then a plain join would shuffle the CORPUS on
  * the probe key: the exact write-amplification a persisted index
  * exists to avoid.
  *
  * Bucketing is Spark's answer: write the index `bucketBy(n, key)`
  * (hash-partitioned at rest, catalog-recorded), and every future
  * equi-join/aggregation on `key` reads the layout instead of
  * re-shuffling — only the (smaller) probe side exchanges.
  * BucketedIndexSpec pins the plan: ONE Exchange, on the probe side;
  * zero Exchange above the corpus scan; results identical to the
  * broadcast path.
  *
  * Reference analog: the chunk files ARE the reference's at-rest
  * index, keyed by time (`fileutils.py` chunk naming); this is the
  * same idea applied to a join key instead of a time range.
  */
object BucketedIndex {

  /** Persist `df` as a bucketed catalog table on `bucketCol`
    * (overwrites). Rows are also sorted by the bucket column within
    * each bucket file, so bucket-local merge-joins skip their sort
    * when Spark can use it.
    */
  def write(df: DataFrame, table: String, bucketCol: String,
            nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet") // managed table: lives under the warehouse dir
      .saveAsTable(table)

  /** Equi-join `probe` against the bucketed table on `key` WITHOUT
    * shuffling the stored side: the catalog layout satisfies the
    * join's distribution requirement, so only the probe exchanges.
    * `hints` deliberately disables broadcast — this is the
    * large-batch path; the small-batch path stays
    * `broadcast(probe)` (see the incremental dedup keys).
    */
  def probeJoin(spark: SparkSession, table: String, probe: DataFrame,
                key: String): DataFrame =
    spark.table(table)
      .hint("merge") // shuffle-merge: bucketed side reads in place
      .join(probe, Seq(key))
}
