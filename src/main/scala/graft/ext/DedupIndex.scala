package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The three incremental-dedup indexes at rest — content-hash,
  * MinHash-band and SemDeDup-cell — and their routed probes. Each is an
  * [[IndexKind]] of the one [[Index]] lifecycle (build, refresh, gate,
  * part reader); this object supplies their rows and probes:
  *  - exact (`hashes`: content_hash, corpus_id), clustered by hash.
  *    Hash rows are per-doc facts, so a refresh contributes ONLY the
  *    batch's rows. A batch hash colliding with an indexed one yields
  *    multiple rows per hash, which the probe ([[Dedup.incremental]])
  *    already normalises to min(corpus_id).
  *  - near (`bands`: band, band_key, corpus_id), clustered by the band
  *    key, under the recorded LSH parameters: a probe with different
  *    parameters must not serve from the index (the gate checks them,
  *    not just freshness).
  *  - semantic (`cells`: cell, corpus_id, corpus_vec), assigned
  *    through the FROZEN two-level index (`coarse` + `anchors`) fitted
  *    by the build. A refresh assigns the batch through it and
  *    deliberately does NOT refit: that is the SemDeDup production
  *    contract (assign against the index you audited; centroid drift
  *    is priced by the recall-audit keys and amortised by periodic
  *    full rebuilds).
  *
  * A probe serves from the index only when [[Index.gate]] passes —
  * the recorded parameters equal the probe's (an index fitted
  * differently is not stale, it is a DIFFERENT index), and the stamp
  * equals the corpus's expected version (or, for an unmanaged corpus,
  * the recorded count equals the live one). Otherwise it falls back to
  * the session build. Routing never changes results, only whether
  * corpus-scale work reruns.
  */
object DedupIndex {

  // ------------------------------------------------------------------
  // exact (content-hash) index
  // ------------------------------------------------------------------

  /** One pass over `df` → (content_hash, corpus_id = min id per hash),
    * hash-clustered so a probe's row-group min/max stats prune.
    * Shared verbatim by build and refresh so full and incremental
    * parts can never diverge in schema or clustering.
    */
  private[ext] def exactRowsOf(df: DataFrame, idCol: String,
                               textCol: String): DataFrame =
    df.groupBy(md5(lower(trim(col(textCol)))).as("content_hash"))
      .agg(min(col(idCol)).as("corpus_id"))
      .repartition(col("content_hash"))
      .sortWithinPartitions("content_hash")

  /** Rollup-routed incremental exact dedup: probe the persisted hash
    * index when its gate passes, else fall back to hashing the corpus
    * in-session. Verdicts identical either way.
    */
  def incrementalExactRouted(spark: SparkSession, batch: DataFrame,
                             corpus: DataFrame, idCol: String,
                             textCol: String,
                             indexPath: Option[String],
                             expectedVersion: Option[Long] = None): DataFrame =
    indexPath.flatMap(Index.gate(_, IndexKind.Exact, corpus,
        expectedVersion)) match {
      case Some(c) =>
        Dedup.incremental(batch, c.part(spark, "hashes"), idCol, textCol)
      case None =>
        Dedup.incremental(batch,
          Dedup.exact(corpus, idCol, textCol)
            .select(col("content_hash"), col(idCol).as("corpus_id")),
          idCol, textCol)
    }

  // ------------------------------------------------------------------
  // near (MinHash band) index
  // ------------------------------------------------------------------

  /** Band rows `(band, band_key, corpus_id)`, band-key clustered —
    * the index's rows and the session fallback's, and the streaming
    * screen's gated bloom rebuild
    * ([[graft.streaming.StreamIngest.GatedBandBloom]]), so its
    * fallback blooms are byte-identical to the index's. */
  def bandRows(df: DataFrame, idCol: String, textCol: String,
               numHashes: Int, rowsPerBand: Int, n: Int): DataFrame =
    Dedup.bands(
        Dedup.minhash(Dedup.shingles(df, idCol, textCol, n), idCol,
          numHashes),
        idCol, numHashes, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("corpus_id"))
      .repartition(col("band"), col("band_key"))
      .sortWithinPartitions("band", "band_key")

  def incrementalNearRouted(spark: SparkSession, batch: DataFrame,
                            corpus: DataFrame, idCol: String,
                            textCol: String, numHashes: Int,
                            rowsPerBand: Int, n: Int,
                            indexPath: Option[String],
                            expectedVersion: Option[Long] = None): DataFrame =
    indexPath.flatMap(Index.gate(_,
        IndexKind.Near(numHashes, rowsPerBand, n), corpus,
        expectedVersion)) match {
      case Some(c) =>
        Dedup.incrementalNear(batch, c.part(spark, "bands"), idCol,
          textCol, numHashes, rowsPerBand, n)
      case None =>
        Dedup.incrementalNear(batch,
          bandRows(corpus, idCol, textCol, numHashes, rowsPerBand, n),
          idCol, textCol, numHashes, rowsPerBand, n)
    }

  // ------------------------------------------------------------------
  // semantic (SemDeDup cell) index
  // ------------------------------------------------------------------

  private[ext] def cellRowsOf(df: DataFrame, idCol: String, vecCol: String,
                              coarse: DataFrame,
                              anchors: DataFrame): DataFrame =
    Dedup.assignCells(df, idCol, vecCol, coarse, anchors)
      .select(col("cell"), col(idCol).as("corpus_id"),
        col(vecCol).as("corpus_vec"))
      .repartition(col("cell"))
      .sortWithinPartitions("cell")

  /** Rollup-routed incremental semantic dedup: probe the persisted
    * cell index when its gate passes; else fit + assign in-session
    * (the [[Dedup.fittedIndex]] path the index itself was built with,
    * so routing cannot change verdicts — only whether the corpus is
    * re-assigned). */
  def incrementalSemanticRouted(spark: SparkSession, batch: DataFrame,
                                corpus: DataFrame, idCol: String,
                                vecCol: String, targetCellSize: Int,
                                iters: Int, tau: Double,
                                indexPath: Option[String],
                                expectedVersion: Option[Long] = None): DataFrame =
    indexPath.flatMap(Index.gate(_,
        IndexKind.Semantic(targetCellSize, iters), corpus,
        expectedVersion)) match {
      case Some(c) =>
        Dedup.incrementalSemantic(batch, c.part(spark, "cells"),
          c.part(spark, "coarse"), c.part(spark, "anchors"),
          idCol, vecCol, tau)
      case None =>
        val (coarse, anchors) = Dedup.fittedIndex(corpus, idCol, vecCol,
          targetCellSize, iters)
        val cells = Dedup.assignCells(corpus, idCol, vecCol, coarse,
            anchors)
          .select(col("cell"), col(idCol).as("corpus_id"),
            col(vecCol).as("corpus_vec"))
        Dedup.incrementalSemantic(batch, cells, coarse, anchors, idCol,
          vecCol, tau)
    }
}
