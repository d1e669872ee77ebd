package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.core.CommitLog

/** Corpus-owning ingest surface (r15 verdict ask #5): ONE write path
  * that appends a documents batch and refreshes every derived
  * retrieval/dedup artifact in lockstep, so the routed probes
  * ([[graft.ext.TextStats.bm25Routed]], [[DedupIndex]]'s three
  * incremental probes) always serve through the artifact path after
  * an ingest — the reference's upsert→derived-state-maintenance
  * contract (`database.py:425-488`) applied to the document side.
  *
  * Layout under `root/` (r16 advice #1 — everything is
  * COPY-ON-WRITE; no live data or metadata is ever overwritten in
  * place, so no crash window can lose the corpus or serve a torn
  * state as fresh):
  *  - `docs/b<V>/`, `docs/r<V>/`  immutable corpus segment dirs —
  *    `b` = the batch ingested at version V, `r` = a full rewrite
  *    (replace/delete) committed at version V. The LIVE corpus is
  *    the union of the dirs the current commit record lists; dirs no
  *    commit record references are invisible.
  *  - `_commit/v<V>.json`  the COMMIT RECORDS ([[graft.core.CommitLog]],
  *    the protocol `SensorStore` shares): `(version, n, docs_dirs)`
  *    and, for an ingest, its batch fingerprint. The current store
  *    state is the highest V present — committing a version IS
  *    creating its record; nothing else is a commit. Records older
  *    than V-1 are pruned after each commit, and so are the segments
  *    only they list.
  *  - `_commit/intent_v<V>.json`  write-ahead ingest INTENT (the
  *    batch's id-level fingerprint), written before any index refresh
  *    so a torn ingest's re-run can verify it is redoing the SAME
  *    transaction and a DIFFERENT batch fails loudly instead of
  *    healing the wrong redo.
  *  - `index/bm25/`, `index/exact/`, `index/near/`, `index/semantic/`
  *    the enabled indexes, each with its own commit record stamped
  *    with the corpus version it reflects ([[Index]]).
  *
  * Transactional commit order of [[ingestBatch]] — version-gate
  * routing makes the multi-artifact refresh atomic WITHOUT a
  * coordinator:
  *  1. write the `intent_v<V+1>` intent (or verify it, on a redo);
  *  2. refresh every enabled index, stamping the NEW version v+1
  *     (each refresh is IDEMPOTENT — it skips an index already
  *     stamped v+1, and a torn attempt's files are replaced by the
  *     redo, never read — and REFUSES a non-contiguous version, so an
  *     index that missed a replace/delete is never stamped current:
  *     [[Index.admitRefresh]]);
  *  3. write the batch segment `docs/b<V+1>` (overwrite — a redo
  *     rewrites the same dir);
  *  4. commit record `v<V+1>` — the one and only commit point.
  * A crash ANYWHERE before step 4 leaves the current commit record at
  * V: already-refreshed indexes read v+1 ≠ V → their probes fall back
  * to the session build over the dirs record V lists (the pre-ingest
  * corpus — correct by construction); the un-referenced batch segment
  * is invisible. Re-running the SAME ingest verifies the intent,
  * re-applies each step idempotently, and commits — "re-ingest
  * heals", now for every artifact, not just append-only ones (r16
  * advice #2). Either way routing changes cost, never verdicts.
  *
  * [[replaceDocs]] / [[deleteDocs]] — the events count-equality gates
  * are blind to — write the merged corpus to a NEW `docs/r<V+1>`
  * segment and commit a record listing only it; the old segments are
  * never touched, so a crash mid-rewrite changes nothing visible
  * (r16 advice #1: the old in-place delete-then-write could lose the
  * corpus outright). The bumped version is committed WITHOUT
  * refreshing the indexes: every gate mismatches, every probe falls
  * back (correct values at session-build cost) until
  * [[rebuildIndexes]] re-stamps the artifacts at the corpus's
  * version.
  *
  * All write paths serialize under the store's writer lock
  * ([[graft.core.PathLock]] — the discipline
  * `SensorStore.withWriterLock` uses; r16 verdict ask #3): two
  * concurrent `ingestBatch` calls can no longer race the
  * read-modify-write version bump or interleave index refreshes at
  * the same v+1.
  *
  * 100 TB shape: ingest cost is batch-scale (each refresh tokenizes /
  * hashes / bands / assigns ONLY the batch and commits one clustered
  * version dir; intents and records are small JSON files), and probe
  * cost is index-probe-scale — the corpus is never rescanned because
  * a batch arrived. A rewrite ([[replaceDocs]]/[[deleteDocs]]) is
  * priced once at corpus-copy cost — at scale that becomes a
  * partition-pruned merge over the segment dirs; the commit-record
  * flip is O(1) either way.
  */
object DocStore {

  /** Which artifacts the store maintains, and the corpus column
    * names. `sem` requires `vecCol`. */
  case class Config(idCol: String, textCol: String,
                    vecCol: Option[String] = None,
                    bm25: Boolean = true,
                    exact: Boolean = true,
                    near: Option[IndexKind.Near] = None,
                    sem: Option[IndexKind.Semantic] = None) {
    require(sem.isEmpty || vecCol.nonEmpty,
      "the semantic index needs a vector column")
  }

  def bm25Path(root: String): String = s"$root/index/bm25"
  def exactPath(root: String): String = s"$root/index/exact"
  def nearPath(root: String): String = s"$root/index/near"
  def semPath(root: String): String = s"$root/index/semantic"

  /** The enabled indexes: (kind, path, indexed column). */
  private def indexes(root: String, cfg: Config): Seq[(IndexKind, String, String)] =
    Option.when(cfg.bm25)((IndexKind.Bm25, bm25Path(root), cfg.textCol)).toSeq ++
      Option.when(cfg.exact)((IndexKind.Exact, exactPath(root), cfg.textCol)) ++
      cfg.near.map((_, nearPath(root), cfg.textCol)) ++
      cfg.sem.map((_, semPath(root), cfg.vecCol.get))

  // ------------------------------------------------------------------
  // commit records
  // ------------------------------------------------------------------

  private def corrupt = new IllegalStateException("corrupt DocStore record")

  private def docsDirs(rec: JValue): List[String] = rec \ "docs_dirs" match {
    case JArray(ds) => ds.collect { case JString(d) => d }
    case _ => throw corrupt
  }

  private def long(j: JValue): Long = j match {
    case JInt(x) => x.toLong
    case JLong(x) => x
    case _ => throw corrupt
  }

  private def log(root: String) = new CommitLog(root, docsDirs)

  /** The current record: `(version, n, docs_dirs)`. */
  private def current(root: String): (Long, Long, List[String]) =
    log(root).current() match {
      case Some((v, rec)) => (v, long(rec \ "n"), docsDirs(rec))
      case None =>
        throw new IllegalArgumentException(s"no committed DocStore at $root")
    }

  def version(spark: SparkSession, root: String): Long = current(root)._1

  def count(spark: SparkSession, root: String): Long = current(root)._2

  /** The LIVE corpus: the union of the segment dirs the current
    * commit record lists. */
  def docs(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(current(root)._3.map(d => s"$root/$d"): _*)

  /** Commit version `v` listing `docsDirs`; `fp` is the ingest batch's
    * fingerprint. Segments only pruned records list go with them (the
    * previous record stays, so a reader that resolved it mid-commit
    * still finds its segments). */
  private def commit(root: String, v: Long, n: Long, docsDirs: Seq[String],
                     fp: Option[(Long, Long)]): Unit =
    log(root).commit(v, JObject(
      "version" -> JLong(v), "n" -> JLong(n),
      "docs_dirs" -> JArray(docsDirs.map(JString(_)).toList),
      "fp" -> fp.fold[JValue](JNull) { case (fn, fh) =>
        JArray(List(JLong(fn), JLong(fh))) }))

  private def withStoreLock[T](root: String)(f: => T): T =
    graft.core.PathLock.withLock(root, s"docstore:$root")(f)

  /** Id-level batch fingerprint for the write-ahead intent: (count,
    * order-independent XOR of the id hashes — overflow-free under
    * ANSI, commutative so partition order never matters). Catches a
    * redo attempted with a DIFFERENT batch; content equality of a
    * same-id redo is the caller's redo contract (replaying a
    * transaction means replaying the same record). */
  private def fingerprintOf(batch: DataFrame, idCol: String): (Long, Long) = {
    val r = batch.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col(idCol).cast("string"))), lit(0L))
        .as("h"))
      .head()
    (r.getAs[Long]("n"), r.getAs[Long]("h"))
  }

  /** Create the store: corpus segment + every enabled artifact at
    * version 1, the commit record last. A root without a record holds
    * nothing committed, so what a torn init or the earlier layout (its
    * `meta_v<N>` / `txn_v<N>` record dirs) left there goes first. */
  def init(spark: SparkSession, root: String, df: DataFrame,
           cfg: Config): String = withStoreLock(root) {
    require(log(root).versions.isEmpty, s"DocStore already committed at $root")
    log(root).clearUncommitted(c => c == "docs" || c == "index" ||
      c.matches("(meta|txn)_v\\d+"))
    df.write.mode("overwrite").parquet(s"$root/docs/b1")
    val corpus = spark.read.parquet(s"$root/docs/b1")
    buildIndexes(root, corpus, cfg, 1L)
    commit(root, 1L, corpus.count(), Seq("docs/b1"), None)
    root
  }

  private def buildIndexes(root: String, corpus: DataFrame, cfg: Config,
                           v: Long): Unit =
    indexes(root, cfg).foreach { case (kind, path, c) =>
      Index.build(kind, corpus, cfg.idCol, c, path, version = v)
    }

  /** Ingest a batch of NEW documents: intent, artifact refreshes,
    * batch segment, commit record — in that order (rationale in the
    * object doc). Idempotent under redo of the SAME batch; a redo
    * with a different batch fails loudly. Returns the new version. */
  def ingestBatch(spark: SparkSession, root: String, batch: DataFrame,
                  cfg: Config): Long = withStoreLock(root) {
    val (cur, n, dirs) = current(root)
    val v = cur + 1
    val (bn, bh) = fingerprintOf(batch, cfg.idCol)
    log(root).intent(v) match {
      case Some(t) => require(long(t \ "fp_n") == bn && long(t \ "fp_h") == bh,
        s"torn ingest at $root v$v was of a DIFFERENT batch — re-run " +
          "the original batch to heal it, or rebuildIndexes after a " +
          "manual repair")
      case None => log(root).writeIntent(v, JObject("version" -> JLong(v),
        "fp_n" -> JLong(bn), "fp_h" -> JLong(bh)))
    }
    indexes(root, cfg).foreach { case (_, path, c) =>
      Index.refresh(path, batch, cfg.idCol, c, newVersion = Some(v))
    }
    val seg = s"docs/b$v"
    batch.write.mode("overwrite").parquet(s"$root/$seg")
    commit(root, v, n + bn, dirs :+ seg, Some((bn, bh)))
    v
  }

  /** Replace existing documents (same ids, new content — count
    * unchanged): write the merged corpus to a NEW segment and commit
    * it at the bumped version WITHOUT refreshing the indexes. Every
    * version gate now mismatches, so every probe falls back to the
    * session build over the replaced corpus — correct verdicts at
    * recompute cost — until [[rebuildIndexes]]. The pre-replace
    * segments are never touched (copy-on-write), so a crash anywhere
    * leaves the old commit record fully live. Returns the new
    * version. */
  def replaceDocs(spark: SparkSession, root: String, repl: DataFrame,
                  cfg: Config): Long = withStoreLock(root) {
    rewrite(spark, root, cfg, docs(spark, root)
      .join(repl.select(col(cfg.idCol)), Seq(cfg.idCol), "left_anti")
      .unionByName(repl))
  }

  /** Delete documents by id — the document-side analog of
    * `SensorStore.deleteBefore` (reference: the delete surface behind
    * the write key, `database.py` / `client.py:216-233`; r16 verdict
    * ask #4): anti-join rewrite to a new segment + version bump.
    * Probes fall back (the deleted docs gone from their corpus) until
    * [[rebuildIndexes]] re-earns the artifact path — the same
    * contract as [[replaceDocs]]. Returns the new version. */
  def deleteDocs(spark: SparkSession, root: String, ids: DataFrame,
                 cfg: Config): Long = withStoreLock(root) {
    rewrite(spark, root, cfg, docs(spark, root)
      .join(ids.select(col(cfg.idCol)), Seq(cfg.idCol), "left_anti"))
  }

  /** Shared rewrite commit: merged corpus → new `docs/r<v>` segment,
    * count it, commit a record listing ONLY the new segment. The
    * merged plan reads the OLD segments and writes a NEW one — no
    * path is both read and written, so no checkpoint barrier is
    * needed and a torn write is invisible (no commit record lists
    * it). */
  private def rewrite(spark: SparkSession, root: String, cfg: Config,
                      merged: DataFrame): Long = {
    // fence ABOVE any written ingest intent: a torn ingest may have
    // stamped artifacts at meta+1 already (intent always precedes the
    // refreshes), and a rewrite committing at that same version would
    // make those stale artifacts version-match the rewritten corpus —
    // wrong verdicts served as fresh. Skipping the intent's version
    // keeps them mismatched (fallback) until rebuildIndexes.
    val v = (version(spark, root) +: log(root).intents).max + 1
    val seg = s"docs/r$v"
    merged.write.mode("overwrite").parquet(s"$root/$seg")
    val n = spark.read.parquet(s"$root/$seg").count()
    commit(root, v, n, Seq(seg), None)
    v
  }

  /** Rebuild every enabled artifact at the corpus's CURRENT version —
    * the recovery path after [[replaceDocs]] / [[deleteDocs]] (or any
    * externally-detected divergence). The commit record is already
    * authoritative; the rebuilds just re-earn it. */
  def rebuildIndexes(spark: SparkSession, root: String,
                     cfg: Config): Long = withStoreLock(root) {
    val v = version(spark, root)
    buildIndexes(root, docs(spark, root), cfg, v)
    // void any DEAD ingest intent above the committed version: the
    // rebuild just replaced every artifact with the committed corpus's
    // state, so a torn ingest's half-applied intent no longer guards
    // anything — dropping it unblocks future ingests from the
    // different-batch redo check
    log(root).intents.filter(_ > v).foreach(log(root).dropIntent)
    v
  }

  /** Drop corpus segment dirs no retained commit record references:
    * what a torn ingest or rewrite left behind (each commit already
    * deletes the segments only the records it prunes list). */
  def vacuum(spark: SparkSession, root: String): Unit =
    withStoreLock(root) { log(root).sweep(Seq("docs")) }

  // ------------------------------------------------------------------
  // store-bound routed probes: corpus = the store's docs, expected
  // version = the store's commit record — the caller never plumbs
  // either
  // ------------------------------------------------------------------

  def bm25(spark: SparkSession, root: String, cfg: Config,
           terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame =
    TextStats.bm25Routed(spark, docs(spark, root), cfg.idCol,
      cfg.textCol, terms, Some(bm25Path(root)), k1, b,
      expectedVersion = Some(version(spark, root)))

  def phraseBm25(spark: SparkSession, root: String, cfg: Config,
                 terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                 topN: Int = 10): DataFrame =
    TextStats.phraseBm25Routed(spark, docs(spark, root), cfg.idCol,
      cfg.textCol, terms, Some(bm25Path(root)), k1, b, topN,
      expectedVersion = Some(version(spark, root)))

  def mixedBm25(spark: SparkSession, root: String, cfg: Config,
                terms: Seq[String], phrases: Seq[Seq[String]],
                k1: Double = 1.2, b: Double = 0.75,
                topN: Int = 10): DataFrame =
    TextStats.mixedBm25Routed(spark, docs(spark, root), cfg.idCol,
      cfg.textCol, terms, phrases, Some(bm25Path(root)), k1, b, topN,
      expectedVersion = Some(version(spark, root)))

  def dedupBatchExact(spark: SparkSession, root: String, cfg: Config,
                      batch: DataFrame): DataFrame =
    DedupIndex.incrementalExactRouted(spark, batch, docs(spark, root),
      cfg.idCol, cfg.textCol, Some(exactPath(root)),
      expectedVersion = Some(version(spark, root)))

  /** Requires `cfg.near` — probing an artifact family the store does
    * not maintain must fail loudly, not silently run the session
    * fallback under default parameters the caller never configured
    * (r16 advice #5). */
  def dedupBatchNear(spark: SparkSession, root: String, cfg: Config,
                     batch: DataFrame): DataFrame = {
    val np = cfg.near.getOrElse(sys.error(
      "near dedup needs cfg.near — this store maintains no near index"))
    DedupIndex.incrementalNearRouted(spark, batch, docs(spark, root),
      cfg.idCol, cfg.textCol, np.numHashes, np.rowsPerBand, np.shingleN,
      Some(nearPath(root)),
      expectedVersion = Some(version(spark, root)))
  }

  /** Requires `cfg.sem` (and its `vecCol`) — same loud-failure
    * contract as [[dedupBatchNear]]. */
  def dedupBatchSemantic(spark: SparkSession, root: String, cfg: Config,
                         batch: DataFrame, tau: Double): DataFrame = {
    val sp = cfg.sem.getOrElse(sys.error(
      "semantic dedup needs cfg.sem — this store maintains no semantic index"))
    DedupIndex.incrementalSemanticRouted(spark, batch,
      docs(spark, root), cfg.idCol, cfg.vecCol.getOrElse(
        sys.error("semantic dedup needs a vector column")),
      sp.targetCellSize, sp.iters, tau,
      Some(semPath(root)),
      expectedVersion = Some(version(spark, root)))
  }
}
