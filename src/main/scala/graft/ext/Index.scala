package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._

import graft.core.{Artifacts, CommitLog}

/** What one kind of at-rest index adds to the shared lifecycle of
  * [[Index]]: its parameters, its rows and its frozen parts. Each
  * commit adds rows to the `data` part; the `frozen` parts are fitted
  * once by a build, and every refresh carries them unchanged.
  */
sealed abstract class IndexKind(val name: String, val data: String,
                                val frozen: Seq[String] = Nil) {
  /** Parameters a probe must match: an index built with others is a
    * different index, not a stale one. */
  def params: List[(String, Int)] = Nil
  /** The one pass over a build's or refresh's input that both the
    * tallies and the rows read. */
  def prepare(df: DataFrame, idCol: String, valCol: String): DataFrame = df
  /** Additive long tallies of a prepared input; `n` counts its docs. */
  def tally: Seq[Column] = Seq(count(lit(1)).as("n"))
  def fit(df: DataFrame, idCol: String,
          valCol: String): Seq[(String, DataFrame)] = Nil
  def rows(prepared: DataFrame, idCol: String, valCol: String,
           frozen: Map[String, DataFrame]): DataFrame
  def parts: Seq[String] = frozen :+ data
}

object IndexKind {
  /** BM25 postings `(term, id, dl, tf, pos)`; tallies N and Σdl. */
  case object Bm25 extends IndexKind("bm25", "postings") {
    override def prepare(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
      TextStats.tokensWithLen(df, idCol, textCol)
    override def tally: Seq[Column] = Seq(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
    def rows(toks: DataFrame, idCol: String, textCol: String,
             frozen: Map[String, DataFrame]): DataFrame =
      TextStats.postingsOf(toks, idCol)
  }

  /** Content hashes `(content_hash, corpus_id)`. */
  case object Exact extends IndexKind("exact", "hashes") {
    def rows(df: DataFrame, idCol: String, textCol: String,
             frozen: Map[String, DataFrame]): DataFrame =
      DedupIndex.exactRowsOf(df, idCol, textCol)
  }

  /** MinHash bands `(band, band_key, corpus_id)`. */
  final case class Near(numHashes: Int = 8, rowsPerBand: Int = 1,
                        shingleN: Int = 3)
      extends IndexKind("near", "bands") {
    override def params: List[(String, Int)] = List("num_hashes" -> numHashes,
      "rows_per_band" -> rowsPerBand, "shingle_n" -> shingleN)
    def rows(df: DataFrame, idCol: String, textCol: String,
             frozen: Map[String, DataFrame]): DataFrame =
      DedupIndex.bandRows(df, idCol, textCol, numHashes, rowsPerBand,
        shingleN)
  }

  /** SemDeDup cells `(cell, corpus_id, corpus_vec)`, assigned through
    * the two-level index (`coarse` + `anchors`) fitted by the build. */
  final case class Semantic(targetCellSize: Int = 32, iters: Int = 1)
      extends IndexKind("semantic", "cells", Seq("coarse", "anchors")) {
    override def params: List[(String, Int)] =
      List("target_cell_size" -> targetCellSize, "iters" -> iters)
    override def fit(df: DataFrame, idCol: String,
                     vecCol: String): Seq[(String, DataFrame)] = {
      val (coarse, anchors) = Dedup.fittedIndex(df, idCol, vecCol,
        targetCellSize, iters)
      Seq("coarse" -> coarse, "anchors" -> anchors)
    }
    def rows(df: DataFrame, idCol: String, vecCol: String,
             frozen: Map[String, DataFrame]): DataFrame =
      DedupIndex.cellRowsOf(df, idCol, vecCol, frozen("coarse"),
        frozen("anchors"))
  }

  def of(name: String, p: Map[String, Int]): IndexKind = name match {
    case "bm25" => Bm25
    case "exact" => Exact
    case "near" => Near(p("num_hashes"), p("rows_per_band"), p("shingle_n"))
    case "semantic" => Semantic(p("target_cell_size"), p("iters"))
    case other => throw new IllegalStateException(s"unknown index kind $other")
  }
}

/** One part of an index: its version dirs `<part>/v<seq>`, relative to
  * the index path, and the schema they are read with. */
final case class IndexPart(dirs: Seq[String], schema: StructType)

/** One committed state of the index at `path`, its record
  * `_commit/v<seq>.json`. `stamp` is the corpus version it reflects;
  * `tally` holds `n` (and `sum_dl` for BM25). */
final case class IndexCommit(path: String, seq: Long, kind: IndexKind,
                             stamp: Long, tally: Map[String, Long],
                             parts: Map[String, IndexPart]) {
  def n: Long = tally("n")

  /** The one part reader: exactly the listed version dirs with the
    * recorded schema (no footer read), unpinned — so a probe's filter
    * reaches the parquet scan (the BM25 term filter) and a one-pass
    * reader (the streaming bloom build) pins nothing. */
  def read(spark: SparkSession, name: String): DataFrame = {
    val p = parts(name)
    spark.read.schema(p.schema).parquet(p.dirs.map(d => s"$path/$d"): _*)
  }

  /** [[read]], pinned and memoized per (session, path, part, seq): the
    * dedup probes join every batch against the whole part. */
  def part(spark: SparkSession, name: String): DataFrame =
    Artifacts.part(spark, path, name, seq.toString)(read(spark, name)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def toJValue: JValue = JObject(
    "seq" -> JLong(seq), "kind" -> JString(kind.name),
    "params" -> JObject(kind.params.map { case (k, v) => k -> JInt(v) }),
    "stamp" -> JLong(stamp),
    "tally" -> JObject(tally.toList.sorted.map { case (k, v) => k -> JLong(v) }),
    "parts" -> JObject(parts.toList.sortBy(_._1).map { case (k, p) =>
      k -> JObject("dirs" -> JArray(p.dirs.map(JString(_)).toList),
        "schema" -> JString(p.schema.json))
    }))
}

/** The one lifecycle of the at-rest indexes — BM25 postings
  * ([[TextStats]]) and the exact, near and semantic dedup indexes
  * ([[DedupIndex]]): the store-rollup contract
  * (`database.py:425-488`'s upsert→refresh) for derived state, so a
  * batch refreshes the persisted index and never re-tokenizes,
  * re-hashes or re-assigns the corpus (the incremental pattern of
  * EDBT 2020's top-k framework, PAPERS.md).
  *
  * An index at `path` is a [[graft.core.CommitLog]] at `path`: each
  * build or refresh writes its rows to `<part>/v<seq>/`, then commits
  * the record [[IndexCommit]] listing every part's version dirs.
  * Nothing is visible before the record, so a torn write is invisible
  * and the re-run at the same `seq` replaces its dir. A part read lists
  * its dirs on the driver while they number at most Spark's
  * `parallelPartitionDiscovery.threshold` (32); past that many
  * refreshes without a rebuild, the listing runs as a Spark job. A
  * record only ever serves a probe through [[gate]], which reads it
  * afresh on every call: a small file read that fires no Spark job.
  */
object Index {

  private def corrupt(path: String) =
    new IllegalStateException(s"corrupt index record at $path")

  private def fields(path: String, j: JValue): List[JField] = j match {
    case JObject(fs) => fs
    case _ => throw corrupt(path)
  }

  private def long(path: String, j: JValue): Long = j match {
    case JInt(x) => x.toLong
    case JLong(x) => x
    case _ => throw corrupt(path)
  }

  private def partsOf(path: String, j: JValue): Map[String, IndexPart] =
    fields(path, j \ "parts").map { case (name, p) =>
      (p \ "dirs", p \ "schema") match {
        case (JArray(fs), JString(s)) => name -> IndexPart(
          fs.collect { case JString(f) => f },
          DataType.fromJson(s).asInstanceOf[StructType])
        case _ => throw corrupt(path)
      }
    }.toMap

  /** A record owns its parts' version dirs, the unit of pruning. */
  private def log(path: String) = new CommitLog(path,
    j => partsOf(path, j).values.flatMap(_.dirs))

  def current(path: String): Option[IndexCommit] =
    log(path).current().map { case (seq, j) =>
      val kind = j \ "kind" match {
        case JString(k) => IndexKind.of(k,
          fields(path, j \ "params").map { case (p, v) => p -> long(path, v).toInt }.toMap)
        case _ => throw corrupt(path)
      }
      IndexCommit(path, seq, kind, long(path, j \ "stamp"),
        fields(path, j \ "tally").map { case (t, v) => t -> long(path, v) }.toMap,
        partsOf(path, j))
    }

  /** The one gate: the committed record that may serve a probe of
    * `kind` over `corpus`, if any. Its parameters must equal the
    * probe's, and
    *  - with `expected` (the corpus version its owner, [[DocStore]],
    *    committed) its stamp must equal it: no corpus touch, and a
    *    same-count content replacement is caught because it bumped the
    *    corpus version without refreshing the index;
    *  - without, its `n` must equal `corpus.count()` — unmanaged
    *    corpora, where a same-count replacement goes unseen.
    * A path without a record — a torn first build, or a tree in an
    * earlier layout — never routes.
    */
  def gate(path: String, kind: IndexKind, corpus: DataFrame,
           expected: Option[Long]): Option[IndexCommit] =
    current(path).filter(c => c.kind == kind &&
      expected.fold(c.n == corpus.count())(_ == c.stamp))

  /** Build the index of `kind` over `df` at `path`, stamped `version`:
    * a new record listing only the new dirs. The first build at a path
    * without a record first clears what an earlier layout or a torn
    * first build left there: the kind's part dirs and `stats/`. */
  def build(kind: IndexKind, df: DataFrame, idCol: String, valCol: String,
            path: String, version: Long = 1L): String = {
    val prev = current(path)
    if (prev.isEmpty) {
      log(path).clearUncommitted((kind.parts :+ "stats").toSet)
      // its sequence restarts at 1: drop pins an earlier tree left
      Artifacts.invalidate(path)
    }
    val seq = prev.fold(1L)(_.seq + 1)
    val fitted = kind.fit(df, idCol, valCol)
    commit(path, seq, kind, version, df, idCol, valCol,
      fitted.map { case (p, f) => p -> write(f, path, p, seq) }.toMap,
      fitted.toMap, Map.empty)
  }

  /** Merge a batch of NEW documents (caller contract: ids not already
    * indexed) into the index at `path`, under its RECORDED kind and
    * parameters, stamped `newVersion` (else the recorded stamp + 1).
    * Skips or refuses per [[admitRefresh]]. */
  def refresh(path: String, batch: DataFrame, idCol: String,
              valCol: String, newVersion: Option[Long] = None): String = {
    val c = current(path).getOrElse(
      throw new IllegalArgumentException(s"no committed index at $path"))
    if (!admitRefresh(c.stamp, newVersion)) path
    else commit(path, c.seq + 1, c.kind, newVersion.getOrElse(c.stamp + 1),
      batch, idCol, valCol, c.parts,
      c.kind.frozen.map(p => p -> c.part(batch.sparkSession, p)).toMap,
      c.tally)
  }

  /** Refresh admission, given the recorded stamp and the caller's
    * target:
    *  - recorded == target: this refresh already committed (the re-run
    *    of a torn ingest healing itself) — SKIP, idempotent;
    *  - recorded == target - 1: the normal incremental step — GO;
    *  - anything else: the index is out of sync with the corpus lineage
    *    (a replace/delete bumped the corpus without a rebuild) — REFUSE:
    *    stamping one batch onto a stale index would serve WRONG
    *    verdicts as fresh. The gate keeps routing probes to the
    *    fallback until a rebuild re-earns the index.
    */
  private[ext] def admitRefresh(recorded: Long,
                                target: Option[Long]): Boolean =
    target.forall(_ == recorded + 1)

  /** Tally and write the input's rows at `seq` over `base` (the parts
    * the commit keeps), then commit. Tallies add to `tally0`. */
  private def commit(path: String, seq: Long, kind: IndexKind, stamp: Long,
                     df: DataFrame, idCol: String, valCol: String,
                     base: Map[String, IndexPart],
                     frozen: Map[String, DataFrame],
                     tally0: Map[String, Long]): String = {
    val prepared = kind.prepare(df, idCol, valCol)
    val t = prepared.agg(kind.tally.head, kind.tally.tail: _*).head()
    val tally = t.schema.fieldNames.map(f =>
      f -> (tally0.getOrElse(f, 0L) + t.getAs[Long](f))).toMap
    val rows = write(kind.rows(prepared, idCol, valCol, frozen), path,
      kind.data, seq)
    val data = base.get(kind.data)
      .fold(rows)(b => b.copy(dirs = b.dirs ++ rows.dirs))
    log(path).commit(seq, IndexCommit(path, seq, kind, stamp, tally,
      base.updated(kind.data, data)).toJValue, sweep = kind.parts)
    path
  }

  /** Write `rows` to `<part>/v<seq>/` — plain overwrite, so a torn
    * attempt at the same `seq` is replaced. */
  private def write(rows: DataFrame, path: String, part: String,
                    seq: Long): IndexPart = {
    val dir = s"$part/v$seq"
    rows.write.mode("overwrite").parquet(s"$path/$dir")
    IndexPart(Seq(dir), rows.schema)
  }
}
