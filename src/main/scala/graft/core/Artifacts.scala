package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one registry of reusable state. Reuse is legitimate only when
  * the reused state is a DECLARED artifact with an invalidation rule
  * (the incremental top-k session framework, EDBT 2020, PAPERS.md),
  * so every memo the engine keeps lives here, keyed by
  * (kind, session, dir or artifact path, name, params), under one set
  * of rules:
  *  - entries bound to a session die with it: every access evicts the
  *    entries of stopped sessions (multi-session JVMs — the test
  *    suites — would otherwise pin dead sessions' DataFrames);
  *  - [[invalidate]] drops a path's gate verdicts and part frames —
  *    every in-process write to an at-rest artifact calls it;
  *  - gate verdicts are cached TRUE-only: a cached mismatch could only
  *    be cleared by a write in this JVM, so an artifact rebuilt by
  *    another process would stay routed to the fallback forever;
  *  - [[clear]] drops one kind (the `clearMemo` / `clearIndexes`
  *    valves), unpersisting the frames it held.
  * Nothing here persists across JVM runs: only at-rest indexes live on
  * disk, and their owners decide where (see `ExtQueries.setArtifactRoot`).
  */
object Artifacts {

  /** What an entry is; the type parameter is what it holds. */
  sealed abstract class Kind[A]
  /** A lazy parquet relation (`Tables.load`): nothing materialized. */
  case object TableHandle extends Kind[DataFrame]
  /** A shared frame or fitted model built once per (session, dir). */
  case object SessionFrame extends Kind[DataFrame]
  /** The path of a persisted index tree the session probes. */
  case object AtRestIndex extends Kind[String]
  /** A freshness-gate verdict over an artifact's files (session-free:
    * it describes file state). Always `true`. */
  case object GateVerdict extends Kind[Boolean]
  /** A pinned read of one part of an at-rest artifact. */
  case object PartFrame extends Kind[DataFrame]

  final case class Key[A](kind: Kind[A], session: Option[SparkSession],
                          path: String, name: String, params: String = "")

  private val entries =
    scala.collection.concurrent.TrieMap.empty[Key[_], Any]

  private def release(value: Any): Unit = value match {
    case df: Dataset[_] => scala.util.Try(df.unpersist(blocking = false))
    case _ => ()
  }

  private def dropWhere(p: Key[_] => Boolean): Seq[(Key[_], Any)] =
    entries.keysIterator.filter(p).toSeq.flatMap { k =>
      entries.remove(k).map { v =>
        // table handles are shared relations, never pinned: unpersisting
        // one would uncache any frame a caller persisted over it
        if (k.kind != TableHandle) release(v)
        k -> v
      }
    }

  private def evictStopped(): Unit =
    dropWhere(_.session.exists(_.sparkContext.isStopped))

  def get[A](key: Key[A]): Option[A] = {
    evictStopped()
    entries.get(key).map(_.asInstanceOf[A])
  }

  def getOrBuild[A](key: Key[A])(build: => A): A = {
    evictStopped()
    entries.getOrElseUpdate(key, build).asInstanceOf[A]
  }

  /** A freshness gate memoized per (path, gate name, params): check,
    * and remember only a pass. */
  def verdict(path: String, name: String, params: String)
             (check: => Boolean): Boolean = {
    val key = Key(GateVerdict, None, path, name, params)
    get(key).getOrElse {
      val r = check
      if (r) entries.put(key, true)
      r
    }
  }

  /** A pinned part frame of an at-rest artifact, read by `read` once
    * per (session, path, part, version). Pinning a new version evicts
    * the superseded pins of that part, so stale versions never pile up
    * after an out-of-process refresh. */
  def part(spark: SparkSession, path: String, part: String,
           version: String)(read: => DataFrame): DataFrame = {
    val key = Key(PartFrame, Some(spark), path, part, version)
    get(key).getOrElse {
      dropWhere(k => k.kind == PartFrame && k.path == path &&
        k.name == part && k.params != version)
      getOrBuild(key)(read)
    }
  }

  /** Drop the gate verdicts and part frames of `path` (and of any
    * artifact nested under it): called by every write to it. */
  def invalidate(path: String): Unit =
    dropWhere(k => (k.kind == GateVerdict || k.kind == PartFrame) &&
      (k.path == path || k.path.startsWith(path + "/")))

  /** Drop every entry of `kind`, returning what was dropped. */
  def clear[A](kind: Kind[A]): Seq[A] =
    dropWhere(_.kind == kind).map(_._2.asInstanceOf[A])
}
