package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.json4s.JValue
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The one commit protocol of the on-disk stores
  * ([[graft.store.SensorStore]], [[graft.ext.DocStore]]): a store's
  * state is a versioned JSON record under `root/_commit/`, the
  * reference's temp-file + `os.replace` discipline
  * (`fileutils.py:325-360`) applied to a whole version.
  *
  *  - `v<V>.json` is created EXCLUSIVELY from a temp file (a hard link,
  *    which fails when V exists), so a version is committed once and a
  *    reader never sees a torn record. Committing it is the one commit
  *    point: files a write puts down before it are invisible until a
  *    record lists them.
  *  - The current version is the highest V present.
  *  - After each commit, records below V-1 are pruned, and so are the
  *    paths (relative to `root`) that only pruned records list. V-1
  *    stays, so a reader that resolved it just before the commit can
  *    finish.
  *  - `intent_v<V>.json` is an optional write-ahead intent of version
  *    V, pruned with the records.
  *
  * `listed` names the paths a record owns. Writers serialize under the
  * store's [[PathLock]]; readers take no lock.
  */
final class CommitLog(root: String, listed: JValue => Iterable[String]) {

  private val dir = Paths.get(root, "_commit")
  private val RecordName = """v(\d+)\.json""".r
  private val IntentName = """intent_v(\d+)\.json""".r

  private def names(): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }

  /** Committed versions, ascending. */
  def versions: Seq[Long] =
    names().collect { case RecordName(v) => v.toLong }.sorted

  /** Versions with a written intent, ascending. */
  def intents: Seq[Long] =
    names().collect { case IntentName(v) => v.toLong }.sorted

  private def read(name: String): JValue =
    parse(new String(Files.readAllBytes(dir.resolve(name)),
      StandardCharsets.UTF_8))

  def record(v: Long): JValue = read(s"v$v.json")

  def intent(v: Long): Option[JValue] =
    try Some(read(s"intent_v$v.json"))
    catch { case _: NoSuchFileException => None }

  /** The current version and its record, None before the first commit.
    * A record pruned between the listing and the read (two commits
    * landed in between) sends the reader back to the listing.
    */
  @tailrec def current(): Option[(Long, JValue)] =
    versions.lastOption match {
      case None => None
      case Some(v) =>
        val j = try Some(record(v))
          catch { case _: NoSuchFileException => None }
        j match {
          case Some(rec) => Some(v -> rec)
          case None => current()
        }
    }

  /** Commit `rec` as version `v` — a `FileAlreadyExistsException` when
    * `v` is already committed — then prune. Each of `sweep` (relative
    * to `root`) then loses every child that holds no path a retained
    * record lists: what writes that never committed left behind.
    */
  def commit(v: Long, rec: JValue, sweep: Seq[String] = Nil): Unit = {
    put(s"v$v.json", rec, exclusive = true)
    val live = prune(v)
    sweepChildren(sweep, live)
  }

  def writeIntent(v: Long, j: JValue): Unit =
    put(s"intent_v$v.json", j, exclusive = false)

  def dropIntent(v: Long): Unit = {
    Files.deleteIfExists(dir.resolve(s"intent_v$v.json")); ()
  }

  /** Remove every child of each of `roots` that no retained record
    * lists a path under.
    */
  def sweep(roots: Seq[String]): Unit =
    sweepChildren(roots, versions.flatMap(v => listed(record(v))).toSet)

  private def put(name: String, j: JValue, exclusive: Boolean): Unit = {
    Files.createDirectories(dir)
    val tmp = Files.write(
      dir.resolve(s"$name.${java.util.UUID.randomUUID()}.tmp"),
      compact(render(j)).getBytes(StandardCharsets.UTF_8))
    try {
      if (exclusive) Files.createLink(dir.resolve(name), tmp)
      else Files.move(tmp, dir.resolve(name),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Keep records v-1 and up; delete what only older ones list (files
    * first, so a crash mid-prune leaves the record to prune again),
    * old intents and torn temp records. Returns the retained paths.
    */
  private def prune(v: Long): Set[String] = {
    val (old, kept) = versions.partition(_ < v - 1)
    val live = kept.flatMap(k => listed(record(k))).toSet
    old.foreach { o =>
      (listed(record(o)).toSet -- live).foreach(p => CommitLog.rmTree(Paths.get(root, p)))
      Files.deleteIfExists(dir.resolve(s"v$o.json"))
    }
    intents.filter(_ < v - 1).foreach(dropIntent)
    names().filter(_.endsWith(".tmp"))
      .foreach(n => Files.deleteIfExists(dir.resolve(n)))
    live
  }

  private def sweepChildren(roots: Seq[String], live: Set[String]): Unit =
    roots.foreach { r =>
      val keep = live.collect {
        case p if p.startsWith(s"$r/") => p.stripPrefix(s"$r/").takeWhile(_ != '/')
      }
      val rp = Paths.get(root, r)
      if (Files.isDirectory(rp)) {
        val s = Files.list(rp)
        val dead = try s.iterator().asScala
            .filterNot(c => keep(c.getFileName.toString)).toList
          finally s.close()
        dead.foreach(CommitLog.rmTree)
      }
    }
}

object CommitLog {
  /** Recursive delete that closes each directory stream. */
  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val children = try s.iterator().asScala.toList finally s.close()
      children.foreach(rmTree)
    }
    Files.deleteIfExists(p)
    ()
  }
}
