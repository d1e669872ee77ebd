package graft.store

import org.json4s._

/** The files of one materialized rollup, per chunk, as paths relative
  * to the sensor directory.
  */
final case class RollupFiles(kind: RollupKind, bucketSec: Long,
                             chunks: Map[Long, Seq[String]]) {
  def sameAs(k: RollupKind, b: Long): Boolean =
    kind.dirName(bucketSec) == k.dirName(b)
}

/** One committed version of a sensor — its commit record (see
  * [[graft.core.CommitLog]]): the config, each chunk's data files and
  * each materialized rollup's per-chunk files, as paths relative to the
  * sensor directory. A request resolves it once and reads exactly the
  * files it lists, with the schema its config gives.
  */
final case class SensorVersion(version: Long, config: SensorConfig,
                               data: Map[Long, Seq[String]],
                               rollups: Seq[RollupFiles]) {

  def toJValue: JValue = JObject(
    "config" -> config.toJValue,
    "data" -> SensorVersion.chunksJ(data),
    "rollups" -> JArray(rollups.map { r =>
      JObject(
        "kind" -> JString(r.kind.name),
        "bin_width" -> (r.kind match {
          case q: RollupKind.Quantile => JDouble(q.binWidth)
          case _ => JNull
        }),
        "bucket" -> JLong(r.bucketSec),
        "chunks" -> SensorVersion.chunksJ(r.chunks))
    }.toList))
}

object SensorVersion {

  private def chunksJ(m: Map[Long, Seq[String]]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (c, fs) =>
      c.toString -> (JArray(fs.map(JString(_)).toList): JValue)
    })

  private def corrupt(what: String) =
    new IllegalStateException(s"corrupt sensor commit record: $what")

  private def chunksOf(j: JValue): Map[Long, Seq[String]] = j match {
    case JObject(fs) => fs.map {
      case (c, JArray(xs)) => c.toLong -> xs.map {
        case JString(f) => f
        case other => throw corrupt(s"file $other")
      }
      case (c, _) => throw corrupt(s"chunk $c")
    }.toMap
    case _ => throw corrupt("chunk map")
  }

  def fromJValue(version: Long, j: JValue): SensorVersion = {
    val cfg = j \ "config" match {
      case o: JObject => SensorConfig.fromJValue(o)
      case _ => throw corrupt("config")
    }
    val rollups = j \ "rollups" match {
      case JArray(rs) => rs.map { r =>
        val kind = (r \ "kind", r \ "bin_width") match {
          case (JString(k), JDouble(bw)) => RollupKind.of(k, Some(bw))
          case (JString(k), _) => RollupKind.of(k, None)
          case _ => throw corrupt("rollup kind")
        }
        val bucket = r \ "bucket" match {
          case JInt(b) => b.toLong
          case JLong(b) => b
          case _ => throw corrupt("rollup bucket")
        }
        RollupFiles(kind, bucket, chunksOf(r \ "chunks"))
      }
      case _ => throw corrupt("rollups")
    }
    SensorVersion(version, cfg, chunksOf(j \ "data"), rollups)
  }

  /** The chunk directories a record owns: its unit of pruning. */
  def chunkDirs(j: JValue): Iterable[String] = {
    val v = fromJValue(0L, j)
    (v.data.values ++ v.rollups.flatMap(_.chunks.values)).flatten
      .map(f => f.substring(0, f.lastIndexOf('/'))).toSet
  }
}
