package graft.store

import org.json4s._

/** Per-sensor schema — the reference's CONFIG.JSON, carried here in
  * each [[SensorVersion]] record
  * (`/root/reference/src/ong_tsdb/database.py:53-57,271-281`): tick
  * frequency, ordered metrics (flat or multi-level names → encoded as
  * dot-joined column names, level names kept in metadata), free-form
  * metadata, and the read/write tokens (carried for API parity; a
  * library embeds in the caller's security context, so they are not
  * enforced here).
  *
  * Extra over the reference: per-metric `fill` + `since` record schema
  * evolution (A-8) WITHOUT rewriting history — the reference rewrites
  * every chunk to splice in the filled column (`database.py:366-423`),
  * which is untenable at 100 TB; we instead apply the fill lazily on
  * read to chunks older than the metric's birth (`since` epoch-sec).
  */
case class MetricDef(
    levels: Seq[String],
    fill: Option[Double] = None,
    since: Option[Long] = None) {
  /** Column name: levels joined with '.', like the client's MultiIndex
    * flattening (`client.py:545-547`).
    */
  def name: String = levels.mkString(".")
}

case class SensorConfig(
    db: String,
    sensor: String,
    freq: String,
    metrics: Seq[MetricDef],
    metadata: Map[String, String] = Map.empty,
    readKey: String = "",
    writeKey: String = "") {

  def tickSeconds: Long = graft.core.Freq.seconds(freq)

  def metricNames: Seq[String] = metrics.map(_.name)

  def toJValue: JValue = {
    val m = JArray(metrics.map { md =>
      JObject(
        "levels" -> JArray(md.levels.map(JString(_)).toList),
        "fill" -> md.fill.map(JDouble(_)).getOrElse(JNull),
        "since" -> md.since.map(JLong(_)).getOrElse(JNull))
    }.toList)
    JObject(
      "db" -> JString(db),
      "sensor" -> JString(sensor),
      "freq" -> JString(freq),
      "metrics" -> m,
      "metadata" -> JObject(metadata.map { case (k, v) => k -> (JString(v): JValue) }.toList),
      "read_key" -> JString(readKey),
      "write_key" -> JString(writeKey))
  }
}

object SensorConfig {
  def fromJValue(j: JValue): SensorConfig = {
    def str(f: String): String = (j \ f) match {
      case JString(v) => v
      case _ => ""
    }
    val metrics = (j \ "metrics") match {
      case JArray(items) => items.map { it =>
        val levels = (it \ "levels") match {
          case JArray(ls) => ls.collect { case JString(v) => v }
          case _ => Nil
        }
        val fill = (it \ "fill") match {
          case JDouble(v) => Some(v)
          case JInt(v) => Some(v.toDouble)
          case _ => None
        }
        val since = (it \ "since") match {
          case JLong(v) => Some(v)
          case JInt(v) => Some(v.toLong)
          case _ => None
        }
        MetricDef(levels, fill, since)
      }
      case _ => Nil
    }
    val metadata = (j \ "metadata") match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    SensorConfig(str("db"), str("sensor"), str("freq"), metrics, metadata,
      str("read_key"), str("write_key"))
  }
}
