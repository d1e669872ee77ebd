package graft.client

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.Wire.{jstr, zlibInflate}
import graft.ingest.BinaryFrame

/** HTTP client for [[graft.server.GraftServer]] — the wire-level analog
  * of the reference `OngTsdbClient` (`client.py:39-571`), speaking the
  * same routes, auth, and byte formats over the JDK `HttpClient`:
  * basic-auth password carries the token (`client.py:69-78`), catalog
  * verbs map to the 201/406/404 status contract, `write` POSTs influx
  * lines to `/influx[/<fill>]` (`client.py:337-370`), and `read`
  * decodes `/read_df`'s length-keyed MIME-base64 float64++float32 body
  * (`client.py:536-556`) back into the engine as a wide DataFrame.
  *
  * Like the reference client, tokens are immutable per instance —
  * [[updateToken]] returns a new client (`client.py:149-152`).
  */
class GraftHttpClient(spark: SparkSession, baseUrl: String,
                      token: String) {

  private val http = HttpClient.newHttpClient()

  private def auth: String =
    "Basic " + Base64.getEncoder.encodeToString(
      s"client:$token".getBytes(StandardCharsets.UTF_8))

  private def send(method: String, path: String,
                   body: Option[Array[Byte]] = None)
      : HttpResponse[Array[Byte]] = {
    var b = HttpRequest.newBuilder(URI.create(baseUrl + path))
      .header("Authorization", auth)
    b = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofByteArray(
        body.getOrElse(Array.empty)))
    }
    http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def js(r: HttpResponse[Array[Byte]]): JValue =
    JsonMethods.parse(new String(r.body(), StandardCharsets.ISO_8859_1))

  private def notAuth(r: HttpResponse[Array[Byte]]): Boolean =
    r.statusCode == 401

  private def orAuthFail[T](r: HttpResponse[Array[Byte]])(f: => T): T = {
    if (notAuth(r)) throw new graft.core.NotAuthorizedException(
      (js(r) \ "msg") match { case JString(m) => m; case _ => "401" })
    f
  }

  def updateToken(newToken: String): GraftHttpClient =
    new GraftHttpClient(spark, baseUrl, newToken)

  // ---- catalog (`client.py:251-336`) ---------------------------------

  def existDb(db: String): Boolean = {
    val r = send("GET", s"/db/$db")
    orAuthFail(r)(r.statusCode == 200)
  }

  def createDb(db: String): Boolean = {
    val r = send("POST", s"/db/$db")
    orAuthFail(r)(r.statusCode == 201)
  }

  def deleteDb(db: String): Boolean = {
    val r = send("DELETE", s"/db/$db")
    orAuthFail(r)(r.statusCode == 200)
  }

  def existSensor(db: String, sensor: String): Boolean = {
    val r = send("GET", s"/db/$db/sensor/$sensor")
    orAuthFail(r)(r.statusCode == 200)
  }

  def createSensor(db: String, sensor: String, period: String,
                   metrics: Seq[String], readKey: String,
                   writeKey: String,
                   metadata: Map[String, String] = Map.empty): Boolean =
    createSensorMulti(db, sensor, period, metrics.map(Seq(_)),
      readKey, writeKey, levelNames = Seq.empty, metadata = metadata)

  /** MultiIndex create (reference `create_sensor(metrics=[[...]],
    * level_names=...)`, `client.py` → `test_client.py:172-190`):
    * metric level-tuples ride the wire as nested JSON arrays;
    * `level_names` goes into the metadata dict like the reference's
    * `dict(level_names=...)`.
    */
  def createSensorMulti(db: String, sensor: String, period: String,
                        metrics: Seq[Seq[String]], readKey: String,
                        writeKey: String,
                        levelNames: Seq[String] = Seq.empty,
                        metadata: Map[String, String] = Map.empty)
      : Boolean = {
    val names =
      if (levelNames.nonEmpty)
        Seq(s""""level_names":[${levelNames.map(jstr).mkString(",")}]""")
      else Seq.empty
    val md = (metadata.map { case (k, v) => jstr(k) + ":" + jstr(v) } ++ names)
      .mkString("{", ",", "}")
    val ms = metrics.map {
      case Seq(one) => jstr(one)
      case levels => levels.map(jstr).mkString("[", ",", "]")
    }
    val body =
      s"""{"period":${jstr(period)},"metrics":[${ms.mkString(",")}],
         |"read_key":${jstr(readKey)},"write_key":${jstr(writeKey)},
         |"metadata":$md}""".stripMargin
    val r = send("POST", s"/db/$db/sensor/$sensor", Some(body.getBytes))
    orAuthFail(r)(r.statusCode == 201)
  }

  def deleteSensor(db: String, sensor: String): Boolean = {
    val r = send("DELETE", s"/db/$db/sensor/$sensor")
    orAuthFail(r)(r.statusCode == 200)
  }

  // ---- data plane ----------------------------------------------------

  /** Influx-line write (`client.py:337-360`); fill only rides the URL
    * when non-default, like the reference.
    */
  def write(lines: Seq[String], fillValue: Double = 0.0): Boolean = {
    if (lines.isEmpty) return false
    val fill = if (fillValue == 0.0) "" else s"/$fillValue"
    val r = send("POST", s"/influx$fill",
      Some(lines.mkString("\n").getBytes(StandardCharsets.UTF_8)))
    orAuthFail(r)(r.statusCode == 200)
  }

  def lastTimestamp(db: String, sensor: String): Option[Double] = {
    val r = send("POST", s"/$db/$sensor/last_timestamp")
    orAuthFail(r)((js(r) \ "last_timestamp") match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case _ => None
    })
  }

  def metrics(db: String, sensor: String): Seq[String] = {
    val r = send("POST", s"/$db/$sensor/metrics")
    orAuthFail(r)(metricNames(js(r)))
  }

  /** A reply's metric list: names, a level tuple joined with dots. */
  private def metricNames(j: JValue): Seq[String] = j match {
    case JArray(xs) => xs.map {
      case JString(s) => s
      case JArray(levels) => levels.collect {
        case JString(l) => l
      }.mkString(".")
      case other => other.toString
    }
    case _ => Seq.empty
  }

  def metadata(db: String, sensor: String): Map[String, String] = {
    val r = send("POST", s"/$db/$sensor/metadata")
    orAuthFail(r)((js(r) \ "metadata") match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
      }.toMap
      case _ => Map.empty
    })
  }

  /** `/read_df` wire decode (`client.py:505-571`): length-keyed
    * MIME-base64 of float64-LE epoch-seconds ++ float32-LE row-major
    * values (zlib-inflated first when `compressed`), rebuilt as the
    * same wide `(ts, <metrics…>)` frame the in-process client reads.
    * Returns None on the server's no-data 404.
    */
  def read(db: String, sensor: String, fromSec: Long,
           toSec: Option[Long] = None): Option[DataFrame] = {
    val end = toSec.map(t => s""","end_ts": $t.0""").getOrElse("")
    val r = send("POST", s"/$db/$sensor/read_df",
      Some(s"""{"start_ts": $fromSec.0$end}""".getBytes))
    orAuthFail(r) {
      if (r.statusCode == 404) return None
      val j = js(r).asInstanceOf[JObject].obj.toMap
      val datesLen = j.keys.find(_.forall(_.isDigit)).getOrElse(
        throw new IllegalStateException("no data key in read_df reply"))
      val sent = j(datesLen).asInstanceOf[JString].s
        .getBytes(StandardCharsets.ISO_8859_1)
      val data =
        if (j.get("compressed").contains(JBool(true))) zlibInflate(sent) else sent
      val raw = Base64.getMimeDecoder.decode(data)
      val names = metricNames(j.getOrElse("metrics", JNothing))
      val (dates, values) = BinaryFrame.decode(raw, datesLen.toInt / 8,
        names.length)
      val rows = dates.toSeq.zip(values).map { case (ts, vs) =>
        org.apache.spark.sql.Row.fromSeq(
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(ts.toLong,
              math.round((ts - ts.toLong) * 1e9))) +:
            vs.toSeq.map(f => if (f.isNaN) null else java.lang.Float.valueOf(f)))
      }
      val schema = StructType(StructField("ts", TimestampType) +:
        names.map(StructField(_, FloatType)))
      // the wire carries the rows in time order: a local relation keeps
      // it, and collecting one runs no Spark job
      Some(spark.createDataFrame(rows.asJava, schema))
    }
  }
}
