package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.client.GraftClient
import graft.core.Wire.{jstr, zlibDeflate, zlibInflate}
import graft.ingest.{BinaryFrame, Msgpack}

/** HTTP serving layer — the process analog of the reference Flask
  * server (`server.py`), on the JDK's built-in `HttpServer` (zero new
  * dependencies; a production deployment would front the same handler
  * with any servlet engine). Route-for-route with the reference:
  *
  *  - `GET /` hello; `POST /config_reload` (each call resolves the
  *    sensor's commit record, so reload is a no-op ack —
  *    `server.py:112-118`)
  *  - `POST|DELETE|GET /db/<db>` create/delete/exists
  *    (`server.py:126-156`; create → 201, already-exists → 406,
  *    missing → 404)
  *  - `POST|DELETE|GET /db/<db>/sensor/<s>` (+`/set_metadata`)
  *    (`server.py:158-210`); create body = the client's
  *    `{period, metrics, read_key, write_key, metadata}`
  *  - `POST /influx[/<fill>]` and `/influx_binary[/<fill>]` line /
  *    msgpack ingest (`server.py:304-328`; `Content-Encoding: gzip`
  *    bodies are zlib-deflated, matching `zlib.decompress`)
  *  - `POST /<db>/<s>/last_timestamp`, `/read_df`, `/metadata`;
  *    `GET /<db>/<s>`; Grafana `POST /<db>/<s>/query`, `/metrics`,
  *    `/search`; `GET /get_md5/<path>` (`server.py:330-498`)
  *
  * `read_df` speaks the reference's exact wire: float64-LE epoch
  * seconds ++ float32-LE row-major values ([[BinaryFrame]]),
  * MIME-base64'd, keyed by `str(len(dates_bytes))`, optionally
  * zlib-compressed when the client advertises gzip and the payload
  * clears the threshold — the byte shape `client.py:536-556` decodes.
  *
  * Auth = the reference model: HTTP basic auth's password is the
  * token, handed to a per-request [[GraftClient]] whose one gate,
  * `authorize`, applies `database.py:170-187` (the server's
  * `adminToken` passes every gate, a sensor's write key covers
  * write+read, its read key covers read); catalog mutation is
  * admin-only. A missing header, or an empty password (on the wire
  * indistinguishable from no credentials), → 401 `"Authorization
  * header needed"` (`server.py:91-104`). The server keeps no store of
  * its own: every route goes through the client.
  */
class GraftServer(spark: SparkSession, baseDir: String,
                  adminToken: String, port: Int = 0,
                  readDfMaxRows: Long = 10000000L) {

  private val Version = "0.1.0"
  /** Compress `read_df` payloads past this many date bytes when the
    * client advertises gzip (`HTTP_COMPRESS_THRESHOLD`).
    */
  val compressThreshold = 1024

  private val http =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // without an executor the JDK server handles requests on ONE thread;
  // Spark sessions are thread-safe for concurrent jobs (each request
  // becomes an independent job), so give the handler a small pool —
  // the gevent-pool analog of `server.py:501-513`
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  http.setExecutor(pool)
  http.createContext("/", (ex: HttpExchange) => handle(ex))

  def boundPort: Int = http.getAddress.getPort
  def start(): Unit = http.start()
  def stop(): Unit = { http.stop(0); pool.shutdown() }

  // ---- plumbing ------------------------------------------------------

  private def renderJ(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      // Locale.ROOT: f"$d%.1f" uses the JVM default locale, which on
      // comma-decimal locales (de_DE…) would emit `123,0` — invalid
      // JSON (ADVICE r12).
      if (d == d.floor && d.abs < 1e15)
        String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
      else d.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => jstr(k.toString) + ":" + renderJ(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(renderJ).mkString("[", ",", "]")
  }

  /** Metric names, or level tuples when any metric has more than one
    * level — how the reference lists a MultiIndex sensor's metrics.
    */
  private def metricsJ(tuples: Seq[Seq[String]]): Seq[Any] =
    if (tuples.exists(_.length > 1)) tuples else tuples.map(_.head)

  /** The reference's `make_js_response` shape (`server.py:84-88`). */
  private def makeJs(ex: HttpExchange, msg: String, code: Int,
                     extra: (String, Any)*): Unit = {
    val body = (Map[String, Any]("msg" -> msg, "http_code" -> code,
      "ok" -> (code == 200), "version" -> Version) ++ extra.toMap)
    respond(ex, code, renderJ(body))
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.ISO_8859_1)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Basic-auth password = the token (`server.py:91-104`); an empty
    * one counts as no credentials.
    */
  private def authKey(ex: HttpExchange): Option[String] = {
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Basic "))
      .flatMap { h =>
        try {
          val dec = new String(Base64.getDecoder.decode(h.drop(6).trim),
            StandardCharsets.UTF_8)
          val i = dec.indexOf(':')
          if (i >= 0) Some(dec.substring(i + 1)).filter(_.nonEmpty) else None
        } catch { case _: IllegalArgumentException => None }
      }
  }

  private def body(ex: HttpExchange): Array[Byte] = {
    val raw = ex.getRequestBody.readAllBytes()
    // the reference's "gzip" content encoding is zlib-deflate
    // (`zlib.decompress`, server.py:309-311)
    if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
        .exists(_.equalsIgnoreCase("gzip"))) zlibInflate(raw)
    else raw
  }

  /** Parse a request body. A parse error is the client's (400); the
    * same error from a stored record stays a server fault (500). */
  private def parseJson(bytes: Array[Byte]): JValue =
    try JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
    catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new BadRequestException(e.getMessage)
    }

  /** A metadata object: string values kept, list values comma-joined. */
  private def metadataOf(j: JValue): Map[String, String] = j match {
    case JObject(fields) => fields.collect {
      case (k, JString(v)) => k -> v
      case (k, JArray(xs)) => k -> xs.collect { case JString(s) => s }.mkString(",")
    }.toMap
    case _ => Map.empty
  }

  // ---- dispatch ------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    try route(ex)
    catch {
      case e: graft.core.NotAuthorizedException =>
        makeJs(ex, s"Unauthorized: ${e.getMessage}", 401)
      case e: graft.core.SensorNotFoundException =>
        makeJs(ex, e.getMessage, 404)
      case e: graft.core.DbNotFoundException =>
        makeJs(ex, e.getMessage, 404)
      // a body the client sent malformed: influx line, msgpack, JSON
      case e @ (_: graft.core.InfluxParseException |
                _: graft.core.InvalidDataWriteException |
                _: BadRequestException) =>
        makeJs(ex, s"Bad request: ${e.getMessage}", 400)
      case e: graft.core.WriteLockTimeoutException =>
        makeJs(ex, s"Busy: ${e.getMessage}", 503)
      case e: Throwable =>
        makeJs(ex, s"Internal error: ${e.getMessage}", 500)
    }
  }

  private def route(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod.toUpperCase
    val segs = ex.getRequestURI.getPath.split("/").toSeq
      .filter(_.nonEmpty)
      .map(s => java.net.URLDecoder.decode(s, "UTF-8"))

    (method, segs) match {
      case ("GET", Seq()) =>
        makeJs(ex, "Welcome to graft (ong_tsdb analog) server", 200)
      case ("POST", Seq("config_reload")) =>
        makeJs(ex, "Configuration reloaded", 200)
      case (_, s) if s.length >= 2 || s.headOption.exists(AuthedRoots) =>
        authKey(ex) match {
          case None => makeJs(ex, "Authorization header needed", 401)
          case Some(key) => routedAuthed(ex, method, segs,
            new GraftClient(spark, baseDir, key, adminToken))
        }
      case _ => makeJs(ex, "Page not found", 404)
    }
  }

  /** Single-segment routes that still need credentials. */
  private val AuthedRoots = Set("db", "influx", "influx_binary", "get_md5")

  private def routedAuthed(ex: HttpExchange, method: String,
                           segs: Seq[String], c: GraftClient): Unit =
    (method, segs) match {
      // ---- catalog (`server.py:126-210`) ----
      case ("POST", Seq("db", db)) =>
        c.authorizeAdmin(s"create db $db")
        if (c.existsDb(db))
          makeJs(ex, s"Database $db already exists", 406)
        else {
          c.createDb(db)
          makeJs(ex, s"Database $db created ok", 201)
        }
      case ("DELETE", Seq("db", db)) =>
        c.authorizeAdmin(s"delete db $db")
        if (c.existsDb(db)) {
          c.deleteDb(db); makeJs(ex, s"Database $db deleted", 200)
        } else makeJs(ex, s"Database $db was not found", 404)
      case ("GET", Seq("db", db)) =>
        if (c.existsDb(db))
          makeJs(ex, s"Database $db exists", 200)
        else makeJs(ex, s"Database $db does not exist", 404)

      case ("POST", Seq("db", db, "sensor", sensor)) =>
        c.authorizeAdmin(s"create $db/$sensor")
        if (c.existsSensor(db, sensor))
          makeJs(ex, s"Sensor $sensor already exists in Database $db", 406)
        else {
          val j = parseJson(body(ex))
          val period = (j \ "period") match {
            case JString(p) => p
            case _ => throw new BadRequestException("period missing")
          }
          val metrics: Seq[Seq[String]] = (j \ "metrics") match {
            case JArray(xs) => xs.map {
              case JString(m) => Seq(m)
              case JArray(levels) => levels.collect {
                case JString(l) => l
              }
              case other => throw new BadRequestException(s"bad metric $other")
            }
            case _ => throw new BadRequestException("metrics missing")
          }
          def optStr(f: JValue) = f match {
            case JString(s) => s
            case _ => ""
          }
          c.createSensor(db, sensor, period, metrics,
            optStr(j \ "read_key"), optStr(j \ "write_key"),
            metadataOf(j \ "metadata"))
          makeJs(ex, s"Sensor $sensor created ok in database $db ", 201)
        }
      case ("DELETE", Seq("db", db, "sensor", sensor)) =>
        c.authorizeAdmin(s"delete $db/$sensor")
        if (c.existsSensor(db, sensor)) {
          c.deleteSensor(db, sensor)
          makeJs(ex, s"Sensor $sensor in Database $db deleted", 200)
        } else makeJs(ex, s"Sensor $sensor or Database $db not found", 404)
      case ("GET", Seq("db", db, "sensor", sensor)) =>
        if (c.existsSensor(db, sensor)) {
          c.authorize(db, sensor, write = false)
          makeJs(ex, s"Sensor $sensor and database $db exist", 200)
        } else
          makeJs(ex, s"Sensor $sensor or database $db do not exists", 404)
      case ("POST", Seq("db", db, "sensor", sensor, "set_metadata")) =>
        c.authorizeAdmin(s"set_metadata $db/$sensor")
        if (!c.existsSensor(db, sensor))
          makeJs(ex, s"sensor=$sensor did not exist in database=$db ", 404)
        else {
          c.updateMetadata(db, sensor, metadataOf(parseJson(body(ex))))
          makeJs(ex,
            s"sensor=$sensor in database=$db configuration changed ok", 200)
        }

      // ---- ingest (`server.py:304-328`) ----
      case ("POST", Seq("influx")) => influxWrite(ex, c, 0.0)
      case ("POST", Seq("influx", fill)) =>
        influxWrite(ex, c, graft.ingest.Influx.parseFillValue(fill))
      case ("POST", Seq("influx_binary")) => binaryWrite(ex, c, 0.0)
      case ("POST", Seq("influx_binary", fill)) =>
        binaryWrite(ex, c, graft.ingest.Influx.parseFillValue(fill))

      // ---- md5 (`server.py:486-498`) ----
      case ("GET", Seq("get_md5", rest @ _*)) =>
        val base = java.nio.file.Paths.get(baseDir).toRealPath()
        val lexical = base.resolve(rest.mkString("/")).normalize()
        // Containment on the REAL path (symlinks resolved), matching
        // server.py's os.path.realpath — a symlink inside the store
        // pointing outside it must not get hashed (ADVICE r12). The
        // lexical pre-check keeps blatant `..` traversal a 400 even
        // when the target does not exist. Catch ALL IOExceptions, not
        // just NoSuchFile: a symlink cycle (FileSystemLoopException)
        // or unreadable entry planted inside the store must surface
        // as the route's 404, never a 500 (ADVICE r13; Python's
        // os.path.realpath never raises on loops).
        val target =
          try if (lexical.startsWith(base)) lexical.toRealPath() else lexical
          catch { case _: java.io.IOException => null }
        if (target == null) makeJs(ex, "File not found", 404)
        else if (!target.startsWith(base)) makeJs(ex, "Invalid path", 400)
        else if (!java.nio.file.Files.isRegularFile(target))
          makeJs(ex, "File not found", 404)
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(java.nio.file.Files.readAllBytes(target))
            .map("%02x".format(_)).mkString
          respond(ex, 200, renderJ(Map("md5" -> hex)))
        }

      // ---- data plane (`server.py:330-484`) ----
      case ("POST", Seq(db, sensor, "last_timestamp")) =>
        val last: Any = c.lastTimestamp(db, sensor).map(_.toDouble).orNull
        makeJs(ex, null, 200, "last_timestamp" -> last)
      case ("POST", Seq(db, sensor, "read_df")) => readDf(ex, c, db, sensor)
      case ("POST", Seq(db, sensor, "metadata")) =>
        makeJs(ex, null, 200,
          "metadata" -> c.authorize(db, sensor, write = false).config.metadata)
      case ("GET", Seq(db, sensor)) =>
        c.authorize(db, sensor, write = false)
        respond(ex, 200, renderJ(Map("db" -> db, "sensor" -> sensor)))
      case ("POST", Seq(db, sensor, "query")) => grafanaQuery(ex, c, db, sensor)
      case ("POST", Seq(db, sensor, tail)) if tail == "metrics" ||
          tail == "search" =>
        respond(ex, 200, renderJ(metricsJ(c.metricTuples(db, sensor))))

      case _ => makeJs(ex, "Page not found", 404)
    }

  // ---- ingest bodies -------------------------------------------------

  /** Both ingest bodies decode on the driver into points, and the
    * client's `writePoints` gates and writes them: the gate reads the
    * targets from the one decode.
    */
  private def influxWrite(ex: HttpExchange, c: GraftClient,
                          fill: Double): Unit = {
    val lines = new String(body(ex), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    c.write(lines, fill)
    makeJs(ex, s"${lines.size} lines inserted ok", 200)
  }

  private def binaryWrite(ex: HttpExchange, c: GraftClient,
                          fill: Double): Unit = {
    val points = Msgpack.decodePointList(body(ex))
    c.writePoints(points, fill)
    makeJs(ex, s"${points.size} lines inserted ok", 200)
  }

  // ---- read_df wire (`server.py:339-385` ↔ `client.py:536-556`) ------

  private def readDf(ex: HttpExchange, c: GraftClient, db: String,
                     sensor: String): Unit = {
    // on THIS route the gzip header advertises response compression
    // (`server.py:369-371`); the request body is plain JSON — do not
    // route it through the ingest-side zlib inflate
    val j = parseJson(ex.getRequestBody.readAllBytes())
    def num(v: JValue): Option[Double] = v match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JLong(l) => Some(l.toDouble)
      case _ => None
    }
    val startTs = num(j \ "start_ts").getOrElse(
      throw new BadRequestException("start_ts missing"))
    val endTs = num(j \ "end_ts")
    // metric list, payload width, `metrics` and metadata: one snapshot
    val (cfg, frame) = c.readSnapshot(db, sensor, Some(startTs.toLong),
      endTs.map(_.toLong))
    val metrics = cfg.metricNames
    // driver guard (deliberate reference divergence — the reference
    // materializes whatever the range covers): this route COLLECTS the
    // range to the serving driver to build the wire payload, so a
    // whole-history read of a 100 TB sensor would OOM the server. Cap
    // the collect at readDfMaxRows (+1 row to DETECT overflow without
    // counting) and answer 413 with a narrowing hint instead. The frame
    // is unsorted: a sort under the limit would plan a top-K whose
    // buffers are sized by the cap, so the rows are ordered here.
    val got = frame
      .limit(math.min(readDfMaxRows, Int.MaxValue - 1L).toInt + 1)
      .collect()
    if (got.length > readDfMaxRows) {
      makeJs(ex, s"read_df range exceeds $readDfMaxRows rows; " +
        "narrow [start_ts, end_ts] or raise readDfMaxRows", 413)
      return
    }
    if (got.isEmpty) { makeJs(ex, "No data", 404); return }
    val rows = got.sortBy(_.getTimestamp(0).getTime)
    val raw = BinaryFrame.encode(
      rows.map(_.getTimestamp(0).toInstant.toEpochMilli / 1000.0),
      rows.map(r => Array.tabulate(metrics.length)(i =>
        if (r.isNullAt(i + 1)) Float.NaN else r.getFloat(i + 1))))
    val datesLen = rows.length * 8
    // python base64.encodebytes: MIME lines of 76 chars, trailing \n
    val encoded = Base64.getMimeEncoder(76, Array('\n'.toByte))
      .encode(raw) ++ Array('\n'.toByte)
    val wantsGzip = Option(
      ex.getRequestHeaders.getFirst("Content-Encoding"))
      .exists(_.equalsIgnoreCase("gzip"))
    val compressed = datesLen > compressThreshold && wantsGzip
    val payload = if (compressed) zlibDeflate(encoded) else encoded
    // bytes ride the JSON string as ISO-8859-1 chars, like Flask's
    // jsonify of the .decode("ISO-8859-1") value
    val payloadStr = new String(payload, StandardCharsets.ISO_8859_1)
    val bodyJson = renderJ(Map(
      datesLen.toString -> payloadStr,
      "metrics" -> metricsJ(cfg.metrics.map(_.levels)),
      "metadata" -> cfg.metadata,
      "compressed" -> compressed,
      "version" -> Version))
    respond(ex, 200, bodyJson)
  }

  // ---- grafana (`server.py:412-475`) ---------------------------------

  private def grafanaQuery(ex: HttpExchange, c: GraftClient, db: String,
                           sensor: String): Unit = {
    val j = parseJson(body(ex))
    def iso(v: JValue): Long = v match {
      case JString(s) =>
        try java.time.Instant.parse(s).getEpochSecond
        catch { case e: java.time.format.DateTimeParseException =>
          throw new BadRequestException(e.getMessage) }
      case JDouble(d) => d.toLong
      case JInt(i) => i.toLong
      case _ => throw new BadRequestException("bad range timestamp")
    }
    val from = iso(j \ "range" \ "from")
    val to = iso(j \ "range" \ "to")
    val targets = (j \ "targets") match {
      case JArray(xs) => xs.collect { case o: JObject =>
        (o \ "target") match { case JString(t) => t; case _ => "" }
      }.filter(_.nonEmpty)
      case _ => Seq.empty
    }
    val maxDp = (j \ "maxDataPoints") match {
      case JInt(i) => i.toInt
      case JDouble(d) => d.toInt
      case _ => 1000
    }
    val json = c.readGrafanaJson(db, sensor, from, to, maxDp,
      if (targets.nonEmpty) Some(targets) else None)
    respond(ex, 200, json)
  }
}

/** A request body the server cannot parse: the client's fault (400). */
private class BadRequestException(msg: String)
  extends graft.core.GraftException(msg)
