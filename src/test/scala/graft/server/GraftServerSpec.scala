package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}
import java.util.Base64

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkSpec
import graft.client.GraftClient

/** Drives the HTTP layer end-to-end over real sockets — the serving
  * analog of the reference's client↔server suite (`tests/test_client
  * .py` runs against a live server; `tests/test_remote_server.py:28`
  * pins the read-token-cannot-create rule). Wire checks decode the
  * exact byte shapes the reference client decodes
  * (`client.py:536-556`).
  */
class GraftServerSpec extends SparkSpec {

  private val Admin = "admin-tok"
  private val WriteK = "write-tok"
  private val ReadK = "read-tok"

  private lazy val (server, base, dir) = {
    val d = java.nio.file.Files.createTempDirectory("graft-http").toString
    val s = new GraftServer(spark, d, Admin)
    s.start()
    (s, s"http://127.0.0.1:${s.boundPort}", d)
  }
  private val http = HttpClient.newHttpClient()

  private def basic(tok: String) =
    "Basic " + Base64.getEncoder.encodeToString(s"user:$tok".getBytes)

  private def req(method: String, path: String, tok: Option[String],
                  body: Option[Array[Byte]] = None,
                  headers: Map[String, String] = Map.empty)
      : HttpResponse[Array[Byte]] = {
    var b = HttpRequest.newBuilder(URI.create(base + path))
    tok.foreach(t => b = b.header("Authorization", basic(t)))
    headers.foreach { case (k, v) => b = b.header(k, v) }
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

  private def setupSensor(): Unit = {
    if (js(req("GET", "/db/plant", Some(Admin))) \ "ok" == JBool(true))
      return
    assert(req("POST", "/db/plant", Some(Admin)).statusCode == 201)
    val cfg = """{"period":"1s",
      "metrics":["active","reactive"],
      "read_key":"read-tok","write_key":"write-tok",
      "metadata":{"site":"x"}}"""
    assert(req("POST", "/db/plant/sensor/m1", Some(Admin),
      Some(cfg.getBytes)).statusCode == 201)
  }

  test("hello needs no auth; protected routes 401 without the header " +
    "(server.py:91-104); unknown route is the 404 shape") {
    val hello = req("GET", "/", None)
    assert(hello.statusCode == 200 &&
      (js(hello) \ "ok") == JBool(true))
    val noAuth = req("POST", "/db/x", None)
    assert(noAuth.statusCode == 401 &&
      (js(noAuth) \ "msg") == JString("Authorization header needed"))
    val missing = req("GET", "/nope/nada/niente/x", Some(Admin))
    assert(missing.statusCode == 404 &&
      (js(missing) \ "http_code") == JInt(404))
  }

  test("catalog lifecycle: create 201 / repeat 406 / exists 200/404; " +
    "read token cannot create (test_remote_server.py:28 rule)") {
    setupSensor()
    assert(req("POST", "/db/plant", Some(Admin)).statusCode == 406)
    assert(req("GET", "/db/plant", Some(Admin)).statusCode == 200)
    assert(req("GET", "/db/ghost", Some(Admin)).statusCode == 404)
    // catalog mutation is admin-only
    assert(req("POST", "/db/plant2", Some(ReadK)).statusCode == 401)
    assert(req("POST", "/db/plant/sensor/m2", Some(WriteK),
      Some("""{"period":"1s","metrics":["a"]}""".getBytes))
      .statusCode == 401)
    // sensor exists: needs a key valid for READ
    assert(req("GET", "/db/plant/sensor/m1", Some(ReadK)).statusCode == 200)
    assert(req("GET", "/db/plant/sensor/m1", Some("bogus")).statusCode == 401)
    assert(req("GET", "/db/plant/sensor/ghost", Some(Admin)).statusCode == 404)
    // set_metadata round-trips through the metadata read
    assert(req("POST", "/db/plant/sensor/m1/set_metadata", Some(Admin),
      Some("""{"site":"y","owner":"ops"}""".getBytes)).statusCode == 200)
    val md = js(req("POST", "/plant/m1/metadata", Some(ReadK)))
    assert((md \ "metadata" \ "site") == JString("y"))
  }

  test("influx write (plain + zlib 'gzip' body) through the write key; " +
    "wrong key 401; read-back equality via the library client") {
    setupSensor()
    val t0 = 1704067200L
    val lines =
      s"plant,circuit=m1 active=9,reactive=10 ${t0}000000000\n" +
        s"plant,circuit=m1 active=11 ${t0 + 1}000000000"
    assert(req("POST", "/influx", Some(ReadK),
      Some(lines.getBytes)).statusCode == 401)
    val ok = req("POST", "/influx", Some(WriteK), Some(lines.getBytes))
    assert(ok.statusCode == 200 &&
      (js(ok) \ "msg") == JString("2 lines inserted ok"))

    // zlib-compressed body with the reference's 'gzip' header name
    val more = s"plant,circuit=m1 reactive=12 ${t0 + 2}000000000"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(more.getBytes); deflater.finish()
    val buf = new Array[Byte](1024)
    val n = deflater.deflate(buf)
    assert(req("POST", "/influx", Some(WriteK),
      Some(java.util.Arrays.copyOf(buf, n)),
      Map("Content-Encoding" -> "gzip")).statusCode == 200)

    val c = new GraftClient(spark, dir, WriteK)
    val rows = c.read("plant", "m1", Some(t0), Some(t0 + 10)).collect()
    assert(rows.length == 3)
    assert(rows(0).getFloat(1) == 9.0f && rows(2).getFloat(2) == 12.0f)

    val lt = js(req("POST", "/plant/m1/last_timestamp", Some(ReadK)))
    assert((lt \ "last_timestamp") == JDouble((t0 + 2).toDouble))
  }

  test("influx_binary msgpack body ingests (server.py:317-328)") {
    setupSensor()
    val t0 = 1704153600L
    val bb = ByteBuffer.allocate(1024)
    def pStr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); bb.put((0xa0 | b.length).toByte); bb.put(b)
    }
    bb.put(0x91.toByte) // 1-row list
    bb.put(0x95.toByte) // 5-tuple
    pStr("plant"); pStr("m1")
    bb.put(0x92.toByte); pStr("active"); pStr("reactive")
    bb.put(0x92.toByte)
    bb.put(0xcb.toByte); bb.putDouble(5.5)
    bb.put(0xcb.toByte); bb.putDouble(6.5)
    bb.put(0xcf.toByte); bb.putLong(t0 * 1000000000L)
    val body = java.util.Arrays.copyOf(bb.array(), bb.position())
    val r = req("POST", "/influx_binary", Some(WriteK), Some(body))
    assert(r.statusCode == 200, new String(r.body()))
    val c = new GraftClient(spark, dir, ReadK)
    val row = c.read("plant", "m1", Some(t0), Some(t0)).collect()
    assert(row.length == 1 && row(0).getFloat(1) == 5.5f &&
      row(0).getFloat(2) == 6.5f)
  }

  test("a malformed body is the client's fault: a bad influx line, a " +
    "truncated msgpack body and unparseable read_df JSON answer 400") {
    setupSensor()
    val truncated = Array(0x91, 0x95, 0xa5).map(_.toByte) ++ "pla".getBytes
    val codes = Seq(
        ("/influx", WriteK, "plant,circuit=m1".getBytes),
        ("/influx_binary", WriteK, truncated),
        ("/plant/m1/read_df", ReadK, """{"start_ts": 1""".getBytes))
      .map { case (path, tok, body) =>
        path -> req("POST", path, Some(tok), Some(body)).statusCode }
    assert(codes.forall(_._2 == 400), codes)
  }

  test("an empty metric name is refused on both ingest routes: 400, " +
    "nothing written, no metric '' in the schema") {
    setupSensor()
    val cfg = """{"period":"1s","metrics":["m1"],"write_key":"write-tok"}"""
    assert(req("POST", "/db/plant/sensor/em", Some(Admin),
      Some(cfg.getBytes)).statusCode == 201)
    val bb = ByteBuffer.allocate(256)
    def pStr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); bb.put((0xa0 | b.length).toByte); bb.put(b)
    }
    // [('plant', 'em', ['m1', ''], [1.0, 2.0], 1704067200e9)]
    bb.put(0x91.toByte); bb.put(0x95.toByte); pStr("plant"); pStr("em")
    bb.put(0x92.toByte); pStr("m1"); pStr("")
    bb.put(0x92.toByte)
    bb.put(0xcb.toByte); bb.putDouble(1.0)
    bb.put(0xcb.toByte); bb.putDouble(2.0)
    bb.put(0xcf.toByte); bb.putLong(1704067200L * 1000000000L)
    val binary = java.util.Arrays.copyOf(bb.array(), bb.position())
    val codes = Seq(
        "/influx" -> "plant,circuit=em m1=1, 1704067200000000000".getBytes,
        "/influx" -> "plant,circuit=em m1=1,=2 1704067200000000000".getBytes,
        "/influx_binary" -> binary)
      .map { case (path, body) =>
        req("POST", path, Some(WriteK), Some(body)).statusCode }
    assert(codes == Seq(400, 400, 400))
    val c = new GraftClient(spark, dir, WriteK)
    assert(c.metrics("plant", "em") == Seq("m1"))
    assert(c.lastTimestamp("plant", "em").isEmpty)
  }

  test("a corrupt stored CONFIG.JSON is the server's fault: 500, not 400") {
    assert(req("POST", "/db/scrap", Some(Admin)).statusCode == 201)
    val cfg = """{"period":"1s","metrics":["a"],"read_key":"r","write_key":"w"}"""
    assert(req("POST", "/db/scrap/sensor/s", Some(Admin),
      Some(cfg.getBytes)).statusCode == 201)
    // the stored config lives in the sensor's commit record
    val path = java.nio.file.Paths.get(dir, "scrap", "s", "_commit", "v1.json")
    val stored = java.nio.file.Files.readAllBytes(path)
    java.nio.file.Files.write(path, stored.take(stored.length / 2))
    val r = req("POST", "/scrap/s/read_df", Some(Admin),
      Some("""{"start_ts": 1, "end_ts": 2}""".getBytes))
    assert(req("DELETE", "/db/scrap", Some(Admin)).statusCode == 200)
    assert(r.statusCode == 500, new String(r.body()))
  }

  test("a request field that is missing or malformed is the client's " +
    "fault: 400, not 500") {
    setupSensor()
    def code(path: String, tok: String, body: String) =
      req("POST", path, Some(tok), Some(body.getBytes)).statusCode
    assert(req("POST", "/db/bad400", Some(Admin)).statusCode == 201)
    val codes = Seq(
      "no period" -> code("/db/bad400/sensor/s", Admin, """{"metrics":["a"]}"""),
      "no metrics" -> code("/db/bad400/sensor/s", Admin, """{"period":"1s"}"""),
      "bad metric" -> code("/db/bad400/sensor/s", Admin,
        """{"period":"1s","metrics":[1]}"""),
      "no start_ts" -> code("/plant/m1/read_df", ReadK, """{"end_ts": 2}"""),
      "bad range timestamp" -> code("/plant/m1/query", ReadK,
        """{"range":{"from":true,"to":2},"targets":[{"target":"active"}]}"""),
      "unparseable ISO timestamp" -> code("/plant/m1/query", ReadK,
        """{"range":{"from":"yesterday","to":"2024-01-01T00:00:00Z"},""" +
          """"targets":[{"target":"active"}]}"""))
    assert(req("DELETE", "/db/bad400", Some(Admin)).statusCode == 200)
    assert(codes.forall(_._2 == 400), codes)
  }

  /** Decode the read_df wire exactly as `client.py:536-556` does. */
  private def decodeReadDf(j: JValue): (Array[Double], Array[Float]) = {
    val fields = j.asInstanceOf[JObject].obj.toMap
    val datesLen = fields.keys.find(_.forall(_.isDigit)).get
    var data = fields(datesLen).asInstanceOf[JString].s
      .getBytes(StandardCharsets.ISO_8859_1)
    if (fields("compressed") == JBool(true)) {
      val inf = new java.util.zip.Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      while (!inf.finished()) out.write(buf, 0, inf.inflate(buf))
      data = out.toByteArray
    }
    val raw = Base64.getMimeDecoder.decode(data)
    val nDates = datesLen.toInt
    val db = ByteBuffer.wrap(raw, 0, nDates).order(ByteOrder.LITTLE_ENDIAN)
    val dates = Array.fill(nDates / 8)(db.getDouble)
    val vb = ByteBuffer.wrap(raw, nDates, raw.length - nDates)
      .order(ByteOrder.LITTLE_ENDIAN)
    val values = Array.fill((raw.length - nDates) / 4)(vb.getFloat)
    (dates, values)
  }

  test("read_df speaks the reference wire: float64 dates ++ float32 " +
    "values, MIME base64, len-keyed; compressed variant when the " +
    "client advertises gzip and the payload clears the threshold") {
    setupSensor()
    val t0 = 1704240000L
    // 200 rows → 1600 date bytes > the 1024 threshold
    val lines = (0 until 200).map(i =>
      s"plant,circuit=m1 active=${i}.5 ${t0 + i}000000000")
    assert(req("POST", "/influx", Some(WriteK),
      Some(lines.mkString("\n").getBytes)).statusCode == 200)
    val payload =
      s"""{"start_ts": $t0.0, "end_ts": ${t0 + 199}.0}"""

    val plain = req("POST", "/plant/m1/read_df", Some(ReadK),
      Some(payload.getBytes))
    assert(plain.statusCode == 200)
    val jPlain = js(plain)
    assert((jPlain \ "compressed") == JBool(false))
    val (dates, values) = decodeReadDf(jPlain)
    assert(dates.length == 200 && values.length == 400)
    assert(dates(0) == t0.toDouble && dates(199) == (t0 + 199).toDouble)
    assert(values(0) == 0.5f && values(398) == 199.5f)
    assert(values(1).isNaN && values(399).isNaN) // reactive never written
    assert((jPlain \ "metrics") == JArray(List(JString("active"),
      JString("reactive"))))

    val gz = req("POST", "/plant/m1/read_df", Some(ReadK),
      Some(payload.getBytes), Map("Content-Encoding" -> "gzip"))
    val jGz = js(gz)
    assert((jGz \ "compressed") == JBool(true),
      "payload over threshold + gzip header must compress")
    val (dates2, values2) = decodeReadDf(jGz)
    assert(dates2.sameElements(dates))
    // bit-level compare: the values carry NaNs (NaN != NaN under ==)
    assert(values2.map(java.lang.Float.floatToIntBits)
      .sameElements(values.map(java.lang.Float.floatToIntBits)))

    val empty = req("POST", "/plant/m1/read_df", Some(ReadK),
      Some(s"""{"start_ts": ${t0 - 500000}.0, "end_ts": ${t0 - 400000}.0}"""
        .getBytes))
    assert(empty.statusCode == 404, "no data must be the 404 shape")
  }

  test("read_df driver guard: a range past readDfMaxRows answers 413 " +
    "with a narrowing hint instead of collecting it; an under-cap " +
    "range is byte-identical to the uncapped server (r14 'wrong' #3)") {
    setupSensor()
    val t0 = 1704240000L
    val lines = (0 until 200).map(i =>
      s"plant,circuit=m1 active=${i}.5 ${t0 + i}000000000")
    assert(req("POST", "/influx", Some(WriteK),
      Some(lines.mkString("\n").getBytes)).statusCode == 200)
    val guarded = new GraftServer(spark, dir, Admin, readDfMaxRows = 50L)
    guarded.start()
    try {
      val gbase = s"http://127.0.0.1:${guarded.boundPort}"
      def greq(path: String, body: String) = http.send(
        HttpRequest.newBuilder(URI.create(gbase + path))
          .header("Authorization", basic(ReadK))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      // 200 rows > cap 50 → 413 + hint
      val over = greq("/plant/m1/read_df",
        s"""{"start_ts": $t0.0, "end_ts": ${t0 + 199}.0}""")
      assert(over.statusCode == 413, s"expected 413, got ${over.statusCode}")
      assert(new String(over.body(), StandardCharsets.ISO_8859_1)
        .contains("narrow"), "413 must carry the narrowing hint")
      // 40 rows ≤ cap → byte-identical to the uncapped server
      val narrow = s"""{"start_ts": $t0.0, "end_ts": ${t0 + 39}.0}"""
      val capped = greq("/plant/m1/read_df", narrow)
      val uncapped = req("POST", "/plant/m1/read_df", Some(ReadK),
        Some(narrow.getBytes))
      assert(capped.statusCode == 200 && uncapped.statusCode == 200)
      assert(capped.body().sameElements(uncapped.body()),
        "under-cap response must be byte-identical to the uncapped path")
    } finally guarded.stop()
  }

  test("grafana endpoints: index, search, and the query wire equals " +
    "the engine-built JSON (server.py:399-484)") {
    setupSensor()
    val t0 = 1704326400L
    val lines = (0 until 50).map(i =>
      s"plant,circuit=m1 active=${i}.0,reactive=${100 - i}.0 ${t0 + i}000000000")
    assert(req("POST", "/influx", Some(WriteK),
      Some(lines.mkString("\n").getBytes)).statusCode == 200)

    val idx = js(req("GET", "/plant/m1", Some(ReadK)))
    assert((idx \ "db") == JString("plant") &&
      (idx \ "sensor") == JString("m1"))

    val search = req("POST", "/plant/m1/search", Some(ReadK))
    assert(new String(search.body()) == """["active","reactive"]""")

    val fromIso = java.time.Instant.ofEpochSecond(t0).toString
    val toIso = java.time.Instant.ofEpochSecond(t0 + 49).toString
    val q = s"""{"range":{"from":"$fromIso","to":"$toIso"},
      "targets":[{"target":"active"}],"maxDataPoints":25}"""
    val got = new String(
      req("POST", "/plant/m1/query", Some(ReadK), Some(q.getBytes)).body(),
      StandardCharsets.ISO_8859_1)
    val want = new GraftClient(spark, dir, ReadK)
      .readGrafanaJson("plant", "m1", t0, t0 + 49, 25, Some(Seq("active")))
    assert(got == want, s"grafana wire diverged:\n$got\n$want")
  }

  test("grafana /query returns every target as a JSON string: quotes, " +
    "backslashes and names outside Latin-1 round-trip") {
    import graft.core.Wire.jstr
    setupSensor()
    val names = Seq("a\"b", "a\\b", "\u6e29\u5ea6")
    val cfg = s"""{"period":"1s","metrics":[${names.map(jstr).mkString(",")}],
      "read_key":"read-tok","write_key":"write-tok"}"""
    assert(req("POST", "/db/plant/sensor/esc", Some(Admin),
      Some(cfg.getBytes(StandardCharsets.UTF_8))).statusCode == 201)
    val t0 = 1704326400L
    new GraftClient(spark, dir, WriteK).writePoints(
      names.zipWithIndex.flatMap { case (m, i) => (0 until 10).map(k =>
        graft.ingest.PointRow("plant", "esc", m, (i * 10 + k).toDouble,
          (t0 + k).toDouble))
      })

    val range = s"""{"from":"${java.time.Instant.ofEpochSecond(t0)}",""" +
      s""""to":"${java.time.Instant.ofEpochSecond(t0 + 9)}"}"""
    val q = s"""{"range":$range,"maxDataPoints":5,"targets":[""" +
      names.map(n => s"""{"target":${jstr(n)}}""").mkString(",") + "]}"
    val r = req("POST", "/plant/esc/query", Some(ReadK),
      Some(q.getBytes(StandardCharsets.UTF_8)))
    assert(r.statusCode == 200)
    val reply = js(r)
    assert(reply.isInstanceOf[JArray], s"not a JSON array: $reply")
    val got = reply.children.map(o => (o \ "target", o \ "datapoints") match {
      case (JString(t), JArray(dps)) => t -> dps.map {
        case JArray(List(JDouble(v), JDouble(ms))) => (v, ms.toLong)
        case other => fail(s"bad datapoint $other")
      }
      case other => fail(s"bad target object $other")
    })
    // spread 2: the first row of each bucket, t0, t0 + 2, …, t0 + 8
    assert(got == names.zipWithIndex.map { case (n, i) =>
      n -> (0 until 10 by 2).map(k => ((i * 10 + k).toDouble, (t0 + k) * 1000))
    })
  }

  test("concurrent requests run on the handler pool — 16 parallel " +
    "reads all answer correctly (the gevent-pool analog)") {
    setupSensor()
    val t0 = 1704412800L
    assert(req("POST", "/influx", Some(WriteK),
      Some(s"plant,circuit=m1 active=7 ${t0}000000000".getBytes))
      .statusCode == 200)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val ec = ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(16))
    try {
      implicit val iec: ExecutionContext = ec
      val futures = (1 to 16).map { _ =>
        Future(js(req("POST", "/plant/m1/last_timestamp", Some(ReadK))))
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      assert(results.forall(r =>
        (r \ "last_timestamp") != JNothing && (r \ "ok") == JBool(true)))
    } finally ec.shutdown()
  }

  test("get_md5 hashes files under the store root and blocks traversal " +
    "(server.py:486-498)") {
    setupSensor()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "plant", "probe.txt"), "hello")
    val ok = js(req("GET", "/get_md5/plant/probe.txt", Some(Admin)))
    assert((ok \ "md5") ==
      JString("5d41402abc4b2a76b9719d911017c592")) // md5("hello")
    assert(req("GET", "/get_md5/../etc/passwd", Some(Admin))
      .statusCode != 200)
    assert(req("GET", "/get_md5/plant/ghost.bin", Some(Admin))
      .statusCode == 404)
    // Symlink escape: a link INSIDE the store pointing OUTSIDE it must
    // be refused after realpath resolution (server.py realpaths the
    // target; ADVICE r12), not hashed through the lexical check.
    val outside = java.nio.file.Files.createTempFile("graft-md5-out", ".txt")
    java.nio.file.Files.writeString(outside, "secret")
    val link = java.nio.file.Paths.get(dir, "plant", "sneaky.txt")
    java.nio.file.Files.deleteIfExists(link)
    java.nio.file.Files.createSymbolicLink(link, outside)
    assert(req("GET", "/get_md5/plant/sneaky.txt", Some(Admin))
      .statusCode == 400)
    // A symlink whose target is itself inside the store still hashes.
    val inLink = java.nio.file.Paths.get(dir, "plant", "alias.txt")
    java.nio.file.Files.deleteIfExists(inLink)
    java.nio.file.Files.createSymbolicLink(inLink,
      java.nio.file.Paths.get(dir, "plant", "probe.txt"))
    assert((js(req("GET", "/get_md5/plant/alias.txt", Some(Admin))) \ "md5")
      == JString("5d41402abc4b2a76b9719d911017c592"))
  }

  test("keyless sensor is admin-only over HTTP: empty read/write keys " +
    "grant nothing to a non-admin caller (database.py:170-187 exact-" +
    "match rule at the network boundary)") {
    setupSensor()
    val cfg = """{"period":"1s","metrics":["a"]}"""
    assert(req("POST", "/db/plant/sensor/open1", Some(Admin),
      Some(cfg.getBytes)).statusCode == 201)
    // any non-admin token — including the empty password — is refused
    // for both read and write
    assert(req("POST", "/plant/open1/last_timestamp", Some("anything"))
      .statusCode == 401)
    assert(req("POST", "/plant/open1/last_timestamp", Some(""))
      .statusCode == 401)
    val line = "plant,circuit=open1 a=1 1704067200000000000"
    assert(req("POST", "/influx", Some("anything"), Some(line.getBytes))
      .statusCode == 401)
    // admin still passes
    assert(req("POST", "/influx", Some(Admin), Some(line.getBytes))
      .statusCode == 200)
    assert(req("POST", "/plant/open1/last_timestamp", Some(Admin))
      .statusCode == 200)
  }

  test("influx write gate parses the target sensor EXACTLY like the " +
    "write path: a comma-named keyless sensor ('s1,rest') cannot slip " +
    "past the auth gate via the header's first comma field (ADVICE " +
    "r13)") {
    setupSensor()
    val cfg = """{"period":"1s","metrics":["m"]}"""
    // keyless sensor whose name contains a comma — the write path's
    // `,[^=]+=(.+)$` capture reads the FULL 's1,rest'
    assert(req("POST", "/db/plant/sensor/s1,rest", Some(Admin),
      Some(cfg.getBytes)).statusCode == 201)
    val line = "plant,circuit=s1,rest m=1 1704067200000000000"
    // non-admin: the gate must auth the sensor the write actually
    // targets ('s1,rest', keyless → admin-only) and refuse — NOT auth
    // a nonexistent 's1' and let the write through
    assert(req("POST", "/influx", Some("anything"), Some(line.getBytes))
      .statusCode == 401)
    assert(js(req("POST", "/plant/s1,rest/last_timestamp", Some(Admin)))
      \ "last_timestamp" == JNull,
      "the refused write must not have landed")
    // admin writes it fine (gate and write path agree on the target)
    assert(req("POST", "/influx", Some(Admin), Some(line.getBytes))
      .statusCode == 200)
    assert(js(req("POST", "/plant/s1,rest/last_timestamp", Some(Admin)))
      \ "last_timestamp" == JDouble(1704067200.0))
  }
}
