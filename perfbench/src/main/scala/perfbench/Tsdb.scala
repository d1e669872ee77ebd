package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.client.{GraftClient, GraftHttpClient}
import graft.server.GraftServer
import graft.store.SensorStore

/** Shared pieces of the three TSDB workloads: a server on an ephemeral
  * port over a fresh store, the reference HTTP client, the library client
  * and the closed-loop client runner.
  */
abstract class TsdbWorkload(spark: SparkSession, dir: Path, seed: Long)
    extends Workload {
  val Db = "pb"
  val Admin = "admin"
  val storeDir: String = dir.resolve("store").toString
  Files.createDirectories(Paths.get(storeDir))
  // started before any job tag is set, so its handler threads inherit none
  val server = new GraftServer(spark, storeDir, Admin)
  server.start()
  val base = s"http://127.0.0.1:${server.boundPort}"
  val http = new GraftHttpClient(spark, base, Admin)
  val lib = new GraftClient(spark, storeDir)
  val store = new SensorStore(spark, storeDir)
  private val jdk = HttpClient.newHttpClient()
  protected val opIds = new AtomicLong()
  /** Wrong answers seen by any operation; they make the run incorrect. */
  protected val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def close(): Unit = server.stop()

  protected def createSensor(sensor: String, freq: String, metrics: Seq[String]): Unit =
    require(http.createSensor(Db, sensor, freq, metrics, "", ""),
      s"create sensor $sensor failed")

  protected def post(path: String, body: String): HttpResponse[Array[Byte]] = {
    val auth = "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"client:$Admin".getBytes(StandardCharsets.UTF_8))
    jdk.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Authorization", auth)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
  }

  /** Time one operation on the calling thread, tagging its Spark jobs.
    * `f` returns (ok, rows returned, response bytes); an exception is a
    * failed operation, never retried.
    */
  protected def timed(kind: String)(f: => (Boolean, Long, Long)): Op = {
    val id = opIds.incrementAndGet()
    val t0 = System.currentTimeMillis().toDouble
    val (ok, rows, bytes) =
      try Tags.tagged(spark, Tags.kind(kind), Tags.op(id))(f)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind op failed: $e"); (false, 0L, 0L)
      }
    Op(kind, id, t0, System.currentTimeMillis().toDouble, ok, rows, bytes)
  }

  /** Closed loop: `clients` threads, each issuing its next operation only
    * after the previous reply, until `seconds` have passed.
    */
  protected def closedLoop(clients: Int, seconds: Double)(next: Int => Op): Seq[Op] = {
    val deadline = System.currentTimeMillis() + (seconds * 1000).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        while (System.currentTimeMillis() < deadline) out.add(next(c).copy(client = c))
      }, s"pb-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Bytes under the store directory divided by cells stored. */
  protected def storedBytesPerPoint(points: Long): Double = {
    val s = Files.walk(Paths.get(storeDir))
    val bytes = try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum finally s.close()
    bytes.toDouble / points.max(1)
  }

  /** Grafana `/query` reply → (ok, datapoints, bytes); every datapoint is
    * checked against `expected(metric, tickSec)`.
    */
  protected def grafana(sensor: String, from: Long, to: Long, maxDp: Int,
                        targets: Seq[String],
                        expected: (String, Long) => Option[Float]): (Boolean, Long, Long) = {
    val body = s"""{"range":{"from":$from,"to":$to},"maxDataPoints":$maxDp,""" +
      targets.map(t => s"""{"target":"$t"}""").mkString("\"targets\":[", ",", "]}")
    val r = post(s"/$Db/$sensor/query", body)
    if (r.statusCode != 200) return (false, 0L, r.body.length.toLong)
    val j = JsonMethods.parse(new String(r.body, StandardCharsets.ISO_8859_1))
    var n = 0L
    j match {
      case JArray(series) => series.foreach { s =>
        val t = (s \ "target") match { case JString(x) => x; case _ => "" }
        (s \ "datapoints") match {
          case JArray(dps) => dps.foreach {
            case JArray(List(v, ts)) =>
              n += 1
              val value = v match { case JDouble(d) => d; case JInt(i) => i.toDouble; case _ => Double.NaN }
              val tick = (ts match { case JDouble(d) => d; case JInt(i) => i.toDouble; case _ => -1.0 }).toLong / 1000
              if (tick < from || tick > to || !expected(t, tick).contains(value.toFloat))
                wrong.add(s"grafana $sensor $t@$tick = $value, expected ${expected(t, tick)}")
            case other => wrong.add(s"grafana datapoint shape $other")
          }
          case _ => wrong.add(s"grafana series without datapoints: $s")
        }
      }
      case other => wrong.add(s"grafana reply is not an array: ${other.getClass}")
    }
    (true, n, r.body.length.toLong)
  }

  /** Compare a seeded sample of ticks read back through
    * `SensorStore.read` with what every acknowledged write implies.
    */
  protected def checkSample(sensor: String, ticks: Seq[Long], metrics: Seq[String],
                            expected: (String, Long) => Option[Float]): Seq[String] = {
    val got = store.read(Db, sensor, Some(ticks.min), Some(ticks.max))
      .filter(unix_seconds(col("ts")).isin(ticks: _*))
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r).toMap
    ticks.flatMap { t =>
      got.get(t) match {
        case None => Seq(s"$sensor: row $t missing")
        case Some(r) => metrics.zipWithIndex.flatMap { case (m, i) =>
          val v = if (r.isNullAt(i + 1)) None else Some(r.getFloat(i + 1))
          if (v == expected(m, t)) Nil else Seq(s"$sensor $m@$t = $v, expected ${expected(m, t)}")
        }
      }
    }.take(20)
  }
}

/** Deterministic sensor values used by the bulk-loaded sensors: halves of
  * integers, exact in float32 and in the Grafana "%f" wire format.
  */
object Values {
  // small offsets keep Spark's ANSI long arithmetic far from overflow
  private def offset(seed: Long, metric: Int) =
    metric * 104729L + Math.floorMod(seed, 1000003L) * 1299709L

  def of(seed: Long, tick: Long, metric: Int): Double =
    Math.floorMod(tick * 7919L + offset(seed, metric), 2000L) / 2.0

  def column(seed: Long, tick: org.apache.spark.sql.Column, metric: Int) =
    pmod(tick * 7919L + lit(offset(seed, metric)), lit(2000L)) / 2.0
}

/** `ingest`: two writers, each on its own 1 s, 4-metric sensor, post
  * 2000-line influx batches. ~90% append in time order, ~10% are late
  * upserts into chunks already written (each line carrying a random subset
  * of the metrics), and writer 0's second measured batch brings a new
  * metric. No rollups, no reads.
  */
final class Ingest(spark: SparkSession, dir: Path, seed: Long)
    extends TsdbWorkload(spark, dir, seed) {
  val Lines = 2000
  val Writers = 2
  val WarmWrites = 5
  val T0 = 1699833600L
  val sensors: IndexedSeq[String] = (0 until Writers).map(w => s"w$w")
  val models: IndexedSeq[CellModel] =
    sensors.map(_ => new CellModel(1, Seq("m1", "m2", "m3", "m4")))
  private val rngs = (0 until Writers).map(w => new Random(seed * 31 + w))
  private val cursor = Array.fill(Writers)(T0)
  private val issued = Array.fill(Writers)(0)
  private var evolveAt = Int.MaxValue

  private def batch(w: Int): Seq[(Long, Seq[(String, Double)])] = {
    val rng = rngs(w)
    val n = issued(w); issued(w) += 1
    val metrics = models(w).metrics.filter(_ != "m5")
    def v() = rng.nextInt(2000) / 2.0
    if (n > 1 && n != evolveAt && rng.nextDouble() < 0.1) {
      // late upsert into a window already written
      val from = T0 + rng.nextLong(cursor(w) - T0 - Lines + 1)
      (0 until Lines).map { i =>
        val kept = metrics.filter(_ => rng.nextDouble() < 0.5)
        from + i -> (if (kept.isEmpty) Seq(metrics(rng.nextInt(metrics.size))) else kept)
          .map(_ -> v())
      }
    } else {
      val from = cursor(w); cursor(w) += Lines
      val extra = if (w == 0 && n == evolveAt) Seq("m5") else Nil
      (0 until Lines).map { i => from + i -> (metrics ++ extra).map(_ -> v()) }
    }
  }

  private def write(w: Int): Op = {
    val b = batch(w)
    val lines = b.map { case (ts, kv) =>
      s"$Db,id=${sensors(w)} " + kv.map { case (m, x) => s"$m=$x" }.mkString(",") + s" ${ts}000000000"
    }
    val op = timed("write") { (http.write(lines), 0L, 0L) }
    // the model follows acknowledged writes only
    if (op.ok) models(w).synchronized(models(w).write(b, 0.0))
    op.copy(rowsIngested = Lines, pointsIngested = b.map(_._2.size.toLong).sum)
  }

  def setup(): Map[String, Double] = {
    sensors.foreach(createSensor(_, "1s", Seq("m1", "m2", "m3", "m4")))
    val t = System.nanoTime()
    closedLoopN(WarmWrites)
    evolveAt = WarmWrites + 1
    Map("load_s" -> 0.0, "rollup_s" -> 0.0, "warm_s" -> (System.nanoTime() - t) / 1e9)
  }

  private def closedLoopN(n: Int): Unit = {
    val ts = (0 until Writers).map { w =>
      val t = new Thread(() => (0 until n).foreach { _ =>
        if (!write(w).ok) throw new IllegalStateException("warm-up write failed")
      })
      t.start(); t
    }
    ts.foreach(_.join())
  }

  def window(seconds: Double): Seq[Op] = closedLoop(Writers, seconds)(write)

  def check(): Seq[String] = wrong.asScala.toSeq.take(20) ++ sensors.indices.flatMap { w =>
    val m = models(w)
    val rng = new Random(seed * 7 + w)
    val ticks = rng.shuffle(m.ticks.toIndexedSeq).take(400).sorted
    val lost = if (m.metrics.size > 4 || w != 0) Nil else Seq("evolution batch never written")
    lost ++ checkSample(sensors(w), ticks, m.metrics, (metric, t) => m.cell(t, metric))
  }

  def extra(ops: Seq[Op]): Map[String, Double] =
    Map("stored_bytes_per_point" -> storedBytesPerPoint(models.map(_.pointCount).sum))
}

/** Setup of `dashboard` and `mixed`: a 1-day 1 s sensor (86,400 ticks, 6
  * chunks, 2 metrics) and a 1-day-frequency sensor (3 years, 4 metrics)
  * bulk-loaded through `SensorStore.write`, with first, mean, stats and
  * quantile rollups materialized at 60 s on the 1 s sensor.
  */
abstract class DashboardBase(spark: SparkSession, dir: Path, seed: Long)
    extends TsdbWorkload(spark, dir, seed) {
  val T0 = 1699833600L
  val Days = 1
  val Fine = "fine"
  val Daily = "daily"
  val FineMetrics = Seq("m1", "m2")
  val DailyMetrics = Seq("m1", "m2", "m3", "m4")
  val DailyRows = 1096
  val RollupSec = 60L
  val BinWidth = 1.0
  @volatile var fineEnd: Long = T0 + Days * 86400L // exclusive

  def expected(metric: String, tick: Long, metrics: Seq[String], tickSec: Long,
               end: Long): Option[Float] = {
    val i = metrics.indexOf(metric)
    if (i < 0 || tick < T0 || tick >= end || tick % tickSec != 0) None
    else Some(Values.of(seed, tick, i).toFloat)
  }
  def fineValue(m: String, t: Long) = expected(m, t, FineMetrics, 1, fineEnd)
  def dailyValue(m: String, t: Long) =
    expected(m, t, DailyMetrics, 86400, T0 + DailyRows * 86400L)

  protected def bulk(sensor: String, metrics: Seq[String], tickSec: Long, n: Long): Unit = {
    val ticks = spark.range(0, n).select((col("id") * tickSec + T0).as("t"))
    val pts = metrics.zipWithIndex.map { case (m, i) =>
      ticks.select(timestamp_seconds(col("t")).as("ts"), lit(m).as("metric"),
        Values.column(seed, col("t"), i).as("value"))
    }.reduce(_ union _)
    store.write(Db, sensor, pts)
  }

  protected def loadAndRollup(): Map[String, Double] = {
    createSensor(Fine, "1s", FineMetrics)
    createSensor(Daily, "1d", DailyMetrics)
    val t0 = System.nanoTime()
    Tags.tagged(spark, Tags.kind("setup")) {
      bulk(Fine, FineMetrics, 1, Days * 86400L)
      bulk(Daily, DailyMetrics, 86400, DailyRows)
    }
    val t1 = System.nanoTime()
    Tags.tagged(spark, Tags.kind("setup")) {
      store.materializeRollup(Db, Fine, RollupSec)
      store.materializeMeanRollup(Db, Fine, RollupSec)
      store.materializeStatsRollup(Db, Fine, RollupSec)
      store.materializeQuantileRollup(Db, Fine, RollupSec, BinWidth)
    }
    val t2 = System.nanoTime()
    Map("load_s" -> (t1 - t0) / 1e9, "rollup_s" -> (t2 - t1) / 1e9)
  }

  // ---- reads -------------------------------------------------------------

  protected def grafanaOp(from: Long, span: Long, maxDp: Int): Op = timed("grafana") {
    grafana(Fine, from, from + span - 1, maxDp, FineMetrics, fineValue)
  }

  protected def dailyGrafanaOp(): Op = timed("grafana") {
    grafana(Daily, T0, T0 + DailyRows * 86400L - 1, 365, DailyMetrics, dailyValue)
  }

  private val readDfFrom = scala.collection.concurrent.TrieMap.empty[Long, Long]

  protected def readDfOp(from: Long): Op = {
    val op = readDf(from)
    readDfFrom.put(op.id, from)
    op
  }

  private def readDf(from: Long): Op = timed("read_df") {
    http.read(Db, Fine, from, Some(from + 3599)) match {
      case None => (false, 0L, 0L)
      case Some(df) =>
        val rows = df.collect()
        rows.foreach { r =>
          val t = r.getTimestamp(0).getTime / 1000
          FineMetrics.zipWithIndex.foreach { case (m, i) =>
            val v = if (r.isNullAt(i + 1)) None else Some(r.getFloat(i + 1))
            if (v != fineValue(m, t)) wrong.add(s"read_df $m@$t = $v")
          }
        }
        (true, rows.length.toLong, 0L)
    }
  }

  /** `GraftHttpClient.read` does not expose the reply body, so each
    * `/read_df` op's request is sent again with the same body, and the
    * length of that reply is its response size.
    */
  override def withResponseBytes(ops: Seq[Op]): Seq[Op] = {
    val bodyLen = scala.collection.mutable.Map.empty[Long, Long]
    ops.map { o =>
      readDfFrom.get(o.id).filter(_ => o.kind == "read_df" && o.ok).map { from =>
        o.copy(respBytes = bodyLen.getOrElseUpdate(from, {
          val r = post(s"/$Db/$Fine/read_df",
            s"""{"start_ts": $from.0,"end_ts": ${from + 3599}.0}""")
          require(r.statusCode == 200, s"read_df re-send got ${r.statusCode}")
          r.body.length.toLong
        }))
      }.getOrElse(o)
    }
  }

  protected def lastTsOp(check: Double => Boolean): Op = timed("last_ts") {
    http.lastTimestamp(Db, Fine) match {
      case Some(t) =>
        if (!check(t)) wrong.add(s"last_timestamp $t")
        (true, 1L, 0L)
      case None => (false, 0L, 0L)
    }
  }

  /** One rollup-routable library read over a 1-day range: aligned ranges
    * route to the rollup, ranges shifted by 7 s fall back to raw.
    */
  final case class RollupRead(family: Int, day: Long, aligned: Boolean, pct: Int) {
    val from: Long = T0 + day * 86400L + (if (aligned) 0 else 7)
    val to: Long = from + 86399
    def run(useRollups: Boolean): Seq[Row] = (family match {
      case 0 => lib.readGrafanaMean(Db, Fine, from, to, 720, None, useRollups)
      case 1 => lib.readGrafanaStats(Db, Fine, from, to, 720, "m1", useRollups)
      case _ => lib.readQuantile(Db, Fine, from, to, 3600, pct, BinWidth, useRollups)
    }).collect().toSeq
  }

  protected val rollupAnswers = new java.util.concurrent.ConcurrentLinkedQueue[(RollupRead, Seq[Row])]()

  protected def rollupOp(r: RollupRead, keep: Boolean): Op = timed("rollup_read") {
    val rows = r.run(useRollups = true)
    if (keep) rollupAnswers.add(r -> rows)
    (rows.nonEmpty, rows.size.toLong, 0L)
  }

  /** Re-issue kept rollup-routed reads with `useRollups = false`. */
  protected def checkRollups(reissueBoth: Boolean): Seq[String] =
    rollupAnswers.asScala.toSeq.take(6).flatMap { case (r, got) =>
      val routed = if (reissueBoth) r.run(useRollups = true) else got
      val raw = r.run(useRollups = false)
      if (routed == raw) Nil else Seq(s"rollup read $r differs from raw")
    }

  protected def finePoints: Long = (fineEnd - T0) * FineMetrics.size

  def extra(ops: Seq[Op]): Map[String, Double] = Map("stored_bytes_per_point" ->
    storedBytesPerPoint(finePoints + DailyRows * DailyMetrics.size))
}

/** `dashboard`: three readers issue a fixed cyclic mix whose ranges and
  * routing are drawn from the seed: Grafana `/query` at 1 h, 6 h and 2 d
  * zoom (1 to 11 chunks) and over the daily sensor's 3 years, `/read_df`
  * over 1 h, `/last_timestamp`, and rollup-routable library reads, half
  * aligned (served from the rollup) and half misaligned (raw fallback).
  * Nothing writes. The mix is cyclic, not drawn, so that every seed
  * measures the same proportions of each operation.
  */
final class Dashboard(spark: SparkSession, dir: Path, seed: Long)
    extends DashboardBase(spark, dir, seed) {
  val Readers = 3
  private val rngs = (0 until Readers).map(c => new Random(seed * 17 + c))
  private val step = Array.tabulate(Readers)(c => c * 3)
  val Cycle = 10

  private def next(c: Int): Op = {
    val rng = rngs(c)
    val hour = rng.nextInt(Days * 24)
    val day = rng.nextInt(Days)
    val k = step(c) % Cycle
    step(c) += 1
    k match {
      case 0 => grafanaOp(T0 + hour * 3600L, 3600, 600)
      case 1 => grafanaOp(T0 + (hour / 6) * 6 * 3600L, 6 * 3600, 600)
      case 2 => grafanaOp(T0, Days * 86400L, 600)
      case 3 => readDfOp(T0 + hour * 3600L)
      case 4 => lastTsOp(_ == fineEnd - 1)
      case 5 => dailyGrafanaOp()
      case _ => rollupOp(RollupRead(k % 3, day, (k + c) % 2 == 0, 50 + 40 * rng.nextInt(2)),
        keep = rng.nextInt(4) == 0)
    }
  }

  def setup(): Map[String, Double] = {
    val lr = loadAndRollup()
    val t = System.nanoTime()
    // every operation shape once, spread over the readers
    val warm = Seq[() => Op](
      () => grafanaOp(T0, 3600, 600), () => grafanaOp(T0, Days * 86400L, 600),
      () => dailyGrafanaOp(), () => readDfOp(T0), () => lastTsOp(_ => true),
      () => rollupOp(RollupRead(0, 0, true, 50), false),
      () => rollupOp(RollupRead(1, 0, false, 50), false),
      () => rollupOp(RollupRead(2, 0, true, 50), false),
      () => rollupOp(RollupRead(0, 0, false, 90), false))
    val q = new java.util.concurrent.ConcurrentLinkedQueue(warm.asJava)
    val threads = (0 until Readers).map { _ =>
      val th = new Thread(() => {
        var f = q.poll()
        while (f != null) {
          if (!f().ok) throw new IllegalStateException("warm-up read failed")
          f = q.poll()
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    lr + ("warm_s" -> (System.nanoTime() - t) / 1e9)
  }

  def window(seconds: Double): Seq[Op] = closedLoop(Readers, seconds)(next)

  def check(): Seq[String] = {
    val rng = new Random(seed * 7)
    val ticks = Seq.fill(300)(T0 + rng.nextLong(fineEnd - T0)).distinct.sorted
    wrong.asScala.toSeq.take(20) ++ checkRollups(reissueBoth = false) ++
      checkSample(Fine, ticks, FineMetrics, fineValue)
  }
}

/** `mixed`: the `dashboard` setup with every rollup family present; one
  * writer appends 2000-line batches at the live edge of the 1 s sensor
  * (so each write refreshes four rollup families) while two readers query
  * the recent window across that edge.
  */
final class Mixed(spark: SparkSession, dir: Path, seed: Long)
    extends DashboardBase(spark, dir, seed) {
  val Lines = 2000
  val Readers = 2
  private val rngs = (0 until Readers).map(c => new Random(seed * 23 + c))
  @volatile private var acked = 0L

  private def writeOp(): Op = {
    val from = fineEnd
    val lines = (0 until Lines).map { i =>
      val t = from + i
      s"$Db,id=$Fine " + FineMetrics.zipWithIndex.map { case (m, k) =>
        s"$m=${Values.of(seed, t, k)}" }.mkString(",") + s" ${t}000000000"
    }
    // readers may see the batch before the ack: accept values up to its end
    fineEnd = from + Lines
    val op = timed("write") { (http.write(lines), 0L, 0L) }
    if (op.ok) acked = fineEnd
    op.copy(rowsIngested = Lines, pointsIngested = Lines.toLong * FineMetrics.size)
  }

  private def read(c: Int): Op = {
    val rng = rngs(c)
    val edge = T0 + Days * 86400L
    rng.nextInt(8) match {
      case 0 | 1 | 2 => grafanaOp(edge - 1800, 3600, 600)
      case 3 | 4 => grafanaOp(edge - 86400 + 3600, 86400, 600)
      case 5 => lastTsOp(t => t >= edge - 1 && t < fineEnd)
      case _ => rollupOp(RollupRead(rng.nextInt(3), Days - 1, rng.nextBoolean(), 90),
        keep = rng.nextInt(3) == 0)
    }
  }

  def setup(): Map[String, Double] = {
    val lr = loadAndRollup()
    val t = System.nanoTime()
    // reads first, then writes: the warm-up itself never races
    Seq[() => Op](
      () => grafanaOp(T0, 3600, 600), () => grafanaOp(T0, 86400, 600),
      () => lastTsOp(_ => true),
      () => rollupOp(RollupRead(0, 0, true, 90), false),
      () => rollupOp(RollupRead(1, 0, false, 90), false),
      () => rollupOp(RollupRead(2, 0, true, 90), false),
      () => writeOp(), () => writeOp()
    ).foreach(f => if (!f().ok) throw new IllegalStateException("warm-up operation failed"))
    lr + ("warm_s" -> (System.nanoTime() - t) / 1e9)
  }

  def window(seconds: Double): Seq[Op] =
    closedLoop(Readers + 1, seconds)(c => if (c == Readers) writeOp() else read(c))

  override protected def finePoints: Long = (acked - T0) * FineMetrics.size

  def check(): Seq[String] = {
    fineEnd = acked
    val rng = new Random(seed * 7)
    val recent = Seq.fill(150)(acked - 1 - rng.nextLong(86400)).distinct
    val older = Seq.fill(150)(T0 + rng.nextLong(acked - T0)).distinct
    wrong.asScala.toSeq.take(20) ++ checkRollups(reissueBoth = true) ++
      checkSample(Fine, (recent ++ older).distinct.sorted, FineMetrics, fineValue)
  }
}
