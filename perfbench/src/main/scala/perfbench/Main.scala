package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark workload: set up once, then measured in closed-loop
  * windows, then checked.
  */
trait Workload {
  /** Load and warm-up phases, seconds: `load_s`, `rollup_s`, `warm_s`. */
  def setup(): Map[String, Double]
  def window(seconds: Double): Seq[Op]
  /** Output-check failures found after the windows; empty when correct. */
  def check(): Seq[String]
  /** Workload-specific end-to-end figures for the record. */
  def extra(ops: Seq[Op]): Map[String, Double]
  /** `ops` with the response sizes that are measured after the window. */
  def withResponseBytes(ops: Seq[Op]): Seq[Op] = ops
  def close(): Unit
}

/** Entry point: `--workload <ingest|dashboard|mixed|board> --seed <n>
  * --seconds <s> --trace <0|1> --dir <scratch dir> --data <sf dir>
  * --record <json path> --cpus <n>`. The last line of stdout
  * is the result object; the full record goes to `--record`.
  */
object Main {
  val Workloads = Seq("ingest", "dashboard", "mixed", "board")

  /** Unit of every metric the record may carry. */
  def unitOf(name: String): String = name match {
    case "ops_per_s" => "ops/s"
    case "write_pts_per_s" => "pts/s"
    case "peak_rss_mb" => "MB"
    case n if n.contains("_per_user_byte") || n.contains("_per_row_") ||
        n.startsWith("trace.") || n.contains("ratio") || n == "failed_frac" => "ratio"
    case n if n.endsWith("_ms") || n.contains("_ms.") || n.contains("_ms_per_") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.contains("bytes") || n.contains("per_point") => "B"
    case _ => "count"
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val dir = Paths.get(a("dir"))
    val cpus = a.getOrElse("cpus", "4").toInt
    val loadBefore = loadAvg()

    val spark = session(workload, cpus, dir)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, dir, seed)
      case "dashboard" => new Dashboard(spark, dir, seed)
      case "mixed" => new Mixed(spark, dir, seed)
      case "board" => new Board(spark, a("data"), seed)
    }
    val phases = Map("session_s" -> sessionS) ++ w.setup()
    val setupS = phases.values.sum
    System.err.println(s"[perfbench] setup phases $phases")

    def windowed(): (Seq[Op], Double) = {
      val w0 = System.currentTimeMillis().toDouble
      val ops = w.window(seconds)
      // op times are epoch ms
      (ops, 1000 * Stats.windowThroughput(w0, ops.groupBy(_.client).values.map(_.map(_.end)).toSeq))
    }
    val (ops, opsPerS) = windowed()

    var layer = Map.empty[String, Double]
    if (traced) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      val from = System.currentTimeMillis().toDouble
      val (tOps, tRate) = windowed()
      val to = System.currentTimeMillis().toDouble
      t.drain()
      // requests re-sent here start after `to`, so no job of theirs is counted
      layer = t.summary(w.withResponseBytes(tOps), from, to) ++
        phases.map { case (k, v) => s"setup.$k" -> v } +
        ("trace.overhead" -> (if (opsPerS > 0) tRate / opsPerS else 0.0))
    }

    val failures = w.check()
    val extra = w.extra(ops)
    w.close()
    spark.stop()

    val lat = ops.map(_.ms)
    val failed = ops.count(!_.ok)
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> opsPerS,
      "op_p50_ms" -> (if (lat.nonEmpty) Stats.median(lat) else 0.0))
    val record = e2e ++ perKind(ops, seconds) ++ extra ++ Map(
      "peak_rss_mb" -> peakRssMb(),
      "failed_frac" -> failed.toDouble / ops.size.max(1))
    val correct = failures.isEmpty && ops.nonEmpty
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))

    val stamp = Map(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> traced.toString,
      "code" -> Json.str(a.getOrElse("code", "unknown")),
      "spark_graft_cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
      "cpus" -> cpus.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "load_before" -> loadBefore.toString, "load_after" -> loadAvg().toString,
      "samples" -> ops.groupBy(_.kind).map { case (k, v) => Json.str(k) + ":" + v.size }
        .mkString("{", ",", "}"),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> Json.metrics(record),
      "per_layer" -> Json.metrics(layer))
    val recordJson = stamp.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    a.get("record").foreach(p => Files.write(Paths.get(p), recordJson.getBytes(StandardCharsets.UTF_8)))
    println(recordJson)
    val reported = if (traced) layer else e2e
    println(s"""{"correct":$correct,"attempted":${ops.size},"failed":$failed,""" +
      s""""metrics":${Json.metrics(reported)}}""")
    System.out.flush()
    sys.exit(0)
  }

  /** The TSDB workloads get the session `graft.Main serve` builds; `board`
    * gets the one `graft.Bench` builds for the board. Both keep Spark's
    * local and warehouse dirs inside the run's scratch dir.
    */
  def session(workload: String, cpus: Int, dir: java.nio.file.Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
    if (workload == "board") {
      b.config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(if (workload == "board") "ERROR" else "WARN")
    spark
  }

  /** Per-kind end-to-end figures for the record. */
  def perKind(ops: Seq[Op], seconds: Double): Map[String, Double] = {
    ops.groupBy(_.kind).flatMap { case (k, os) =>
      val lat = os.map(_.ms)
      Seq(s"${k}_p50_ms" -> Stats.median(lat)) ++
        Stats.supportedTail(lat.size).filter(_ > 50)
          .map(p => s"${k}_p${p}_ms" -> Stats.percentile(lat, p)) ++
        (if (k == "write") Seq("write_pts_per_s" ->
          os.filter(_.ok).map(_.pointsIngested).sum / seconds) else Nil)
    }
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def peakRssMb(): Double = {
    val it = scala.io.Source.fromFile("/proc/self/status")
    try it.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally it.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def metrics(m: Map[String, Double]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
    s"""${str(k)}:{"value":${num(v)},"unit":${str(Main.unitOf(k))}}"""
  }.mkString("{", ",", "}")
}
