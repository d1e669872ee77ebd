package graft

import java.io.PrintStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.store.SensorStore

/** Operator-facing maintenance CLI — the analog of the reference's
  * `python -m ong_tsdb` entry point (`__main__.py:21-254`):
  *
  * {{{
  * sbt "runMain graft.Main verify  --base-dir DIR [--db NAME] [--corrupt-only]"
  * sbt "runMain graft.Main stats   --base-dir DIR [--db NAME]"
  * sbt "runMain graft.Main migrate --base-dir DIR [--db NAME]
  *                                 [--target zstd|gzip|snappy|none] [--force]"
  * }}}
  *
  * `verify` recomputes row checksums across every chunk and exits 1 if
  * any row fails the C-2 tolerance (the reference's corrupt-chunk scan,
  * `__main__.py:101-109`). `stats` prints the per-chunk usage summary
  * (D-1). `migrate` re-writes sensor data to a different parquet
  * compression codec — dry-run by default, `--force` applies, mirroring
  * the reference's default (`__main__.py:173-186`; the interactive
  * "type yes" prompt is dropped: Spark jobs run non-interactive, so
  * `--force` is the explicit consent).
  *
  * There is NO `repair` subcommand: the reference repairs truncated
  * chunk files (`__main__.py:110-172`) — a failure class the store's
  * atomic commit removes by construction (a commit record lists only
  * the files of a finished write). Row-value corruption, the class
  * that remains, is `verify`'s job. `--help` says so.
  */
object Main {

  private val usage =
    """usage: graft.Main <verify|stats|migrate|serve> [options]
      |
      |  verify   Recompute row checksums over every chunk; list corrupt
      |           chunks; exit 1 if any row fails the tolerance.
      |           --base-dir DIR   store root (required)
      |           --db NAME        only this database
      |           --corrupt-only   print only corrupt chunks
      |  stats    Per-chunk usage statistics (rows written / used / index
      |           bounds) for every sensor.
      |           --base-dir DIR   store root (required)
      |           --db NAME        only this database
      |  migrate  Re-write sensor data with a different parquet codec.
      |           DRY-RUN by default; --force applies. The rewrite
      |           commits as one new version of each sensor.
      |           --base-dir DIR   store root (required)
      |           --db NAME        only this database
      |           --target CODEC   zstd (default) | gzip | snappy | none
      |           --force          actually rewrite (consent flag; there
      |                            is no interactive prompt)
      |
      |  serve    Start the HTTP server (reference `server.py` routes:
      |           catalog, influx/msgpack ingest, read_df wire, Grafana).
      |           --base-dir DIR      store root (required)
      |           --admin-token TOK   admin key (required; per-sensor
      |                               read/write keys come from configs)
      |           --port N            listen port (default 5000)
      |
      |  There is no `repair`: the reference repairs truncated chunk
      |  files, a failure class the store's atomic commit removes by
      |  construction. Value-level corruption is what `verify` reports.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    val rc = run(args, spark, System.out)
    spark.stop()
    sys.exit(rc)
  }

  /** Testable entry: parses `args`, runs the subcommand, returns the
    * process exit code. All output goes through `out`.
    */
  def run(args: Array[String], spark: SparkSession,
          out: PrintStream): Int = {
    if (args.isEmpty || args(0) == "--help" || args(0) == "-h") {
      out.println(usage); return if (args.isEmpty) 2 else 0
    }
    val cmd = args(0)
    val opts = parseOpts(args.drop(1)) match {
      case Left(err) => out.println(s"error: $err"); out.println(usage)
        return 2
      case Right(o) => o
    }
    val baseDir = opts.baseDir.getOrElse {
      out.println("error: --base-dir is required"); out.println(usage)
      return 2
    }
    if (!Files.isDirectory(Paths.get(baseDir))) {
      out.println(s"error: base dir not found: $baseDir"); return 2
    }
    val store = new SensorStore(spark, baseDir)
    val dbs = opts.db.map(Seq(_)).getOrElse(store.listDbs())
    cmd match {
      case "verify" => verify(store, dbs, opts.corruptOnly, out)
      case "stats" => stats(store, dbs, out)
      case "serve" =>
        if (opts.adminToken.isEmpty) {
          out.println("error: serve requires --admin-token"); 2
        } else {
          val srv = new graft.server.GraftServer(spark, baseDir,
            opts.adminToken.get, opts.port)
          srv.start()
          out.println(s"[serve] listening on 127.0.0.1:${srv.boundPort} " +
            s"over $baseDir (Ctrl-C to stop)")
          // block until interrupted — the reference's WSGIServer
          // serve_forever (`server.py:501-513`)
          try Thread.currentThread().join()
          catch { case _: InterruptedException => () }
          srv.stop()
          0
        }
      case "migrate" => migrate(store, baseDir, dbs, opts.target,
        opts.force, out)
      case "repair" =>
        out.println("repair: not needed on this store — its " +
          "atomic commit cannot leave a truncated chunk visible. " +
          "Run `verify` for value-level integrity.")
        2
      case other =>
        out.println(s"error: unknown subcommand '$other'")
        out.println(usage)
        2
    }
  }

  private case class Opts(baseDir: Option[String] = None,
                          db: Option[String] = None,
                          target: String = "zstd",
                          corruptOnly: Boolean = false,
                          force: Boolean = false,
                          adminToken: Option[String] = None,
                          port: Int = 5000)

  private def parseOpts(args: Array[String]): Either[String, Opts] = {
    var o = Opts()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--base-dir" if i + 1 < args.length =>
          o = o.copy(baseDir = Some(args(i + 1))); i += 2
        case "--db" if i + 1 < args.length =>
          o = o.copy(db = Some(args(i + 1))); i += 2
        case "--target" if i + 1 < args.length =>
          val t = args(i + 1)
          if (!Set("zstd", "gzip", "snappy", "none")(t))
            return Left(s"bad --target '$t' (zstd|gzip|snappy|none)")
          o = o.copy(target = t); i += 2
        case "--admin-token" if i + 1 < args.length =>
          o = o.copy(adminToken = Some(args(i + 1))); i += 2
        case "--port" if i + 1 < args.length =>
          val p = scala.util.Try(args(i + 1).toInt).getOrElse(-1)
          if (p < 0 || p > 65535) return Left(s"bad --port '${args(i + 1)}'")
          o = o.copy(port = p); i += 2
        case "--corrupt-only" => o = o.copy(corruptOnly = true); i += 1
        case "--force" => o = o.copy(force = true); i += 1
        case other => return Left(s"unknown option '$other'")
      }
    }
    Right(o)
  }

  private def eachSensor(store: SensorStore, dbs: Seq[String])
      : Seq[(String, String)] =
    for (db <- dbs; sensor <- store.listSensors(db)
         if store.existsSensor(db, sensor))
      yield (db, sensor)

  private def verify(store: SensorStore, dbs: Seq[String],
                     corruptOnly: Boolean, out: PrintStream): Int = {
    var nCorruptRows = 0L
    var nChunks = 0L
    for ((db, sensor) <- eachSensor(store, dbs)) {
      // per-chunk counts: bounded collect (one row per chunk)
      val rows = store.checksumAudit(db, sensor).collect()
      nChunks += rows.length
      var sensorCorrupt = 0L
      rows.foreach { r =>
        // chunk_start is a partition column: parquet reads it back as
        // int when the value fits, so go through Number
        val chunk = r.getAs[Number](0).longValue
        val bad = r.getLong(2)
        sensorCorrupt += bad
        if (bad > 0)
          out.println(f"  CORRUPT $db/$sensor chunk=$chunk " +
            f"rows=${r.getLong(1)} bad=$bad")
        else if (!corruptOnly)
          out.println(f"  OK      $db/$sensor chunk=$chunk " +
            f"rows=${r.getLong(1)}")
      }
      if (!corruptOnly)
        out.println(s"$db/$sensor: ${rows.length} chunk(s), " +
          s"$sensorCorrupt corrupt row(s)")
      nCorruptRows += sensorCorrupt
    }
    out.println(s"verify: $nChunks chunk(s) scanned, " +
      s"$nCorruptRows corrupt row(s)")
    if (nCorruptRows > 0) 1 else 0
  }

  private def stats(store: SensorStore, dbs: Seq[String],
                    out: PrintStream): Int = {
    for ((db, sensor) <- eachSensor(store, dbs)) {
      val rows = store.verifyStats(db, sensor).orderBy("chunk").collect()
      rows.foreach { r =>
        out.println(f"  $db/$sensor chunk=${r.getAs[Number](0).longValue} " +
          f"rows_total=${r.getLong(1)} rows_used=${r.getLong(2)} " +
          f"min_idx=${if (r.isNullAt(3)) "-" else r.getLong(3).toString} " +
          f"max_idx=${if (r.isNullAt(4)) "-" else r.getLong(4).toString}")
      }
      out.println(s"$db/$sensor: ${rows.length} chunk(s), " +
        s"${rows.map(_.getLong(2)).sum} used row(s)")
    }
    0
  }

  private def migrate(store: SensorStore, baseDir: String,
                      dbs: Seq[String], target: String, force: Boolean,
                      out: PrintStream): Int = {
    // spark writer codec option ↔ the marker embedded in part-file names
    val codecOpt = if (target == "none") "uncompressed" else target
    def inTarget(file: String): Boolean =
      if (target == "none") !file.matches(""".*\.(zstd|gzip|gz|snappy|lz4|br|zlib)\.parquet""")
      else file.endsWith(s".$target.parquet") ||
        (target == "gzip" && file.endsWith(".gz.parquet"))
    val sensors = eachSensor(store, dbs)
    if (sensors.isEmpty) { out.println(s"No sensors found in $baseDir."); return 0 }
    var migrated = 0
    var skipped = 0
    for ((db, sensor) <- sensors) {
      val files = store.dataFiles(db, sensor).map(Paths.get(_).getFileName.toString)
      if (files.isEmpty) {
        out.println(s"  SKIP    $db/$sensor (no chunks)"); skipped += 1
      } else if (files.forall(inTarget)) {
        out.println(s"  SKIP    $db/$sensor (already $target, " +
          s"${files.length} file(s))")
        skipped += 1
      } else if (!force) {
        out.println(s"  DRY-RUN $db/$sensor would migrate " +
          s"${files.length} file(s) to $target")
        migrated += 1
      } else {
        store.migrateCompression(db, sensor, codecOpt)
        out.println(s"  MIGRATE $db/$sensor ${files.length} file(s) " +
          s"-> $target")
        migrated += 1
      }
    }
    if (force)
      out.println(s"Migrated $migrated sensor(s); skipped $skipped.")
    else {
      out.println(s"Dry run: would migrate $migrated sensor(s), skip " +
        s"$skipped. Run with --force to actually rewrite.")
    }
    0
  }
}
