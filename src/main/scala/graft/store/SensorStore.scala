package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, TimestampType}

import graft.core.{Freq, Grid}
import graft.expr.RowChecksum
import graft.ingest.{Pivot, Upsert}

/** Parquet-backed sensor store — the engine's replacement for the
  * reference's chunk-file database (`database.py` + `fileutils.py`).
  *
  * Layout (mirrors the reference's BASE_DIR/db/sensor tree,
  * `fileutils.py:274-308`, with parquet partitions instead of chunk
  * files):
  * {{{
  *   baseDir/<db>/<sensor>/CONFIG.JSON
  *   baseDir/<db>/<sensor>/data/chunk_start=<epoch>/part-*.parquet
  * }}}
  *
  * A chunk spans `tick * 2^14` seconds exactly like the reference
  * (`chunker.py:97-104`), but is a *partition*, so time-range reads are
  * pruned by the planner instead of filename arithmetic, and the
  * parquet job-commit protocol replaces tmp-file + os.replace atomicity
  * (`fileutils.py:325-360`).
  *
  * Scale design:
  *  - writes touch only the partitions the batch intersects (dynamic
  *    partition overwrite), so upsert cost is O(batch ∩ chunks), not
  *    O(table);
  *  - the read-modify-write merge (A-5) shuffles on the tick slot only
  *    within those partitions;
  *  - schema evolution (A-8) never rewrites history: the new metric's
  *    fill value is recorded in the config (`MetricDef.fill/since`) and
  *    applied lazily on read to pre-evolution chunks — the reference's
  *    rewrite-every-chunk (`database.py:366-423`) would be a full-table
  *    write at 100 TB;
  *  - values are float32 (FloatType) like the reference
  *    (`__init__.py:26-28`): halves scan bytes vs double.
  *
  * Concurrency: the reference serializes writers with a per-sensor
  * process lock (`database.py:154-168`); here a sensor expects one
  * writer job at a time (the usual Spark table contract) — concurrent
  * readers are always safe.
  */
class SensorStore(spark: SparkSession, baseDir: String) {

  private def sensorDir(db: String, sensor: String) = s"$baseDir/$db/$sensor"
  private def dataDir(db: String, sensor: String) = s"${sensorDir(db, sensor)}/data"
  private def configPath(db: String, sensor: String) =
    Paths.get(sensorDir(db, sensor), "CONFIG.JSON")

  // ---- catalog (B-11) ------------------------------------------------

  /** Write CONFIG.JSON whole: a temp file in the sensor dir, then an
    * atomic rename over the old one, so a reader (readers take no lock)
    * sees the old config or the new one, never a torn file.
    */
  def createSensor(cfg: SensorConfig): Unit = {
    val dir = Files.createDirectories(Paths.get(sensorDir(cfg.db, cfg.sensor)))
    val tmp = Files.write(
      dir.resolve(s"CONFIG.JSON.${java.util.UUID.randomUUID()}.tmp"),
      cfg.toJson.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, configPath(cfg.db, cfg.sensor),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def config(db: String, sensor: String): SensorConfig = {
    requireSensor(db, sensor)
    SensorConfig.fromJson(new String(
      Files.readAllBytes(configPath(db, sensor)), StandardCharsets.UTF_8))
  }

  private def requireSensor(db: String, sensor: String): Unit = {
    if (!Files.isDirectory(Paths.get(s"$baseDir/$db")))
      throw new graft.core.DbNotFoundException(db)
    if (!existsSensor(db, sensor))
      throw new graft.core.SensorNotFoundException(db, sensor)
  }

  def existsSensor(db: String, sensor: String): Boolean =
    Files.exists(configPath(db, sensor))

  def listDbs(): Seq[String] = listDir(baseDir)

  def listSensors(db: String): Seq[String] = listDir(s"$baseDir/$db")

  def deleteSensor(db: String, sensor: String): Unit =
    rmTree(Paths.get(sensorDir(db, sensor)))

  /** Reference `delete_db` (`database.py:215` shutil.rmtree): removes
    * every sensor AND the db directory itself, so existsDb goes false.
    */
  def deleteDb(db: String): Unit = rmTree(Paths.get(s"$baseDir/$db"))

  /** Recursive delete that closes each Files.list stream — an unclosed
    * stream leaks one fd per directory, which a long-lived driver
    * deleting many chunk partitions can exhaust.
    */
  private def rmTree(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(rmTree) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  private def listDir(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  // ---- write path (A-3..A-8) -----------------------------------------

  /** Ingest a long-format batch: columns (ts timestamp, metric string,
    * value double). Semantics of the reference write path:
    *  - timestamps snap DOWN to the tick grid (A-6);
    *  - within a batch, the last row wins per (tick, metric) cell (A-4);
    *  - only non-NaN/non-null incoming cells overwrite stored cells
    *    (A-5);
    *  - unknown metrics trigger schema evolution with `fillValue` for
    *    pre-existing chunks (A-8);
    *  - a `checksum` column (row nansum, C-1) is (re)computed on write.
    *
    * Returns the updated config.
    */
  def write(db: String, sensor: String, points: DataFrame,
            fillValue: Double = 0.0): SensorConfig = {
    val required = Seq("ts", "metric", "value")
    val missing = required.filterNot(points.columns.contains)
    if (missing.nonEmpty)
      throw new graft.core.InvalidDataWriteException(
        s"Points batch is missing column(s) ${missing.mkString(", ")} " +
          s"(needs $required) — reference col-count guard database.py:444-445")
    var cfg = config(db, sensor)
    val tick = cfg.tickSeconds
    val chunkDur = tick * Freq.ChunkRows

    // arrival order for last-write-wins within the batch
    val ordered = points.withColumn("_arrival", monotonically_increasing_id())

    // schema discovery: which metrics does the batch carry? (small,
    // bounded by sensor width — a metadata-sized collect)
    val batchMetrics = ordered.select("metric").distinct()
      .collect().map(_.getString(0)).toSeq
    val known = cfg.metricNames.toSet
    val newMetrics = batchMetrics.filterNot(known)
    if (newMetrics.nonEmpty) {
      val existingChunks = listChunks(db, sensor)
      val since = if (existingChunks.isEmpty) 0L
      else existingChunks.max + chunkDur
      cfg = cfg.copy(metrics = cfg.metrics ++ newMetrics.sorted.map(m =>
        MetricDef(Seq(m), fill = Some(fillValue), since = Some(since))))
      createSensor(cfg) // rewrite CONFIG.JSON
    }
    val metrics = cfg.metricNames

    val snapped = ordered
      .withColumn("slot", Grid.snap(col("ts"), tick))
      .withColumn("chunk_start", Grid.snapSeconds(col("slot"), chunkDur))
    val incoming = Pivot.longToWide(snapped, Seq("chunk_start", "slot"),
      "metric", "value", "_arrival", metrics)

    // only the touched partitions participate in the merge
    val touched = incoming.select("chunk_start").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val existing = readRaw(cfg, metrics)
      .filter(col("chunk_start").isin(touched: _*))
      .select(Seq("chunk_start", "slot").map(col) ++
        metrics.map(graft.core.Cols.q): _*)

    val merged = Upsert.merge(existing, incoming,
      Seq("chunk_start", "slot"), metrics)
      .withColumn("checksum",
        RowChecksum.nansum(metrics.map(graft.core.Cols.q)).cast(FloatType))
      .select(col("chunk_start") +: col("slot") +:
        cfg.metrics.map(m =>
          // persist the metric's LEVEL TUPLE into the parquet footer
          // (Spark stores field metadata in the schema key-value) so
          // the files are self-describing MultiIndex columns for any
          // external reader. Levels are immutable per metric, so the
          // metadata is identical across files and mergeSchema-safe;
          // the MUTABLE level NAMES (set_level_names) deliberately stay
          // out of the files and attach at read from CONFIG.
          graft.core.Cols.q(m.name).cast(FloatType).as(m.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putStringArray("levels", m.levels.toArray).build()))
        :+ col("checksum"): _*)

    overwritePartitions(merged, dataDir(db, sensor))
    // derived data stays derived: re-aggregate the touched chunk
    // partitions of every materialized rollup so no read can see a
    // pre-upsert rollup value (full rebuild when evolution widened
    // the schema — old rollup files lack the new column).
    refreshRollups(cfg, touched, fullRebuild = newMetrics.nonEmpty)
    cfg
  }

  // ---- writer serialization ------------------------------------------

  /** Run `f` holding the sensor's writer lock — the cross-process
    * analog of the reference's per-sensor process lock
    * (`database.py:154-168`), shared with [[graft.ext.DocStore]] via
    * [[graft.core.PathLock]] (token-checked exclusive create, stale
    * takeover by atomic rename, heartbeat — full discipline documented
    * there). With the lock, concurrent writers to ONE sensor serialize
    * and the read-modify-write merge can never lose an update; readers
    * never need the lock (parquet job commit keeps them consistent).
    */
  def withWriterLock[T](db: String, sensor: String, timeoutMs: Long = 30000,
                        staleMs: Long = 600000)(f: => T): T = {
    // not-found first: the lock creates the directory it locks, which
    // would leave a missing sensor (and its db) behind as an empty dir
    requireSensor(db, sensor)
    graft.core.PathLock.withLock(sensorDir(db, sensor), s"$db/$sensor",
      timeoutMs, staleMs)(f)
  }

  /** `write` under the sensor's writer lock — safe for concurrent
    * writer jobs targeting the same sensor.
    */
  def writeLocked(db: String, sensor: String, points: DataFrame,
                  fillValue: Double = 0.0): SensorConfig =
    withWriterLock(db, sensor) { write(db, sensor, points, fillValue) }

  /** Chunk partition values present on disk (driver-side listing — a
    * metadata op, like the reference's filename scan).
    */
  def listChunks(db: String, sensor: String): Seq[Long] = {
    val p = Paths.get(dataDir(db, sensor))
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("chunk_start="))
        .map(_.stripPrefix("chunk_start=").toLong).toSeq.sorted
      finally s.close()
    }
  }

  // ---- read path (B-1..B-8) ------------------------------------------

  /** Raw wide frame of `cfg`'s sensor with each of `metrics` present
    * as a column (lit null where no file carries it yet) and evolution
    * fills applied to pre-`since` chunks. No time filter.
    */
  private def readRaw(cfg: SensorConfig, metrics: Seq[String]): DataFrame = {
    val path = dataDir(cfg.db, cfg.sensor)
    if (listChunks(cfg.db, cfg.sensor).isEmpty) {
      // empty sensor: zero-row frame with the full schema
      import org.apache.spark.sql.types._
      val fields = StructField("chunk_start", LongType) ::
        StructField("slot", LongType) ::
        metrics.toList.map(StructField(_, FloatType)) :::
        StructField("checksum", FloatType) :: Nil
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(fields))
    }
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    val present = df.columns.toSet
    val cols = metrics.map { m =>
      val md = cfg.metrics.find(_.name == m)
      val raw = if (present(m)) graft.core.Cols.q(m)
        else lit(null).cast(FloatType)
      (md.flatMap(_.fill), md.flatMap(_.since)) match {
        case (Some(f), Some(since)) =>
          when(col("chunk_start") < since && raw.isNull, lit(f).cast(FloatType))
            .otherwise(raw).as(m)
        case _ => raw.as(m)
      }
    }
    df.select(col("chunk_start") +: col("slot") +: cols :+
      (if (present("checksum")) col("checksum") else lit(null).cast(FloatType)).as("checksum"): _*)
  }

  /** Raw rows in `[fromSec, toSec]` (None ⇒ open end); the chunk
    * bounds prune partitions.
    */
  private def readRange(cfg: SensorConfig, metrics: Seq[String],
                        fromSec: Option[Long],
                        toSec: Option[Long]): DataFrame = {
    val tick = cfg.tickSeconds
    val chunkDur = tick * Freq.ChunkRows
    var df = readRaw(cfg, metrics)
    fromSec.foreach { f =>
      val fSnap = f - f % tick
      df = df.filter(col("chunk_start") >= fSnap - fSnap % chunkDur &&
        col("slot") >= fSnap)
    }
    toSec.foreach { t =>
      df = df.filter(col("chunk_start") <= t && col("slot") <= t)
    }
    df
  }

  /** Time-range read (B-1/B-2): `[fromSec, toSec]` inclusive like the
    * reference's `read(start_ts, end_ts)`; None ⇒ open end. Output:
    * `ts` timestamp + requested metric columns, one row per written
    * tick, ordered by ts. Chunk pruning = partition pruning on
    * `chunk_start`.
    */
  def read(db: String, sensor: String,
           fromSec: Option[Long] = None, toSec: Option[Long] = None,
           metrics: Option[Seq[String]] = None,
           validateChecksums: Boolean = false,
           atol: Double = 1e-3,
           nanForMissing: Boolean = false): DataFrame = {
    val cfg = config(db, sensor)
    val all = cfg.metricNames
    val wanted = metrics.getOrElse(all)
    var df = readRange(cfg, all, fromSec, toSec)
    if (validateChecksums) {
      df = df.filter(RowChecksum.isClose(
        RowChecksum.nansum(all.map(graft.core.Cols.q)), col("checksum"),
        rtol = 1e-5, atol = atol))
    }
    // nanForMissing: reference float32 parity — unwritten cells read as
    // NaN instead of null (`database.py:456-461`); storage keeps nulls
    // (parquet RLE compresses them, NaN floats it cannot)
    val outCols = wanted.map { m =>
      if (nanForMissing)
        coalesce(graft.core.Cols.q(m), lit(Float.NaN).cast(FloatType)).as(m)
      else graft.core.Cols.q(m)
    }
    df.select(timestamp_seconds(col("slot")).cast(TimestampType).as("ts") +:
        outCols: _*)
      .orderBy("ts")
  }

  /** B-8: latest written tick as epoch seconds, None when empty. */
  def lastTimestamp(db: String, sensor: String): Option[Long] = {
    val chunks = listChunks(db, sensor)
    if (chunks.isEmpty) return None
    // prune to the newest chunk only — the reference reads just the
    // last chunk file (database.py:522-546)
    val cfg = config(db, sensor)
    val row = readRaw(cfg, cfg.metricNames)
      .filter(col("chunk_start") === chunks.max)
      .agg(max(col("slot"))).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Retention: drop every chunk partition that ends at or before
    * `cutoffSec` — whole-chunk granularity (a chunk straddling the
    * cutoff stays, like dropping whole days of a day-partitioned
    * table). The delete is PARTITION-DIRECTORY removal, applied to the
    * data table AND every materialized rollup (rollups share the
    * chunk_start partitioning, so derived data can never outlive its
    * source): no file is rewritten, no data is scanned — at 100 TB
    * retention is a metadata operation, which is the entire point of
    * partitioning by chunk. Returns the dropped chunk starts.
    */
  def deleteBefore(db: String, sensor: String, cutoffSec: Long): Seq[Long] = {
    val cfg = config(db, sensor)
    val chunkDur = cfg.tickSeconds * Freq.ChunkRows
    val dropped = listChunks(db, sensor).filter(_ + chunkDur <= cutoffSec)
    // a rollup surviving its deleted source chunks would keep serving
    // an aligned read over a retention-dropped range while the raw
    // fallback returns nothing, so every listed rollup is pruned
    val roots = dataDir(db, sensor) +: listRollups(db, sensor).map {
      case (k, b) => rollupDir(db, sensor, k, b)
    }
    for (root <- roots; c <- dropped)
      rmTree(Paths.get(s"$root/chunk_start=$c"))
    dropped
  }

  /** D-3 migrate: re-encode the sensor's data with a different parquet
    * codec (the reference's gz↔zst chunk migration,
    * `fileutils.py:777-954`, collapses to a partitioned rewrite —
    * checksum columns ride along unchanged, so integrity is preserved
    * by construction; the reference's backup + checksum-gate dance
    * exists because its rewrite wasn't atomic).
    */
  def migrateCompression(db: String, sensor: String, codec: String): Unit = {
    val src = dataDir(db, sensor)
    if (listChunks(db, sensor).isEmpty) return
    val tmp = s"$src.migrating"
    spark.read.option("mergeSchema", "true").parquet(src)
      .repartition(col("chunk_start"))
      .write.mode("overwrite")
      .option("compression", codec)
      .partitionBy("chunk_start")
      .parquet(tmp)
    // swap: the window without `data` is bounded by two renames
    val srcP = Paths.get(src)
    val oldP = Paths.get(s"$src.old")
    Files.move(srcP, oldP)
    Files.move(Paths.get(tmp), srcP)
    rmTree(oldP)
  }

  /** Replace only the chunk partitions `df` holds. Dynamic mode is a
    * per-write option, never the shared session conf: any concurrent
    * job can flip that conf, and a write committed in static mode
    * deletes every chunk it does not rewrite.
    */
  private def overwritePartitions(df: DataFrame, dir: String): Unit =
    df.repartition(col("chunk_start"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("chunk_start").parquet(dir)

  // ---- rollups (see RollupKind) ---------------------------------------

  private def rollupDir(db: String, sensor: String, kind: RollupKind,
                        bucketSec: Long): String =
    s"${sensorDir(db, sensor)}/${kind.dirName(bucketSec)}"

  /** Materialize `kind` at `bucketSec` under
    * `<sensor>/<kind.dirName(bucketSec)>/`, chunk-partitioned like the
    * data so refresh and retention work per chunk. A rebuild rewrites
    * every chunk (a static overwrite). Returns the directory.
    */
  def materialize(db: String, sensor: String, kind: RollupKind,
                  bucketSec: Long): String = {
    val out = rollupDir(db, sensor, kind, bucketSec)
    rollupPartials(config(db, sensor), kind, bucketSec, None)
      .repartition(col("chunk_start"))
      .write.mode("overwrite").partitionBy("chunk_start").parquet(out)
    out
  }

  // the per-family entry points existing callers use
  def materializeRollup(db: String, sensor: String, bucketSec: Long): String =
    materialize(db, sensor, RollupKind.First, bucketSec)
  def materializeMeanRollup(db: String, sensor: String,
                            bucketSec: Long): String =
    materialize(db, sensor, RollupKind.Mean, bucketSec)
  def materializeStatsRollup(db: String, sensor: String,
                             bucketSec: Long): String =
    materialize(db, sensor, RollupKind.Stats, bucketSec)
  def materializeQuantileRollup(db: String, sensor: String, bucketSec: Long,
                                binWidth: Double): String =
    materialize(db, sensor, RollupKind.Quantile(binWidth), bucketSec)

  /** `kind`'s partials per (chunk, bucket), optionally restricted to a
    * chunk subset (the unit of incremental refresh).
    */
  private def rollupPartials(cfg: SensorConfig, kind: RollupKind,
                             bucketSec: Long,
                             chunks: Option[Seq[Long]]): DataFrame = {
    val metrics = cfg.metricNames
    var raw = readRaw(cfg, metrics)
    chunks.foreach(c => raw = raw.filter(col("chunk_start").isin(c: _*)))
    kind.partial(raw, Seq("chunk_start"),
      kind.storedBucket(Grid.snapSeconds(col("slot"), bucketSec)), metrics)
  }

  /** `kind`'s partials over the raw rows in `[fromSec, toSec]`, grouped
    * by `bucket` (an expression over the `slot` epoch seconds): the raw
    * route of a rollup-routed read. Unsorted, so nothing but the
    * aggregate runs over the raw rows.
    */
  def rawPartials(db: String, sensor: String, kind: RollupKind,
                  bucket: Column, fromSec: Long, toSec: Long,
                  metrics: Seq[String]): DataFrame =
    kind.partial(
      readRange(config(db, sensor), metrics, Some(fromSec), Some(toSec)),
      Nil, bucket, metrics)

  /** Materialized rollups of a sensor as (kind, bucketSec), by bucket
    * (a directory listing — metadata only).
    */
  def listRollups(db: String, sensor: String): Seq[(RollupKind, Long)] =
    listDir(sensorDir(db, sensor)).flatMap(RollupKind.parse)
      .sortBy { case (k, b) => (b, k.dirName(b)) }

  /** Keep materialized rollups EXACT across upserts: re-aggregate only
    * the touched chunk partitions of every existing rollup (a dynamic
    * partition overwrite — O(touched chunks) work), or rebuild fully
    * when schema evolution added a column. Called from `write` so a
    * rollup can never silently serve pre-upsert values (ADVICE r2:
    * stale-rollup invalidation).
    */
  private def refreshRollups(cfg: SensorConfig, touched: Seq[Long],
                             fullRebuild: Boolean): Unit =
    listRollups(cfg.db, cfg.sensor).foreach { case (k, b) =>
      if (fullRebuild) materialize(cfg.db, cfg.sensor, k, b)
      else overwritePartitions(rollupPartials(cfg, k, b, Some(touched)),
        rollupDir(cfg.db, cfg.sensor, k, b))
    }

  /** Rollup read-range guard (r16 advice #4): BOTH bounds must sit on
    * the rollup grid — `fromSec % bucketSec == 0` and
    * `(toSec + 1) % bucketSec == 0` — because merged partials are
    * bucket-granular and cannot be trimmed post-hoc: a misaligned
    * fromSec would snap down a bucket and silently include readings
    * preceding it, and a misaligned toSec would keep the whole bucket
    * containing it and include readings after it (the symmetric bug).
    * GraftClient's routed read proves alignment before routing and
    * falls back to the raw scan otherwise, so routing changes cost,
    * never values.
    */
  private def requireRollupAligned(bucketSec: Long, fromSec: Option[Long],
                                   toSec: Option[Long]): Unit = {
    fromSec.foreach(f => require(f % bucketSec == 0,
      s"fromSec $f must align to the rollup grid $bucketSec"))
    toSec.foreach(t => require((t + 1) % bucketSec == 0,
      s"toSec $t must end on the rollup grid ((toSec+1) % $bucketSec == 0)"))
  }

  /** Read the materialized `kind` rollup at `bucketSec`, merged to the
    * `coarseSec` grid (a multiple of `bucketSec`) and finished: `ts` +
    * the kind's answer columns for `metrics` (default: every metric),
    * one row per coarse bucket in `[fromSec, toSec]`.
    */
  def readRollup(db: String, sensor: String, kind: RollupKind,
                 bucketSec: Long, coarseSec: Long,
                 fromSec: Option[Long] = None, toSec: Option[Long] = None,
                 metrics: Option[Seq[String]] = None): DataFrame = {
    require(coarseSec % bucketSec == 0,
      s"coarse grid $coarseSec must be a multiple of the rollup grid $bucketSec")
    requireRollupAligned(bucketSec, fromSec, toSec)
    val ms = metrics.getOrElse(config(db, sensor).metricNames)
    val bucket = kind.bucketSeconds
    var df = spark.read.parquet(rollupDir(db, sensor, kind, bucketSec))
    fromSec.foreach(f => df = df.filter(bucket >= f))
    toSec.foreach(t => df = df.filter(bucket <= t))
    kind.finish(
      kind.merge(df, Grid.snapSeconds(bucket, coarseSec).as("cbucket"), ms),
      timestamp_seconds(col("cbucket")), ms)
  }

  /** Per-chunk integrity audit for the CLI `verify` subcommand
    * (reference `__main__.py:101-109` + the verify walk in
    * `fileutils.py:429-524`): recompute the row nansum and count rows
    * whose STORED checksum is present but outside the C-2 tolerance —
    * the parquet-era analog of the corrupt-chunk scan (file-level
    * truncation can't survive parquet's atomic commit, so value
    * integrity is the only corruption class left). Null stored
    * checksums pass, matching `read(validateChecksums = true)`.
    */
  def checksumAudit(db: String, sensor: String): DataFrame = {
    val cfg = config(db, sensor)
    val all = cfg.metricNames
    val bad = col("checksum").isNotNull &&
      !RowChecksum.isClose(
        RowChecksum.nansum(all.map(graft.core.Cols.q)), col("checksum"),
        rtol = 1e-5, atol = 1e-3)
    readRaw(cfg, all)
      .groupBy(col("chunk_start"))
      .agg(count(lit(1)).as("rows_total"),
        count(when(bad, 1)).as("rows_corrupt"))
      .orderBy("chunk_start")
  }

  /** D-1 verify: per-chunk usage statistics. */
  def verifyStats(db: String, sensor: String): DataFrame = {
    val cfg = config(db, sensor)
    val tick = cfg.tickSeconds
    val metrics = cfg.metricNames
    val used = metrics.map { m =>
      val c = graft.core.Cols.q(m)
      c.isNotNull && !isnan(c)
    }.reduce(_ || _)
    graft.maint.VerifyStats.stats(
      readRaw(cfg, metrics),
      Seq.empty, col("chunk_start"),
      ((col("slot") - col("chunk_start")) / tick).cast("long"), used)
  }
}
