package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType, StructField, StructType, TimestampType}

import graft.core.{CommitLog, Freq, Grid}
import graft.expr.RowChecksum
import graft.ingest.{Pivot, Upsert}

/** Parquet-backed sensor store — the engine's replacement for the
  * reference's chunk-file database (`database.py` + `fileutils.py`).
  *
  * Layout (mirrors the reference's BASE_DIR/db/sensor tree,
  * `fileutils.py:274-308`, with parquet files instead of chunk files):
  * {{{
  *   baseDir/<db>/<sensor>/_commit/v<V>.json
  *   baseDir/<db>/<sensor>/data/chunk_start=<epoch>/v<V>/part-*.parquet
  *   baseDir/<db>/<sensor>/<rollup dir>/chunk_start=<epoch>/v<V>/part-*.parquet
  * }}}
  *
  * A sensor's state is its commit record ([[SensorVersion]], committed
  * by [[graft.core.CommitLog]]): the config, each chunk's data files and
  * each materialized rollup's per-chunk files. A write puts its files
  * under the new version's own directories, never over a file a record
  * lists, and then commits one record, so the config of a schema
  * evolution, the data and the refreshed rollups become visible
  * together — the reference's tmp-file + `os.replace`
  * (`fileutils.py:325-360`) for a whole version. The files only older
  * records list are deleted once those records are pruned, one commit
  * later, so a reader that resolved the previous version can finish.
  *
  * A chunk spans `tick * 2^14` seconds exactly like the reference
  * (`chunker.py:97-104`). A read resolves the record once and reads the
  * files of the chunks its range touches, with the schema from the
  * config: no directory listing, no footer inference.
  *
  * Scale design:
  *  - a write rewrites only the chunks the batch intersects, so upsert
  *    cost is O(batch ∩ chunks), not O(table);
  *  - the read-modify-write merge (A-5) shuffles on the tick slot only
  *    within those chunks;
  *  - schema evolution (A-8) never rewrites history: the new metric's
  *    fill value is recorded in the config (`MetricDef.fill/since`) and
  *    applied lazily on read to pre-evolution chunks — the reference's
  *    rewrite-every-chunk (`database.py:366-423`) would be a full-table
  *    write at 100 TB;
  *  - values are float32 (FloatType) like the reference
  *    (`__init__.py:26-28`): halves scan bytes vs double.
  *
  * Concurrency: every mutation runs under the sensor's writer lock, the
  * reference's per-sensor process lock (`database.py:154-168`). Readers
  * take no lock: they read the files of a committed version.
  */
class SensorStore(spark: SparkSession, baseDir: String) {

  private def sensorDir(db: String, sensor: String) = s"$baseDir/$db/$sensor"
  private def log(db: String, sensor: String) =
    new CommitLog(sensorDir(db, sensor), SensorVersion.chunkDirs)

  // ---- catalog (B-11) ------------------------------------------------

  /** Create the sensor at version 1, or commit `cfg` as a new version
    * of an existing one (its files unchanged).
    */
  def createSensor(cfg: SensorConfig): Unit =
    if (existsSensor(cfg.db, cfg.sensor))
      updateConfig(cfg.db, cfg.sensor)(_ => cfg)
    else {
      Files.createDirectories(Paths.get(sensorDir(cfg.db, cfg.sensor)))
      log(cfg.db, cfg.sensor).commit(1L,
        SensorVersion(1L, cfg, Map.empty, Nil).toJValue)
    }

  /** Commit `f` of the current config as a new version, under the
    * writer lock, so it cannot drop a metric a concurrent write adds.
    */
  def updateConfig(db: String, sensor: String)(
      f: SensorConfig => SensorConfig): Unit =
    withWriterLock(db, sensor) {
      val prev = resolve(db, sensor)
      commit(prev.copy(version = prev.version + 1, config = f(prev.config)))
    }

  /** The sensor's current version: what one request reads. */
  def resolve(db: String, sensor: String): SensorVersion = {
    if (!Files.isDirectory(Paths.get(s"$baseDir/$db")))
      throw new graft.core.DbNotFoundException(db)
    log(db, sensor).current() match {
      case Some((v, j)) => SensorVersion.fromJValue(v, j)
      case None => throw new graft.core.SensorNotFoundException(db, sensor)
    }
  }

  def config(db: String, sensor: String): SensorConfig =
    resolve(db, sensor).config

  private def requireSensor(db: String, sensor: String): Unit = {
    if (!Files.isDirectory(Paths.get(s"$baseDir/$db")))
      throw new graft.core.DbNotFoundException(db)
    if (!existsSensor(db, sensor))
      throw new graft.core.SensorNotFoundException(db, sensor)
  }

  def existsSensor(db: String, sensor: String): Boolean =
    log(db, sensor).versions.nonEmpty

  def listDbs(): Seq[String] = listDir(baseDir)

  def listSensors(db: String): Seq[String] = listDir(s"$baseDir/$db")

  def deleteSensor(db: String, sensor: String): Unit =
    CommitLog.rmTree(Paths.get(sensorDir(db, sensor)))

  /** Reference `delete_db` (`database.py:215` shutil.rmtree): removes
    * every sensor AND the db directory itself, so existsDb goes false.
    */
  def deleteDb(db: String): Unit = CommitLog.rmTree(Paths.get(s"$baseDir/$db"))

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

  // ---- files and commits ---------------------------------------------

  private def rawSchema(metrics: Seq[String]): StructType =
    StructType(StructField("chunk_start", LongType) ::
      StructField("slot", LongType) ::
      metrics.toList.map(StructField(_, FloatType)) :::
      StructField("checksum", FloatType) :: Nil)

  /** The rows of `files` (relative to the sensor dir, all under the
    * `root` dir) with exactly `schema`: a column a file lacks reads
    * null. Partition discovery reads `chunk_start` from the paths.
    */
  private def load(cfg: SensorConfig, root: String, schema: StructType,
                   files: Iterable[String]): DataFrame = {
    val dir = sensorDir(cfg.db, cfg.sensor)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).option("basePath", s"$dir/$root")
      .parquet(files.map(f => s"$dir/$f").toSeq: _*)
      .select(schema.fieldNames.toSeq.map(graft.core.Cols.q): _*)
  }

  /** Data rows of `files` as `chunk_start, slot, <metrics>, checksum`,
    * each metric's evolution fill applied to its pre-`since` chunks (a
    * metric `cfg` lacks reads null).
    */
  private def readRaw(cfg: SensorConfig, files: Iterable[String],
                      metrics: Seq[String]): DataFrame = {
    val df = load(cfg, "data", rawSchema(cfg.metricNames), files)
    val cols = metrics.map { m =>
      val md = cfg.metrics.find(_.name == m)
      val raw = if (md.isDefined) graft.core.Cols.q(m)
        else lit(null).cast(FloatType)
      (md.flatMap(_.fill), md.flatMap(_.since)) match {
        case (Some(f), Some(since)) =>
          when(col("chunk_start") < since && raw.isNull, lit(f).cast(FloatType))
            .otherwise(raw).as(m)
        case _ => raw.as(m)
      }
    }
    df.select(col("chunk_start") +: col("slot") +: cols :+ col("checksum"): _*)
  }

  private def allFiles(v: SensorVersion): Iterable[String] = v.data.values.flatten

  /** Write `df`'s chunks as version `ver` of the sensor's file `root`
    * (`data` or a rollup's dir), each to `<root>/chunk_start=<C>/v<ver>/`
    * — a torn earlier attempt at the same version is replaced, a listed
    * file is never touched — and return the files put down, per chunk.
    * One partitioned write lands in `_stage/`, then each chunk directory
    * moves into place: under `<root>` only `chunk_start` is a partition
    * directory, so partition discovery reads every version alike.
    */
  private def put(df: DataFrame, db: String, sensor: String, root: String,
                  ver: Long, codec: Option[String] = None): Map[Long, Seq[String]] = {
    val dir = Paths.get(sensorDir(db, sensor))
    val stage = dir.resolve(s"_stage/$root")
    val w = df.repartition(col("chunk_start")).write.mode("overwrite")
    codec.fold(w)(w.option("compression", _))
      .partitionBy("chunk_start").parquet(stage.toString)
    def children(p: java.nio.file.Path) = {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    val out = children(stage).filter(_.startsWith("chunk_start=")).map { c =>
      val rel = s"$root/$c/v$ver"
      val target = dir.resolve(rel)
      CommitLog.rmTree(target)
      Files.createDirectories(target.getParent)
      Files.move(stage.resolve(c), target)
      c.stripPrefix("chunk_start=").toLong -> children(target)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .sorted.map(n => s"$rel/$n")
    }.toMap
    CommitLog.rmTree(stage)
    out
  }

  /** The stored data columns: the metric's LEVEL TUPLE rides in the
    * parquet footer (Spark stores field metadata in the schema
    * key-value), so the files are self-describing MultiIndex columns
    * for any external reader. Levels are immutable per metric; the
    * MUTABLE level NAMES (set_level_names) stay in the config.
    */
  private def stored(cfg: SensorConfig, df: DataFrame): DataFrame =
    df.select(col("chunk_start") +: col("slot") +:
      cfg.metrics.map(m =>
        graft.core.Cols.q(m.name).cast(FloatType).as(m.name,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putStringArray("levels", m.levels.toArray).build()))
      :+ col("checksum"): _*)

  /** Commit `next` (its version already bumped); files no retained
    * record lists go with the prune and the sweep of every file root.
    */
  private def commit(next: SensorVersion): Unit = {
    val c = next.config
    log(c.db, c.sensor).commit(next.version, next.toJValue,
      Seq("_stage", "data") ++ next.rollups.map(r => r.kind.dirName(r.bucketSec)))
  }

  // ---- write path (A-3..A-8) -----------------------------------------

  /** Ingest a long-format batch: columns (ts timestamp, metric string,
    * value double) — a local frame from `GraftClient.writePoints`, or
    * any DataFrame (streaming, `writeDf`, bulk loads). One aggregate
    * over the snapped points finds the batch's metrics and the chunks
    * it touches before the pivot. Semantics of the reference write
    * path:
    *  - timestamps snap DOWN to the tick grid (A-6);
    *  - within a batch, the last row wins per (tick, metric) cell (A-4);
    *  - only non-NaN/non-null incoming cells overwrite stored cells
    *    (A-5);
    *  - unknown metrics trigger schema evolution with `fillValue` for
    *    pre-existing chunks (A-8);
    *  - a `checksum` column (row nansum, C-1) is (re)computed on write.
    *
    * The touched chunks are rewritten as version V+1's files, and every
    * materialized rollup re-aggregates them from those new files (all
    * chunks after an evolution: old rollup files lack the new column);
    * then one record commits config, data and rollups. Runs under the
    * writer lock. Returns the committed config.
    */
  def write(db: String, sensor: String, points: DataFrame,
            fillValue: Double = 0.0): SensorConfig = {
    val required = Seq("ts", "metric", "value")
    val missing = required.filterNot(points.columns.contains)
    if (missing.nonEmpty)
      throw new graft.core.InvalidDataWriteException(
        s"Points batch is missing column(s) ${missing.mkString(", ")} " +
          s"(needs $required) — reference col-count guard database.py:444-445")
    withWriterLock(db, sensor) {
      val prev = resolve(db, sensor)
      var cfg = prev.config
      val tick = cfg.tickSeconds
      val chunkDur = tick * Freq.ChunkRows

      // arrival order for last-write-wins within the batch
      val snapped = points.withColumn("_arrival", monotonically_increasing_id())
        .withColumn("slot", Grid.snap(col("ts"), tick))
        .withColumn("chunk_start", Grid.snapSeconds(col("slot"), chunkDur))

      // the batch's metrics (schema discovery, bounded by sensor width)
      // and the chunks it touches (only their files join the merge):
      // one aggregate, one metadata-sized collect
      val found = snapped.agg(collect_set("metric"), collect_set("chunk_start"))
        .head()
      val known = cfg.metricNames.toSet
      val newMetrics = found.getSeq[String](0).filterNot(known)
      if (newMetrics.nonEmpty) {
        val since = prev.data.keys.maxOption.fold(0L)(_ + chunkDur)
        cfg = cfg.copy(metrics = cfg.metrics ++ newMetrics.sorted.map(m =>
          MetricDef(Seq(m), fill = Some(fillValue), since = Some(since))))
      }
      val metrics = cfg.metricNames
      val touched = found.getSeq[Long](1)

      val incoming = Pivot.longToWide(snapped, Seq("chunk_start", "slot"),
        "metric", "value", "_arrival", metrics)
      val existing = readRaw(cfg, touched.flatMap(prev.data.getOrElse(_, Nil)),
          metrics)
        .select(Seq("chunk_start", "slot").map(col) ++
          metrics.map(graft.core.Cols.q): _*)

      val merged = Upsert.merge(existing, incoming,
        Seq("chunk_start", "slot"), metrics)
        .withColumn("checksum",
          RowChecksum.nansum(metrics.map(graft.core.Cols.q)).cast(FloatType))

      val ver = prev.version + 1
      val written = put(stored(cfg, merged), db, sensor, "data", ver)
      val data = prev.data ++ written
      // derived data stays derived: no version lists data a rollup has
      // not re-aggregated
      val rollups = prev.rollups.map { r =>
        if (newMetrics.nonEmpty)
          r.copy(chunks = putRollup(cfg, ver, r.kind, r.bucketSec, data.values.flatten))
        else r.copy(chunks = r.chunks -- written.keys ++
          putRollup(cfg, ver, r.kind, r.bucketSec, written.values.flatten))
      }
      commit(SensorVersion(ver, cfg, data, rollups))
      cfg
    }
  }

  // ---- writer serialization ------------------------------------------

  /** Run `f` holding the sensor's writer lock — the cross-process
    * analog of the reference's per-sensor process lock
    * (`database.py:154-168`), shared with [[graft.ext.DocStore]] via
    * [[graft.core.PathLock]] (token-checked exclusive create, stale
    * takeover by atomic rename, heartbeat — full discipline documented
    * there). Every mutation of the store runs under it, so versions
    * commit one at a time and the read-modify-write merge can never lose
    * an update; readers never need it.
    */
  def withWriterLock[T](db: String, sensor: String, timeoutMs: Long = 30000,
                        staleMs: Long = 600000)(f: => T): T = {
    // not-found first: the lock creates the directory it locks, which
    // would leave a missing sensor (and its db) behind as an empty dir
    requireSensor(db, sensor)
    graft.core.PathLock.withLock(sensorDir(db, sensor), s"$db/$sensor",
      timeoutMs, staleMs)(f)
  }

  /** Chunk starts the current version lists. */
  def listChunks(db: String, sensor: String): Seq[Long] =
    resolve(db, sensor).data.keys.toSeq.sorted

  /** Absolute paths of the current version's data files. */
  def dataFiles(db: String, sensor: String): Seq[String] =
    allFiles(resolve(db, sensor)).map(f => s"${sensorDir(db, sensor)}/$f").toSeq

  // ---- read path (B-1..B-8) ------------------------------------------

  /** Raw rows of `v` in `[fromSec, toSec]` (None ⇒ open end): only the
    * files of the chunks the range touches are read, and the chunk
    * bounds also reach the scan as partition filters.
    */
  private def readRange(v: SensorVersion, metrics: Seq[String],
                        fromSec: Option[Long],
                        toSec: Option[Long]): DataFrame = {
    val tick = v.config.tickSeconds
    val chunkDur = tick * Freq.ChunkRows
    val lo = fromSec.map { f => val fSnap = f - f % tick; fSnap - fSnap % chunkDur }
    val files = v.data.collect {
      case (c, fs) if lo.forall(c >= _) && toSec.forall(c <= _) => fs
    }.flatten
    var df = readRaw(v.config, files, metrics)
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
    * tick, ordered by ts. Reads the current version.
    */
  def read(db: String, sensor: String,
           fromSec: Option[Long] = None, toSec: Option[Long] = None,
           metrics: Option[Seq[String]] = None,
           validateChecksums: Boolean = false,
           atol: Double = 1e-3,
           nanForMissing: Boolean = false): DataFrame =
    readVersion(resolve(db, sensor), fromSec, toSec, metrics,
      validateChecksums, atol, nanForMissing)

  /** [[read]] of the resolved version `v`. */
  def readVersion(v: SensorVersion,
                  fromSec: Option[Long] = None, toSec: Option[Long] = None,
                  metrics: Option[Seq[String]] = None,
                  validateChecksums: Boolean = false,
                  atol: Double = 1e-3,
                  nanForMissing: Boolean = false): DataFrame =
    readUnordered(v, fromSec, toSec, metrics, validateChecksums, atol,
      nanForMissing).orderBy("ts")

  /** [[readVersion]] without its sort, for the engine's own callers
    * that aggregate the rows next or collect them and order the few
    * they keep: a global sort is a sampling job and a shuffle that no
    * such answer uses.
    */
  private[graft] def readUnordered(v: SensorVersion, fromSec: Option[Long],
      toSec: Option[Long], metrics: Option[Seq[String]],
      validateChecksums: Boolean = false, atol: Double = 1e-3,
      nanForMissing: Boolean = false): DataFrame = {
    val all = v.config.metricNames
    val wanted = metrics.getOrElse(all)
    var df = readRange(v, all, fromSec, toSec)
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
  }

  /** B-8: latest written tick as epoch seconds, None when empty. */
  def lastTimestamp(db: String, sensor: String): Option[Long] =
    lastTimestamp(resolve(db, sensor))

  /** Latest tick of `v`, read from its newest chunk's files only — the
    * reference reads just the last chunk file (`database.py:522-546`).
    * A top-1 collect is one job; a global aggregate would be two.
    */
  def lastTimestamp(v: SensorVersion): Option[Long] =
    v.data.keys.maxOption.flatMap { c =>
      load(v.config, "data", rawSchema(v.config.metricNames), v.data(c))
        .select(col("slot")).orderBy(col("slot").desc).head(1)
        .headOption.map(_.getLong(0))
    }

  /** Retention: drop every chunk that ends at or before `cutoffSec` —
    * whole-chunk granularity (a chunk straddling the cutoff stays, like
    * dropping whole days of a day-partitioned table) — from the data AND
    * every materialized rollup, so derived data never outlives its
    * source. No file is rewritten and no data is scanned: the new
    * version simply stops listing those chunks, and their files go one
    * commit later. Returns the dropped chunk starts.
    */
  def deleteBefore(db: String, sensor: String, cutoffSec: Long): Seq[Long] =
    withWriterLock(db, sensor) {
      val prev = resolve(db, sensor)
      val chunkDur = prev.config.tickSeconds * Freq.ChunkRows
      val dropped = prev.data.keys.filter(_ + chunkDur <= cutoffSec).toSeq.sorted
      if (dropped.nonEmpty)
        commit(prev.copy(version = prev.version + 1, data = prev.data -- dropped,
          rollups = prev.rollups.map(r => r.copy(chunks = r.chunks -- dropped))))
      dropped
    }

  /** D-3 migrate: re-encode the sensor's data with a different parquet
    * codec (the reference's gz↔zst chunk migration,
    * `fileutils.py:777-954`, collapses to one rewrite into a new
    * version — stored cells and checksums ride along unchanged, so
    * integrity is preserved by construction; the reference's backup +
    * checksum-gate dance exists because its rewrite wasn't atomic).
    */
  def migrateCompression(db: String, sensor: String, codec: String): Unit =
    withWriterLock(db, sensor) {
      val prev = resolve(db, sensor)
      if (prev.data.nonEmpty) {
        val cfg = prev.config
        val ver = prev.version + 1
        val data = put(stored(cfg, load(cfg, "data",
            rawSchema(cfg.metricNames), allFiles(prev))),
          db, sensor, "data", ver, Some(codec))
        commit(prev.copy(version = ver, data = data))
      }
    }

  // ---- rollups (see RollupKind) ---------------------------------------

  /** `kind`'s partials at `bucketSec` over the data `files`, written
    * as version `ver` of the rollup's files, per chunk.
    */
  private def putRollup(cfg: SensorConfig, ver: Long, kind: RollupKind,
                        bucketSec: Long,
                        files: Iterable[String]): Map[Long, Seq[String]] = {
    val ms = cfg.metricNames
    put(kind.partial(readRaw(cfg, files, ms), Seq("chunk_start"),
        kind.storedBucket(Grid.snapSeconds(col("slot"), bucketSec)), ms),
      cfg.db, cfg.sensor, kind.dirName(bucketSec), ver)
  }

  /** The schema of `kind`'s stored partials under `cfg`: the partial
    * over an empty raw frame, analysed but never run.
    */
  private def rollupSchema(cfg: SensorConfig, kind: RollupKind,
                           bucketSec: Long): StructType = {
    val ms = cfg.metricNames
    val s = kind.partial(readRaw(cfg, Nil, ms), Seq("chunk_start"),
      kind.storedBucket(Grid.snapSeconds(col("slot"), bucketSec)), ms).schema
    StructType(s.fields.map(_.copy(nullable = true)))
  }

  /** Materialize `kind` at `bucketSec` over every chunk, as a new
    * version (a rebuild replaces the rollup's files). Returns the
    * rollup's directory.
    */
  def materialize(db: String, sensor: String, kind: RollupKind,
                  bucketSec: Long): String = {
    withWriterLock(db, sensor) {
      val prev = resolve(db, sensor)
      val ver = prev.version + 1
      val r = RollupFiles(kind, bucketSec,
        putRollup(prev.config, ver, kind, bucketSec, allFiles(prev)))
      commit(prev.copy(version = ver,
        rollups = prev.rollups.filterNot(_.sameAs(kind, bucketSec)) :+ r))
    }
    s"${sensorDir(db, sensor)}/${kind.dirName(bucketSec)}"
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

  /** `kind`'s partials over the raw rows of `v` in `[fromSec, toSec]`,
    * grouped by `bucket` (an expression over the `slot` epoch seconds):
    * the raw route of a rollup-routed read. Unsorted, so nothing but
    * the aggregate runs over the raw rows.
    */
  def rawPartials(v: SensorVersion, kind: RollupKind, bucket: Column,
                  fromSec: Long, toSec: Long,
                  metrics: Seq[String]): DataFrame =
    kind.partial(readRange(v, metrics, Some(fromSec), Some(toSec)),
      Nil, bucket, metrics)

  /** Materialized rollups of a sensor as (kind, bucketSec), by bucket. */
  def listRollups(db: String, sensor: String): Seq[(RollupKind, Long)] =
    resolve(db, sensor).rollups.map(r => r.kind -> r.bucketSec)
      .sortBy { case (k, b) => (b, k.dirName(b)) }

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
    val v = resolve(db, sensor)
    readRollup(v, kind, bucketSec, coarseSec, fromSec, toSec,
      metrics.getOrElse(v.config.metricNames))
  }

  /** [[readRollup]] of the resolved version `v`: reads the rollup files
    * of the chunks the range touches.
    */
  def readRollup(v: SensorVersion, kind: RollupKind, bucketSec: Long,
                 coarseSec: Long, fromSec: Option[Long], toSec: Option[Long],
                 metrics: Seq[String]): DataFrame = {
    require(coarseSec % bucketSec == 0,
      s"coarse grid $coarseSec must be a multiple of the rollup grid $bucketSec")
    requireRollupAligned(bucketSec, fromSec, toSec)
    val cfg = v.config
    val r = v.rollups.find(_.sameAs(kind, bucketSec)).getOrElse(
      throw new IllegalArgumentException(
        s"${cfg.db}/${cfg.sensor} has no ${kind.dirName(bucketSec)} rollup"))
    val chunkDur = cfg.tickSeconds * Freq.ChunkRows
    val files = r.chunks.collect {
      case (c, fs) if fromSec.forall(c + chunkDur > _) && toSec.forall(c <= _) => fs
    }.flatten
    val bucket = kind.bucketSeconds
    var df = load(cfg, kind.dirName(bucketSec),
      rollupSchema(cfg, kind, bucketSec), files)
    fromSec.foreach(f => df = df.filter(bucket >= f))
    toSec.foreach(t => df = df.filter(bucket <= t))
    kind.finish(
      kind.merge(df, Grid.snapSeconds(bucket, coarseSec).as("cbucket"), metrics),
      timestamp_seconds(col("cbucket")), metrics)
  }

  // ---- maintenance ----------------------------------------------------

  /** Per-chunk integrity audit for the CLI `verify` subcommand
    * (reference `__main__.py:101-109` + the verify walk in
    * `fileutils.py:429-524`): recompute the row nansum and count rows
    * whose STORED checksum is present but outside the C-2 tolerance —
    * the parquet-era analog of the corrupt-chunk scan (a torn write is
    * never listed by a commit record, so value integrity is the only
    * corruption class left). Null stored checksums pass, matching
    * `read(validateChecksums = true)`.
    */
  def checksumAudit(db: String, sensor: String): DataFrame = {
    val v = resolve(db, sensor)
    val all = v.config.metricNames
    val bad = col("checksum").isNotNull &&
      !RowChecksum.isClose(
        RowChecksum.nansum(all.map(graft.core.Cols.q)), col("checksum"),
        rtol = 1e-5, atol = 1e-3)
    readRaw(v.config, allFiles(v), all)
      .groupBy(col("chunk_start"))
      .agg(count(lit(1)).as("rows_total"),
        count(when(bad, 1)).as("rows_corrupt"))
      .orderBy("chunk_start")
  }

  /** D-1 verify: per-chunk usage statistics. */
  def verifyStats(db: String, sensor: String): DataFrame = {
    val v = resolve(db, sensor)
    val tick = v.config.tickSeconds
    val metrics = v.config.metricNames
    val used = metrics.map { m =>
      val c = graft.core.Cols.q(m)
      c.isNotNull && !isnan(c)
    }.reduce(_ || _)
    graft.maint.VerifyStats.stats(
      readRaw(v.config, allFiles(v), metrics),
      Seq.empty, col("chunk_start"),
      ((col("slot") - col("chunk_start")) / tick).cast("long"), used)
  }
}
