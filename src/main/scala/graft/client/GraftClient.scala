package graft.client

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Grid
import graft.core.Wire.jstr
import graft.ingest.{Influx, Pivot, PointRow}
import graft.read.Downsample
import graft.store.{MetricDef, RollupKind, SensorConfig, SensorStore, SensorVersion}

/** Library façade mirroring the reference client's public surface
  * (`/root/reference/src/ong_tsdb/client.py` — `OngTsdbClient`), minus
  * the HTTP transport: a user of the reference can port call-for-call.
  *
  * | reference                      | here                         |
  * |--------------------------------|------------------------------|
  * | `create_db` / `exist_db`       | `createDb` / `existsDb`      |
  * | `create_sensor` (+keys, meta)  | `createSensor`               |
  * | `delete_sensor` / `delete_db`  | `deleteSensor` / `deleteDb`  |
  * | `write(seq_of_lines, fill)`    | `write(lines, fill)`         |
  * | `write_point_list`             | `writePoints(points, fill)`  |
  * | `write_df(db, sensor, df)`     | `writeDf` (wide frame)       |
  * | `read(db, sensor, f, t, m)`    | `read` → wide frame          |
  * | `read_grafana(...)`            | `readGrafana` → long frame   |
  * | `get_lasttimestamp`            | `lastTimestamp`              |
  * | `get_metadata`/`set_level_names`| `metadata` / `setLevelNames`|
  *
  * Every read and write passes the one access gate, [[authorize]].
  */
class GraftClient(spark: SparkSession, baseDir: String, token: String = "",
                  adminKey: String = "") {

  val store = new SensorStore(spark, baseDir)

  /** The token must equal one of `keys`, or the admin key when one is
    * set (`database.py:178` — "admin key is valid for any action"; the
    * server embedding sets it, the library default leaves it disabled).
    * Every comparison is an exact constant-time match: an empty key
    * matches only the empty token.
    */
  private def check(keys: Seq[String], what: String): Unit = {
    val tok = token.getBytes(StandardCharsets.UTF_8)
    def keyOk(k: String) =
      MessageDigest.isEqual(k.getBytes(StandardCharsets.UTF_8), tok)
    if (!(adminKey.nonEmpty && keyOk(adminKey)) && !keys.exists(keyOk))
      throw new graft.core.NotAuthorizedException(what)
  }

  /** The one access gate, the reference's `_check_auth`
    * (`database.py:170-187`): a write needs the sensor's write key, a
    * read its read or write key. Returns the version it resolved, so
    * the caller reads exactly the config and files the decision was
    * made on.
    */
  def authorize(db: String, sensor: String, write: Boolean): SensorVersion = {
    val v = store.resolve(db, sensor)
    val cfg = v.config
    if (write) check(Seq(cfg.writeKey), s"write $db/$sensor")
    else check(Seq(cfg.readKey, cfg.writeKey), s"read $db/$sensor")
    v
  }

  /** Catalog mutation (create/delete a db or sensor) is admin-only over
    * HTTP; the library's own catalog calls stay ungated.
    */
  def authorizeAdmin(what: String): Unit = check(Nil, what)

  // ---- catalog -------------------------------------------------------

  def createDb(db: String): Unit =
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$baseDir/$db"))

  def existsDb(db: String): Boolean = store.listDbs().contains(db)

  def createSensor(db: String, sensor: String, freq: String,
                   metrics: Seq[Seq[String]] = Seq.empty,
                   readKey: String = "", writeKey: String = "",
                   metadata: Map[String, String] = Map.empty): Unit = {
    createDb(db)
    store.createSensor(SensorConfig(db, sensor, freq,
      metrics.map(MetricDef(_)), metadata, readKey, writeKey))
  }

  def existsSensor(db: String, sensor: String): Boolean =
    store.existsSensor(db, sensor)

  def deleteSensor(db: String, sensor: String): Unit =
    store.deleteSensor(db, sensor)

  def deleteDb(db: String): Unit = store.deleteDb(db)

  def metadata(db: String, sensor: String): Map[String, String] =
    store.config(db, sensor).metadata

  /** Reference `get_metrics` (`client.py:415-418`). */
  def metrics(db: String, sensor: String): Seq[String] =
    store.config(db, sensor).metricNames

  /** Reference `update_token` (`client.py:149`): tokens are immutable
    * per client here — returns a new client bound to the new token and
    * the same admin key.
    */
  def updateToken(newToken: String): GraftClient =
    new GraftClient(spark, baseDir, newToken, adminKey)

  /** Reference `config_reload` (`client.py:384-390`): every access
    * resolves the sensor's current commit record, so reload is a no-op
    * kept for call-site parity.
    */
  def configReload(): Unit = ()

  /** Reference `get_lastdate` (`client.py:402-413`): the last written
    * tick as a wall-clock string in `tz` (region id or fixed offset).
    */
  def lastDate(db: String, sensor: String,
               tz: String = "UTC"): Option[String] =
    lastTimestamp(db, sensor).map { sec =>
      java.time.Instant.ofEpochSecond(sec)
        .atZone(java.time.ZoneId.of(tz))
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss"))
    }

  /** General metadata update (reference `update_metadata`,
    * `database.py:287-298`): REPLACES the sensor's metadata dict
    * wholesale, like the reference assignment — keys absent from
    * `newMetadata` are dropped (including `level_names`).
    */
  def updateMetadata(db: String, sensor: String,
                     newMetadata: Map[String, String]): Unit =
    rewriteConfig(db, sensor)(_.copy(metadata = newMetadata))

  /** Merge variant of [[updateMetadata]] for callers that want to patch
    * a few keys without re-supplying the whole dict: existing keys are
    * overwritten, others kept.
    */
  def mergeMetadata(db: String, sensor: String,
                    patch: Map[String, String]): Unit =
    rewriteConfig(db, sensor)(cfg => cfg.copy(metadata = cfg.metadata ++ patch))

  /** MultiIndex level names (reference `set_level_names`,
    * `client.py:493-503`): stored comma-joined in metadata.
    */
  def setLevelNames(db: String, sensor: String, names: Seq[String]): Unit =
    rewriteConfig(db, sensor)(cfg => cfg.copy(
      metadata = cfg.metadata + ("level_names" -> names.mkString(","))))

  /** A metadata change, write-gated like the reference's
    * `update_metadata`, committed by `SensorStore.updateConfig` under
    * the writer lock. The gate runs before the lock, so a refused
    * caller never waits for it.
    */
  private def rewriteConfig(db: String, sensor: String)(
      f: SensorConfig => SensorConfig): Unit = {
    authorize(db, sensor, write = true)
    store.updateConfig(db, sensor)(f)
  }

  def levelNames(db: String, sensor: String): Seq[String] =
    levelNamesOf(store.config(db, sensor))

  private def levelNamesOf(cfg: SensorConfig): Seq[String] =
    cfg.metadata.get("level_names").map(_.split(",").toSeq).getOrElse(Nil)

  /** Retention (extension — the reference never deletes data): drop
    * every whole chunk ending at or before `cutoffSec`, from the data
    * table and every materialized rollup. Destructive → write-key
    * gated like the other mutations. Returns the dropped chunk starts.
    */
  def deleteBefore(db: String, sensor: String, cutoffSec: Long): Seq[Long] = {
    authorize(db, sensor, write = true)
    store.deleteBefore(db, sensor, cutoffSec)
  }

  // ---- write ---------------------------------------------------------

  /** Ingest influx-protocol lines (reference `client.write`,
    * `client.py:337-370` → `server.write_point_list`): decoded on the
    * driver ([[graft.ingest.Influx.decode]]), a line without a
    * timestamp stamped with ingest time, then [[writePoints]]. A
    * malformed line raises `InfluxParseException` before anything is
    * written.
    */
  def write(lines: Seq[String], fillValue: Double = 0.0): Unit =
    writePoints(Influx.decode(lines, System.currentTimeMillis() / 1000),
      fillValue)

  /** The one write path of a decoded body, influx or msgpack — the
    * reference's `write_point_list` (`server.py:214-293`): points may
    * span several (db, sensor) pairs, grouped per sensor like the
    * server's `DbMeterData` (A-3), each group in arrival order. An empty
    * metric name refuses the body (`InvalidDataWriteException`), and
    * every target is authorized before the first write lands, so a
    * refused sensor leaves the whole body unwritten. Each group reaches
    * `store.write` as a local frame, locked like the reference server's
    * per-sensor process lock.
    */
  def writePoints(points: Seq[PointRow], fillValue: Double = 0.0): Unit = {
    import spark.implicits._
    points.find(_.metric.isEmpty).foreach(p =>
      throw new graft.core.InvalidDataWriteException(
        s"empty metric name in a point for ${p.db}/${p.sensor}"))
    val groups = points.groupBy(p => (p.db, p.sensor))
    val targets = points.map(p => (p.db, p.sensor)).distinct
    targets.foreach { case (db, sensor) => authorize(db, sensor, write = true) }
    targets.foreach { case t @ (db, sensor) =>
      store.write(db, sensor, groups(t).map(p => (p.ts_sec, p.metric, p.value))
        .toDF("ts_sec", "metric", "value")
        .select(timestamp_seconds(col("ts_sec")).as("ts"), col("metric"),
          col("value")), fillValue)
    }
  }

  /** Ingest a wide frame (`ts` + one column per metric) — reference
    * `write_df` (`client.py:372-382`): melt to points, then the normal
    * ingest path (A-7).
    */
  def writeDf(db: String, sensor: String, wide: DataFrame,
              fillValue: Double = 0.0): Unit = {
    authorize(db, sensor, write = true)
    val metrics = wide.columns.filterNot(_ == "ts").toSeq
    store.write(db, sensor, Pivot.wideToLong(wide, Seq("ts"), metrics)
      .select(col("ts"), col("metric"), col("value").cast("double")), fillValue)
  }

  // ---- read ----------------------------------------------------------

  /** Wide read (reference `client.read`/`local_read`): tick-grid rows
    * `ts, <metrics...>` in `[fromSec, toSec]`, ordered by ts.
    */
  def read(db: String, sensor: String,
           fromSec: Option[Long] = None, toSec: Option[Long] = None,
           metrics: Option[Seq[String]] = None): DataFrame = {
    store.readVersion(authorize(db, sensor, write = false), fromSec, toSec,
      metrics)
  }

  /** The `read_df` snapshot: the config of the version the gate
    * resolved and the wide frame of exactly its metrics, unwritten
    * cells as NaN (the reference's float32 parity), so a schema
    * evolution landing mid-request cannot make the metric list disagree
    * with the payload. The frame is unordered: the caller collects it
    * and orders the rows it got.
    */
  def readSnapshot(db: String, sensor: String, fromSec: Option[Long],
                   toSec: Option[Long]): (SensorConfig, DataFrame) = {
    val v = authorize(db, sensor, write = false)
    (v.config, store.readUnordered(v, fromSec, toSec,
      Some(v.config.metricNames), nanForMissing = true))
  }

  def lastTimestamp(db: String, sensor: String): Option[Long] =
    store.lastTimestamp(authorize(db, sensor, write = false))

  /** Tuple metrics exactly as the reference's `get_metrics` returns
    * them for a MultiIndex sensor — a list of level tuples
    * (`test_client.py:180-182`). Flat sensors return 1-element tuples.
    */
  def metricTuples(db: String, sensor: String): Seq[Seq[String]] =
    authorize(db, sensor, write = false).config.metrics.map(_.levels)

  /** The TRUE MultiIndex read (reference `client.py:545-547`): the
    * wide frame whose every metric column carries its LEVEL TUPLE and
    * the sensor's CURRENT level names as Spark column metadata — the
    * columnar analog of `pd.MultiIndex.from_tuples(metrics,
    * names=level_names)`. Level tuples are immutable and persisted in
    * the parquet footers at write (self-describing files); level NAMES
    * are mutable sensor metadata (`set_level_names`) and attach here
    * from CONFIG, so a rename is visible on the very next read without
    * touching a single data file — the reference's exact behavior
    * (`test_client.py:203-205`). [[multiIndex]] reconstructs
    * `(tuples, names)` from such a frame the way a pandas consumer
    * would.
    */
  def readMultiIndex(db: String, sensor: String,
                     fromSec: Option[Long] = None,
                     toSec: Option[Long] = None): DataFrame = {
    val v = authorize(db, sensor, write = false)
    val cfg = v.config
    val names = levelNamesOf(cfg)
    store.readVersion(v, fromSec, toSec, Some(cfg.metricNames)).select(
      col("ts") +: cfg.metrics.map { m =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .putStringArray("levels", m.levels.toArray)
        if (names.nonEmpty) b.putStringArray("level_names", names.toArray)
        graft.core.Cols.q(m.name).as(m.name, b.build())
      }: _*)
  }

  /** Reconstruct `(metric tuples, level names)` from a
    * [[readMultiIndex]] frame's column metadata — names + order, the
    * pandas-compatible MultiIndex identity.
    */
  def multiIndex(df: DataFrame): (Seq[Seq[String]], Seq[String]) = {
    val fs = df.schema.fields.filter(_.metadata.contains("levels"))
    (fs.map(_.metadata.getStringArray("levels").toSeq).toSeq,
      fs.headOption.filter(_.metadata.contains("level_names"))
        .map(_.metadata.getStringArray("level_names").toSeq)
        .getOrElse(Nil))
  }

  /** The one rollup route: the largest materialized grid `b` of `kind`
    * the query aligns to — `b` divides
    * the `coarse` output grid and both range ends sit on it
    * (`fromSec % b == 0`, `(toSec + 1) % b == 0`), because merged
    * partials are bucket-granular and cannot be trimmed. None — read
    * raw — when `useRollups` is off, `coarse` is None or nothing
    * aligns, so routing changes cost, never values.
    */
  private def route(v: SensorVersion, kind: RollupKind,
                    fromSec: Long, toSec: Long, coarse: Option[Long],
                    useRollups: Boolean): Option[Long] =
    if (!useRollups) None
    else coarse.flatMap(c => v.rollups.collect {
      case r if r.sameAs(kind, r.bucketSec) && r.bucketSec <= c &&
          c % r.bucketSec == 0 && fromSec % r.bucketSec == 0 &&
          (toSec + 1) % r.bucketSec == 0 => r.bucketSec
    }.maxOption)

  /** A routed aggregate read of `metrics` (default: every metric of
    * the authorized config): the merged `kind` rollup when one aligns
    * with `coarse`, else `kind`'s own partial and finish over the raw
    * rows, bucketed by `rawBucket` (of epoch seconds) and stamped
    * `rawTs` (of `cbucket`).
    */
  private def routedAggregate(db: String, sensor: String, kind: RollupKind,
                              fromSec: Long, toSec: Long,
                              coarse: Option[Long], useRollups: Boolean,
                              metrics: Option[Seq[String]],
                              rawBucket: Column => Column,
                              rawTs: Column): DataFrame = {
    val v = authorize(db, sensor, write = false)
    val ms = metrics.getOrElse(v.config.metricNames)
    route(v, kind, fromSec, toSec, coarse, useRollups) match {
      case Some(b) =>
        store.readRollup(v, kind, b, coarse.get, Some(fromSec), Some(toSec), ms)
      case None =>
        kind.finish(store.rawPartials(v, kind,
          rawBucket(col("slot")).as("cbucket"), fromSec, toSec, ms),
          rawTs, ms)
    }
  }

  /** The spread of a Grafana read when it is a whole number of seconds
    * (a fractional spread can never be a multiple of a rollup bucket).
    */
  private def integralSpread(fromSec: Long, toSec: Long,
                             maxDataPoints: Int): Option[Long] = {
    val span = toSec - fromSec + 1
    if (span % maxDataPoints == 0) Some(span / maxDataPoints) else None
  }

  /** A Grafana-style aggregate read on the reference's RELATIVE
    * float-spread grid anchored at `fromSec` (`server.py:430-434`):
    * bucket k = floor((sec - fromSec) / spread), so no bucket precedes
    * `fromSec` and at most maxDataPoints rows come back even when the
    * query is misaligned. A rollup's partials snap to the ABSOLUTE
    * spread grid, so the rollup route is offered only when
    * `fromSec % spread == 0` makes the two grids coincide.
    */
  private def spreadAggregate(db: String, sensor: String, kind: RollupKind,
                              fromSec: Long, toSec: Long, maxDataPoints: Int,
                              metrics: Option[Seq[String]],
                              useRollups: Boolean): DataFrame = {
    val spread = Downsample.spreadOf(fromSec, toSec, maxDataPoints)
    routedAggregate(db, sensor, kind, fromSec, toSec,
      integralSpread(fromSec, toSec, maxDataPoints)
        .filter(sp => fromSec % sp == 0),
      useRollups, metrics, Downsample.bucket(_, fromSec, spread),
      timestamp_seconds(lit(fromSec) +
        floor(col("cbucket") * lit(spread)).cast("long")))
  }

  /** Grafana-style downsampled read (reference `/query`,
    * `server.py:412-475` + `client.read_grafana`): per metric, first
    * value at/after each of `maxDataPoints` boundaries, long format
    * `(metric, value, ts_ms)`.
    *
    * ROLLUP ROUTING (the 100 TB dashboard path): when a first-value
    * rollup aligns with the query (see `route`, with the integral
    * spread as the coarse grid), the read is served from it — touching
    * bucketSec-times fewer rows. No rollup bucket then straddles the
    * range start or a spread boundary, so first-per-bucket over
    * first-per-rollup-bucket returns exactly the raw first VALUES; only
    * the reported timestamps coarsen to the rollup grid. Rollups are
    * refreshed on write, so they never serve pre-upsert data.
    * `useRollups = false` forces raw (exact timestamps).
    */
  def readGrafana(db: String, sensor: String, fromSec: Long, toSec: Long,
                  maxDataPoints: Int,
                  targets: Option[Seq[String]] = None,
                  useRollups: Boolean = true): DataFrame = {
    val v = authorize(db, sensor, write = false)
    val wanted = targets.getOrElse(v.config.metricNames)
    val wide = route(v, RollupKind.First, fromSec, toSec,
        integralSpread(fromSec, toSec, maxDataPoints), useRollups) match {
      case Some(b) =>
        store.readRollup(v, RollupKind.First, b, b, Some(fromSec),
          Some(toSec), wanted)
      case None =>
        store.readUnordered(v, Some(fromSec), Some(toSec), Some(wanted))
    }
    val withSec = wide.withColumn("sec", Grid.tsSeconds(col("ts")))
    val long = Pivot.wideToLong(withSec, Seq("sec"), wanted)
      .filter(!isnan(col("value")))
    Downsample.firstPerBucket(long, Seq("metric"), col("sec"),
        "value", "sec", fromSec, toSec, maxDataPoints)
      .select(col("metric"), col("first_value").as("value"),
        (col("first_ts") * 1000).as("ts_ms"))
      .orderBy("metric", "ts_ms")
  }

  /** Distinct-count dashboard read: per `coarseSec` bucket, the
    * approximate distinct VALUES per metric over the range
    * (`<metric>_distinct`), from a sketch rollup when one aligns, else
    * by sketching the raw rows. Union at a fixed lgK is lossless, so
    * both routes return identical estimates (GraftClientSpec pins
    * aligned equality and the unaligned-end fallback).
    */
  def readDistinct(db: String, sensor: String, fromSec: Long, toSec: Long,
                   coarseSec: Long, useRollups: Boolean = true): DataFrame =
    routedAggregate(db, sensor, RollupKind.Sketch, fromSec, toSec,
      Some(coarseSec), useRollups, None,
      Grid.snapSeconds(_, coarseSec), timestamp_seconds(col("cbucket")))

  /** Percentile dashboard read: per `coarseSec` bucket, the
    * bin-resolution type-1 quantile of each metric's values on the
    * fixed `binWidth` grid (`<metric>_p<pct>`), from a quantile rollup
    * of the same binWidth when one aligns, else by histogramming the
    * raw rows ON THE SAME GRID. Counts are exact integers and the rank
    * math is shared, so both routes return identical values —
    * quantization to binWidth is the operator's semantic, never a
    * route artifact.
    */
  def readQuantile(db: String, sensor: String, fromSec: Long, toSec: Long,
                   coarseSec: Long, pct: Int, binWidth: Double,
                   useRollups: Boolean = true): DataFrame =
    routedAggregate(db, sensor, RollupKind.Quantile(binWidth, pct), fromSec,
      toSec, Some(coarseSec), useRollups, None,
      Grid.snapSeconds(_, coarseSec), timestamp_seconds(col("cbucket")))

  /** SHARED-BOUNDARY Grafana downsample — the reference's exact
    * multi-target row-selection semantics (`server.py:444-459`): ONE
    * boundary advances for ALL targets. The server walks grid rows in
    * time order; the first ROW at/after each spread boundary is emitted
    * with every non-NaN target value AT THAT ROW (an all-NaN row still
    * advances the boundary), then the boundary jumps past it. Because
    * boundaries live on the fixed grid anchored at `fromSec`, the
    * emitted rows are exactly the first grid ROW of every non-empty
    * spread bucket — expressible as ONE hash aggregation (`min_by` of
    * the whole row struct per bucket), no sequential scan needed.
    *
    * This differs from [[readGrafana]] (per-target independent
    * bucketing) on sparse multi-metric sensors: here a metric that is
    * NaN on the bucket's first row contributes NOTHING for that bucket,
    * even if it has a later value inside it. One acknowledged
    * divergence from the reference loop (DETERMINISM.md): when a row
    * lands exactly ON a boundary the reference's `while start_t < dt`
    * fails to advance and re-emits the following row too, overshooting
    * maxDataPoints — a contract-breaking artifact we do not replicate.
    */
  def readGrafanaShared(db: String, sensor: String, fromSec: Long,
                        toSec: Long, maxDataPoints: Int,
                        targets: Option[Seq[String]] = None): DataFrame = {
    val v = authorize(db, sensor, write = false)
    shared(v, fromSec, toSec, maxDataPoints,
      targets.getOrElse(v.config.metricNames))
  }

  /** [[readGrafanaShared]] of `wanted` in the version the gate resolved. */
  private def shared(v: SensorVersion, fromSec: Long, toSec: Long,
                     maxDataPoints: Int, wanted: Seq[String]): DataFrame =
    Pivot.wideToLong(firstRows(v, fromSec, toSec, maxDataPoints, wanted),
        Seq("sec"), wanted)
      .filter(!isnan(col("value")))
      .select(col("metric"), col("value"), (col("sec") * 1000).as("ts_ms"))
      .orderBy("metric", "ts_ms")

  /** The first grid row of every non-empty spread bucket, unordered:
    * `sec` + the `wanted` cells — one aggregate over the unsorted range,
    * at most `maxDataPoints` rows.
    */
  private def firstRows(v: SensorVersion, fromSec: Long, toSec: Long,
                        maxDataPoints: Int, wanted: Seq[String]): DataFrame = {
    val wide = store.readUnordered(v, Some(fromSec), Some(toSec), Some(wanted))
    val spread = Downsample.spreadOf(fromSec, toSec, maxDataPoints)
    wide.withColumn("sec", Grid.tsSeconds(col("ts")))
      .withColumn("bucket", Downsample.bucket(col("sec"), fromSec, spread))
      .groupBy(col("bucket"))
      .agg(min_by(struct(col("sec") +: wanted.map(graft.core.Cols.q): _*),
        col("sec")).as("r"))
      .select(col("r.sec").as("sec") +:
        wanted.map(m => col("r").getField(m).as(m)): _*)
  }

  /** The reference's exact Grafana wire JSON (`server.py:461-475`):
    * `[{"target":T,"datapoints":[[value,ts_ms],…]},…]` — one object
    * per REQUESTED target in request order (a data-less target emits
    * an empty list), datapoints in time order, null and NaN cells
    * dropped (`server.py:453-455`), numbers printed as C "%f" exactly
    * like the reference's `"[%f,%f]" % (value, dt*1000)`. Row selection
    * is the shared-boundary downsample ([[readGrafanaShared]] — the
    * server's one-boundary-for-all-targets loop) as one aggregate. The
    * driver collects its rows — at most `maxDataPoints`, the Grafana
    * panel-width contract, so the collect is bounded by construction —
    * orders them by time and renders them with `java.util.Formatter`
    * at `Locale.US`, the formatter Spark's `format_string` uses. Each
    * target is a JSON string literal ([[graft.core.Wire.jstr]]), so any
    * metric name survives the reply.
    */
  def readGrafanaJson(db: String, sensor: String, fromSec: Long,
                      toSec: Long, maxDataPoints: Int,
                      targets: Option[Seq[String]] = None): String = {
    val v = authorize(db, sensor, write = false)
    val wanted = targets.getOrElse(v.config.metricNames)
    val rows = firstRows(v, fromSec, toSec, maxDataPoints, wanted).collect()
      .sortBy(_.getLong(0))
    def point(r: Row, i: Int) = String.format(java.util.Locale.US, "[%f,%f]",
      Double.box(r.getFloat(i).toDouble), Double.box((r.getLong(0) * 1000).toDouble))
    wanted.map { t =>
      val i = wanted.indexOf(t) + 1
      val dps = rows.collect {
        case r if !r.isNullAt(i) && !r.getFloat(i).isNaN => point(r, i)
      }
      s"""{"target":${jstr(t)},"datapoints":[${dps.mkString(",")}]}"""
    }.mkString("[", ",", "]")
  }

  /** Grafana-style MEAN downsample: wide `(ts, <metrics...>)` rows, one
    * per spread bucket, each cell the mean of that metric's non-NaN
    * readings in the bucket — from the mean rollup's exact decimal
    * partials when the query aligns, else from the raw rows with the
    * same expressions.
    */
  def readGrafanaMean(db: String, sensor: String, fromSec: Long,
                      toSec: Long, maxDataPoints: Int,
                      targets: Option[Seq[String]] = None,
                      useRollups: Boolean = true): DataFrame =
    spreadAggregate(db, sensor, RollupKind.Mean, fromSec, toSec,
      maxDataPoints, targets, useRollups)

  /** Grafana-style WINDOWED-STATS downsample for one metric — per
    * spread bucket `(ts, n, avg_value, min_value, max_value)` over the
    * metric's non-missing readings, the dashboard readout of the
    * oracle-pinned streaming windowed-stats surface (r14 ask #8) —
    * from the stats rollup's partials when the query aligns, else from
    * the raw rows with the same expressions (bit-identical).
    */
  def readGrafanaStats(db: String, sensor: String, fromSec: Long,
                       toSec: Long, maxDataPoints: Int, metric: String,
                       useRollups: Boolean = true): DataFrame =
    spreadAggregate(db, sensor, RollupKind.Stats, fromSec, toSec,
      maxDataPoints, Some(Seq(metric)), useRollups)
}
