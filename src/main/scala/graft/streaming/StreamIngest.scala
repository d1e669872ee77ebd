package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.TimestampType

import graft.ingest.Influx
import graft.operators.Sketches
import graft.store.SensorStore

/** Streaming ingest: the Spark-native analog of the reference's
  * tick-by-tick HTTP `/influx` endpoint (`server.py:304-327`).
  *
  * The reference has no true streaming semantics — no watermarks or
  * windows; a "late" point is simply written into whatever grid slot
  * its timestamp maps to (`database.py:425-488`). That is exactly a
  * `foreachBatch` upsert: each micro-batch of influx lines is parsed,
  * grouped and merged into the sensor store with the same
  * last-write-wins / NaN-mask cell semantics as batch ingest, so late
  * data lands in its historical slot no matter when it arrives.
  *
  * Source-agnostic: pass any streaming Dataset[String] of influx lines
  * (socket, Kafka-style source, files, or MemoryStream in tests).
  */
object StreamIngest {

  /** Parse a streaming frame of raw influx lines into long-format
    * points for one (db, sensor). Missing timestamps become the batch
    * processing time (the reference uses server arrival time,
    * `server_utils.py:20-21`).
    */
  def parse(lines: DataFrame, lineCol: String, db: String,
            sensor: String): DataFrame =
    Influx.parseLines(lines, lineCol)
      .filter(!col("malformed") && col("db") === db && col("sensor") === sensor)
      .withColumn("ts_sec",
        coalesce(col("ts_sec"), unix_timestamp(current_timestamp())))
      .select(
        timestamp_seconds(col("ts_sec")).cast(TimestampType).as("ts"),
        col("metric"), col("value"))

  /** Event-time windowed statistics over a streaming point feed — the
    * Spark-native capability the reference's design precludes (no
    * watermarks/windows there, §2.E): per (event-time window, metric),
    * count/avg/min/max with a watermark bounding state. Use with
    * append mode for finalized windows or update/complete for live
    * dashboards (the streaming analog of the grafana downsample).
    */
  def windowedStats(points: DataFrame, windowDur: String,
                    watermark: String): DataFrame =
    points
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("metric"))
      .agg(statsPartials.head, statsPartials.tail: _*)
      .select(col("window.start").as("window_start"), col("metric"),
        col("n"),
        (col("sum_value_dec").cast("double") / col("n_value"))
          .as("avg_value"),
        col("min_value"), col("max_value"))

  /** Windowed-stats partials over a `value` column: `n, n_value,
    * sum_value_dec [exact DECIMAL], min_value, max_value`. Every field
    * merges associatively (integer counts, decimal sum, min/max), so the
    * store's stats rollup persists exactly these per (chunk, window) and
    * re-aggregates to any coarser grid EXACTLY — the rollup is the
    * oracle-pinned windowed-stats code path.
    */
  def statsPartials: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    // avg must be sum(non-null)/count(non-null) — avg() semantics —
    // not /n: a window containing NULL values would otherwise get a
    // deflated mean (n counts all rows, n_value only non-null ones)
    count(col("value")).as("n_value"),
    // the mean is DECIMAL-routed (exact, order-independent sums),
    // not a raw double avg(): micro-batched partial merges reassociate
    // float additions, so a double fold could diverge between a
    // streamed and a batch run of the SAME frame — with exact sums,
    // stream ≡ batch ≡ the DuckDB oracle bit-for-bit (the
    // events_windowed_stats key pins exactly this code path)
    sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .as("sum_value_dec"),
    min(col("value")).as("min_value"),
    max(col("value")).as("max_value"))

  /** HOPPING (sliding) event-time windows — [[windowedStats]] with a
    * slide shorter than the duration, so each point lands in
    * `dur/slide` overlapping windows (the dashboard "smoothed rate"
    * readout tumbling windows can't express). Same decimal-routed
    * mean, same watermark/state contract; Spark's `window(ts, dur,
    * slide)` expands the covering window set per row (a bounded
    * `dur/slide`-way fanout, map-side combined — no shuffle
    * amplification beyond the extra window keys).
    */
  def hoppingStats(points: DataFrame, windowDur: String, slide: String,
                   watermark: String): DataFrame =
    points
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("metric"))
      .agg(count(lit(1)).as("n"),
        // same avg() semantics as windowedStats: non-null denominator
        count(col("value")).as("n_value"),
        sum(col("value").cast(
            org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("window.start").as("window_start"), col("metric"),
        col("n"), (col("sum_value") / col("n_value")).as("avg_value"),
        col("min_value"), col("max_value"))

  /** Event-time SESSION windows over a streaming point feed —
    * gap-based sessions per key with `session_window` (state merges
    * adjacent windows; the watermark closes sessions whose gap has
    * provably passed, bounding state). Append mode emits each session
    * exactly once when it finalizes. The batch analog is the
    * `events_session_window` query key; semantics match: windows
    * touching at exactly `gap` merge.
    */
  def sessionStats(points: DataFrame, keyCol: String, gap: String,
                   watermark: String): DataFrame =
    points
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n"), col("min_value"), col("max_value"))

  /** Typed records for [[sessionizeTimeout]]. */
  case class SessionState(startSec: Long, lastSec: Long, n: Long)
  case class SessionList(sessions: Seq[SessionState])
  case class ClosedSession(metric: String, startSec: Long, endSec: Long,
                           n: Long)

  /** Gap-based sessionization as CUSTOM state with an EVENT-TIME
    * TIMEOUT — the mechanics `session_window` hides. State per key is
    * the LIST of not-yet-closable sessions (gap-separated, sorted):
    * each batch inserts its events as unit sessions and merges
    * gap-adjacent neighbours, which uniformly handles extend,
    * count-inside, and the out-of-order point that BRIDGES two
    * sessions into one. A session is emitted only when the WATERMARK
    * proves it can no longer grow — arriving rows satisfy
    * `ts ≥ watermark` and touching a session requires
    * `ts ≤ last + gap`, so `watermark > last + gap` is the exact
    * "cannot grow" certificate; an in-batch gap alone parks the closed
    * session in state instead of emitting it, because a late row in a
    * later batch (still above the watermark) may yet land inside or
    * bridge it — emit-on-split would silently mis-bin that row (the
    * built-in `session_window` holds such sessions the same way).
    * Emission happens in the data path when a batch's watermark has
    * already passed, or via `state.hasTimedOut` armed at the earliest
    * session's deadline. Append-mode: each session appears exactly
    * once. Use [[sessionStats]] when the built-in fits; this is the
    * shape custom session logic (per-session caps, inactivity kicks,
    * session-scoped aggregates the built-in can't express) builds on.
    */
  def sessionizeTimeout(points: DataFrame, gapSec: Long,
                        watermark: String): Dataset[ClosedSession] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    points
      .withWatermark("ts", watermark)
      // the watermarked ts column must survive projection as a
      // TIMESTAMP — casting it away strips the event-time marker the
      // timeout needs; seconds derive inside the fold
      .select(col("metric"), col("ts"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (metric: String, tsRows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[SessionList]) =>
          // insert a point as a unit session, then merge gap-adjacent
          // neighbours (containment gives a negative delta, also ≤ gap)
          def insert(ss: Vector[SessionState], ts: Long): Vector[SessionState] =
            (ss :+ SessionState(ts, ts, 1L))
              .sortBy(s => (s.startSec, s.lastSec))
              .foldLeft(Vector.empty[SessionState]) { (acc, s) =>
                acc.lastOption match {
                  case Some(p) if s.startSec - p.lastSec <= gapSec =>
                    acc.init :+ SessionState(p.startSec,
                      math.max(p.lastSec, s.lastSec), p.n + s.n)
                  case _ => acc :+ s
                }
              }
          val wmMs = state.getCurrentWatermarkMs()
          var sessions = state.getOption.map(_.sessions.toVector)
            .getOrElse(Vector.empty)
          if (!state.hasTimedOut)
            tsRows.map(_._2.getTime / 1000L).toSeq.sorted
              .foreach(ts => sessions = insert(sessions, ts))
          // conservative whole-second deadline: dead once the watermark
          // clears the second after last+gap
          val (dead, live) = sessions.partition(s =>
            (s.lastSec + gapSec + 1) * 1000L <= wmMs)
          if (live.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(SessionList(live))
            // arm at the earliest live session's deadline; the wm+1
            // floor keeps the timestamp strictly ahead of the current
            // watermark as the API requires
            state.setTimeoutTimestamp(math.max(wmMs + 1,
              live.map(s => (s.lastSec + gapSec + 1) * 1000L).min))
          }
          dead.sortBy(_.startSec).iterator
            .map(s => ClosedSession(metric, s.startSec, s.lastSec, s.n))
      }
  }

  /** Exactly-once-per-point ingest over an at-least-once source:
    * duplicate (metric, ts) deliveries inside the watermark horizon are
    * dropped with bounded state (`dropDuplicatesWithinWatermark` —
    * state for a key expires once the watermark passes it, so the
    * dedup buffer never grows beyond delay × rate).
    */
  def dedupPoints(points: DataFrame, watermark: String): DataFrame =
    points
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("metric", "ts")

  /** Incrementally maintain Count-Min sketch partials over a streaming
    * event feed: per (event-time window, hash row, bucket), the counter
    * value. Because the CMS merge is an entrywise SUM (exact, not
    * approximate — see [[graft.operators.Sketches.cmsPartials]]), the
    * counter matrix IS a streaming aggregation: Spark's incremental
    * state update per micro-batch computes exactly the matrix a batch
    * pass over the full history would, and the watermark bounds state
    * to open windows. Emitted rows merge with at-rest batch partials
    * (same schema) by the same sum, so a streaming head and a batch
    * tail of one corpus compose into one queryable sketch —
    * [[graft.operators.Sketches.cmsEstimate]] serves point queries
    * over the union. d·w counters per window regardless of rate.
    */
  def cmsMaintain(events: DataFrame, tsCol: String, keyCol: String,
                  windowDur: String, watermark: String,
                  d: Int = 4, w: Int = 4096): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), md5(col(keyCol).cast("string")).as("hx"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("bucket", Sketches.cmsBucket(col("r"), col("hx"), w))
      .groupBy(window(col(tsCol), windowDur), col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("r"),
        col("bucket"), col("cnt"))

  /** Build the Bloom screen artifact for [[nearDupScreen]] from a
    * persisted MinHash band index (`(band, band_key, corpus_id)` —
    * the same table [[graft.ext.Dedup.incrementalNear]] probes).
    * Sketch-sized driver artifact (~1.2 bytes/item at 3% fpp), the
    * standard runtime-filter shape.
    */
  def bandBloom(corpusBands: DataFrame,
                expectedItems: Long = 1000000L): Array[Byte] = {
    graft.GraftFunctions.register(corpusBands.sparkSession)
    corpusBands
      .select(expr(
        "bloom_agg(xxhash64(concat(cast(band AS string), ':', band_key)), " +
          s"${expectedItems}L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** VERSION-GATED bloom supplier for [[nearDupScreen]] over a
    * [[graft.ext.DocStore]]-managed corpus (r16 verdict ask #6: the
    * screen used to probe the persisted band index with no version
    * check, so a `replaceDocs` between micro-batches kept serving
    * stale maybe-flags). Call [[GatedBandBloom.bloom]] once per
    * micro-batch (e.g. in `foreachBatch`): it re-reads the store's
    * commit record (one tiny meta read) and reuses the cached bloom
    * only while the version matches. On a mismatch it rebuilds:
    *  - near artifact FRESH at the current version → from its band
    *    table (index-scale — the steady path after every ingest);
    *  - artifact stale (a replace/delete without `rebuildIndexes`
    *    yet) → session band-build over the store's CURRENT docs
    *    (corpus-scale, priced until the rebuild re-earns the
    *    artifact) — the same fallback contract every batch probe
    *    follows: routing changes cost, never verdicts.
    * Band construction is [[graft.ext.DedupIndex.bandRows]] on both
    * paths, so a rebuilt bloom is byte-identical to one built fresh.
    */
  final class GatedBandBloom(expectedItems: Long = 1000000L) {
    @volatile private var cached: Option[(Long, Array[Byte])] = None

    def bloom(spark: org.apache.spark.sql.SparkSession, root: String,
              cfg: graft.ext.DocStore.Config): Array[Byte] = {
      val np = cfg.near.getOrElse(sys.error(
        "the gated near-dup screen needs cfg.near"))
      val v = graft.ext.DocStore.version(spark, root)
      cached match {
        case Some((cv, b)) if cv == v => b
        case _ => synchronized {
          cached match {
            case Some((cv, b)) if cv == v => b
            case _ =>
              val nearPath = graft.ext.DocStore.nearPath(root)
              val corpus = graft.ext.DocStore.docs(spark, root)
              val bands =
                graft.ext.Index.gate(nearPath, np, corpus, Some(v)) match {
                  case Some(c) => c.read(spark, "bands")
                  case None => graft.ext.DedupIndex.bandRows(corpus,
                    cfg.idCol, cfg.textCol, np.numHashes, np.rowsPerBand,
                    np.shingleN)
                }
              val b = bandBloom(bands, expectedItems)
              cached = Some((v, b))
              b
          }
        }
      }
    }
  }

  /** STREAMING near-dup screening — the stream-side half of
    * [[graft.ext.Dedup.incrementalNear]]: each document is flagged
    * `maybe_near_dup` when ANY of its LSH bands might be in the
    * corpus band index's Bloom screen, else new. The whole operator
    * is ONE narrow projection: the shingle → minhash → band chain is
    * computed as per-row ARRAY expressions (no explode, no groupBy —
    * a streaming aggregation would carry per-doc state; this carries
    * none), and the index probe is a codegen'd `bloom_might_contain`
    * against a literal sketch. Stateless, watermark-free, O(batch) at
    * any stream rate. Bloom false positives are the contract: flagged
    * docs route to the exact batch-side confirm (`incrementalNear`);
    * un-flagged verdicts are exact (the construction is byte-identical
    * to the batch band chain, so a true index band can never miss).
    * Index refresh is a batch-side re-materialization — the standard
    * lambda split.
    */
  def nearDupScreen(docs: DataFrame, bloom: Array[Byte], idCol: String,
                    textCol: String, numHashes: Int, rowsPerBand: Int,
                    n: Int): DataFrame = {
    graft.GraftFunctions.register(docs.sparkSession)
    val w = split(col(textCol), " ")
    // byte-identical to Dedup.shingles/minhash/bands, expressed as
    // array lambdas instead of explode+groupBy
    val shingleArr = when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " "))
    ).otherwise(array().cast("array<string>"))
    val mh = (0 until numHashes).map { h =>
      array_min(transform(col("__sh"),
        s => md5(concat(lit(h.toString), lit("|"), s))))
    }
    val nBands = numHashes / rowsPerBand
    val bandArr = array((0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r =>
        element_at(col("__mh"), b * rowsPerBand + r + 1))
      concat(lit(s"$b:"), md5(concat_ws(",", parts: _*)))
    }: _*)
    docs
      .withColumn("__sh", shingleArr)
      .withColumn("__mh", array(mh: _*))
      .withColumn("maybe_near_dup",
        size(col("__sh")) > 0 &&
          exists(bandArr, bk => call_function("bloom_might_contain",
            lit(bloom), xxhash64(bk))))
      .drop("__sh", "__mh")
  }

  /** Typed state record for [[runningLast]]. */
  case class LastPoint(metric: String, tsSec: Long, value: Double)

  /** Custom streaming state via `mapGroupsWithState`: the engine-side
    * "current value" cache per metric (the reference server keeps the
    * analogous latest-point in RAM for its `/last_timestamp` endpoint).
    * Each micro-batch emits the newest point per metric seen SO FAR —
    * late/duplicate arrivals never regress the state (event-time
    * max, not arrival order). State is one row per metric: O(sensor
    * width), no watermark needed to bound it.
    */
  def runningLast(points: DataFrame): Dataset[LastPoint] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    points
      .select(col("metric"), col("ts").cast("long").as("tsSec"), col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (metric: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[LastPoint]) =>
          val newest = rows.maxBy(r => (r._2, r._3))
          val best = state.getOption match {
            case Some(prev) if prev.tsSec >= newest._2 => prev
            case _ => LastPoint(metric, newest._2, newest._3)
          }
          state.update(best)
          best
      }
  }

  /** Stream-static enrichment: join the streaming point feed against a
    * static dimension table on `keyCol`. The static side is explicitly
    * broadcast — per micro-batch this is a map-side hash join with NO
    * stream-side shuffle and no state store, the only join shape that
    * stays O(batch) at any stream rate (a stream-stream join would
    * buffer state; a shuffled join would re-exchange every batch).
    */
  def enrich(points: DataFrame, dim: DataFrame, keyCol: String): DataFrame =
    points.join(broadcast(dim), Seq(keyCol), "left")

  /** Typed state record for [[deltaRate]]. */
  case class RatePoint(metric: String, tsSec: Long, value: Double,
                       delta: Double, dtSec: Long, rate: Double)

  /** Streaming counter delta/rate via `flatMapGroupsWithState`: per
    * metric, each in-order point emits `(delta, dt, rate)` against the
    * previous point (the streaming analog of the batch
    * `Rolling.deltaRate`). Out-of-order points (event time at or before
    * the state) emit NOTHING rather than a negative-dt artifact —
    * matching the monotone-counter contract. State is one (ts, value)
    * pair per metric: O(sensor width), no timeout needed.
    */
  def deltaRate(points: DataFrame): Dataset[RatePoint] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    points
      .select(col("metric"), col("ts").cast("long").as("tsSec"), col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (metric: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[LastPoint]) =>
          var prev = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[RatePoint]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v) =>
            prev match {
              case Some(p) if ts > p.tsSec =>
                val dt = ts - p.tsSec
                out += RatePoint(metric, ts, v, v - p.value, dt,
                  (v - p.value) / dt)
                prev = Some(LastPoint(metric, ts, v))
              case None =>
                prev = Some(LastPoint(metric, ts, v)) // first point: no rate
              case _ => () // late/duplicate: state never regresses
            }
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  case class EwmaPoint(metric: String, tsSec: Long, value: Double,
                       ewma: Double)

  /** Stateful streaming EWMA — the UNBOUNDED-history recursion
    * `e_t = α·v_t + (1−α)·e_{t-1}` that no batch window frame can
    * express (the batch `Rolling.ewma` restarts on a trailing-k frame
    * for exactly that reason): streaming state carries `e_{t-1}`
    * naturally, O(1) per series. α = 1/2 keeps the same dyadic
    * bit-portability as the batch operator. Late points (event time at
    * or before the state) emit nothing — state never regresses, same
    * contract as [[deltaRate]].
    */
  def ewmaSmooth(points: DataFrame): Dataset[EwmaPoint] = {
    import points.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    points
      .select(col("metric"), col("ts").cast("long").as("tsSec"), col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (metric: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[LastPoint]) =>
          // state.value is the previous EWMA, not the previous raw value
          var prev = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaPoint]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, v) =>
            prev match {
              case Some(p) if ts <= p.tsSec => () // late: never regress
              case Some(p) =>
                val e = p.value * 0.5 + v * 0.5
                out += EwmaPoint(metric, ts, v, e)
                prev = Some(LastPoint(metric, ts, e))
              case None =>
                out += EwmaPoint(metric, ts, v, v) // seed at first value
                prev = Some(LastPoint(metric, ts, v))
            }
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Watermarked stream-stream interval join: match each left point
    * with right points for the same metric whose event time lies in
    * `[left.ts, left.ts + within]` — e.g. raw readings joined to the
    * alerts they triggered. BOTH sides carry watermarks and the join
    * predicate bounds the event-time gap in both directions, so the
    * state store provably expires rows once the watermark passes
    * `within` + delay — bounded state at any stream rate (an unbounded
    * stream-stream join would buffer forever).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, within: String,
                   watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("metric"), col("ts").as("l_ts"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col("metric").as("r_metric"), col("ts").as("r_ts"),
        col("value").as("r_value"))
    l.join(r,
      col("metric") === col("r_metric") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("metric"), col("l_ts"), col("l_value"),
        col("r_ts"), col("r_value"))
  }

  /** writeStream into the sensor store via foreachBatch upsert under
    * the sensor's writer lock. Caller starts/stops the returned writer.
    */
  def writer(points: DataFrame, store: SensorStore, db: String,
             sensor: String, fillValue: Double = 0.0)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    points.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          store.write(db, sensor, batch.toDF(), fillValue)
        }
        ()
      }

  /** The ASSEMBLED streaming write path — the reference's whole ingest
    * loop (`server.py:214-293`: HTTP influx line → parse → per-sensor
    * locked write → derived-data refresh) as ONE structured-streaming
    * entry over any streaming Dataset of raw lines:
    *
    *   lines → [[parse]] (malformed lines dropped, missing timestamps
    *   stamped at batch time) → optional [[dedupPoints]] (bounded-state
    *   at-least-once dedup) → [[writer]] (foreachBatch upsert under
    *   the sensor WRITER LOCK) → incremental rollup refresh.
    *
    * Per-batch invariants, each carried by a part this composes:
    *  - ATOMIC: the micro-batch's files and refreshed rollups become
    *    visible together when `SensorStore.write` commits the sensor's
    *    next record — a reader resolves a version and sees all of a
    *    batch's cells or none;
    *  - SERIALIZED: `write` holds the per-sensor lock, so this
    *    stream, a second stream, and ad-hoc batch writers to the same
    *    sensor cannot interleave their read-modify-write merges;
    *  - DERIVED DATA STAYS DERIVED: `write` re-aggregates the touched
    *    chunks of every materialized rollup into the same record, so
    *    after EVERY batch a rollup read equals re-aggregating
    *    the raw cells — late points included (no pre-upsert value is
    *    ever served);
    *  - EFFECTIVELY-ONCE **for timestamped lines**: cell upsert is
    *    idempotent (same (slot, metric) → same value), so duplicate
    *    deliveries from an at-least-once source leave the store
    *    byte-identical even without the dedup stage; `dedupWatermark`
    *    additionally spares the redundant write work inside the
    *    watermark horizon. Lines WITHOUT a timestamp are stamped at
    *    batch processing time ([[parse]], mirroring the reference's
    *    server-arrival stamp) — a replay after a mid-batch failure
    *    re-stamps those at a NEW time, so a replayed untimestamped
    *    point can land in a second slot. Sources that need replay
    *    idempotence must send explicit timestamps (the normal influx
    *    producer behavior); there is no deterministic arrival time to
    *    derive on the engine side without inventing one.
    */
  def toStore(lines: DataFrame, lineCol: String, store: SensorStore,
              db: String, sensor: String, fillValue: Double = 0.0,
              dedupWatermark: Option[String] = None)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    val pts = parse(lines, lineCol, db, sensor)
    writer(dedupWatermark.fold(pts)(w => dedupPoints(pts, w)), store, db,
      sensor, fillValue)
  }

  /** Streaming exact dedup bounded by the watermark: duplicate points
    * (same key columns) arriving within the watermark horizon are
    * dropped; state for a key is freed once the watermark passes it,
    * so state size is bounded by the horizon's row count — the
    * streaming counterpart of the batch `dedup_exact` key (an
    * at-least-once ingest in front of the store needs exactly this to
    * keep retried frames from double-writing). The frame must carry
    * the event-time `ts` column.
    */
  def dedupWithinWatermark(points: DataFrame, keyCols: Seq[String],
                           watermark: String): DataFrame =
    points
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)
}
