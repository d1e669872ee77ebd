package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.{MetricDef, SensorConfig, SensorStore}

/** Streaming influx ingest → store upsert → batch read-back; late data
  * lands in its historical slot (the reference's in-place late-write
  * semantics, `database.py:425-488`).
  */
class StreamIngestSpec extends SparkSpec {

  test("micro-batched influx lines upsert into the store; late data in place") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-stream").toString
    val store = new SensorStore(spark, dir)
    store.createSensor(SensorConfig("test", "s1", "1s",
      Seq(MetricDef(Seq("active")), MetricDef(Seq("reactive")))))

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "s1")
    val query = StreamIngest.writer(points, store, "test", "s1").start()
    try {
      src.addData(
        s"test,circuit=s1 active=9,reactive=10 ${t0}000000000",
        s"test,circuit=s1 active=11 ${(t0 + 5)}000000000")
      query.processAllAvailable()
      // second batch: an update to t0 and a LATE point before it
      src.addData(
        s"test,circuit=s1 reactive=20 ${t0}000000000",
        s"test,circuit=s1 active=7 ${(t0 - 100)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val out = store.read("test", "s1").collect()
    assert(out.length == 3)
    val byTs = out.map(r =>
      r.getTimestamp(0).toInstant.getEpochSecond ->
        (if (r.isNullAt(1)) None else Some(r.getFloat(1)),
          if (r.isNullAt(2)) None else Some(r.getFloat(2)))).toMap
    assert(byTs(t0 - 100) == (Some(7.0f), None))        // late write landed
    assert(byTs(t0) == (Some(9.0f), Some(20.0f)))       // cell updated, other kept
    assert(byTs(t0 + 5) == (Some(11.0f), None))
  }

  test("parse drops a line with one non-numeric field whole, its other " +
    "fields too") {
    import spark.implicits._
    val t0 = 1704067200L
    val got = StreamIngest.parse(Seq(
        s"test,circuit=s1 active=1,reactive=abc ${t0}000000000",
        s"test,circuit=s1 active=2 ${t0 + 1}000000000").toDF("line"),
        "line", "test", "s1")
      .select(unix_timestamp(col("ts")), col("metric"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq((t0 + 1, "active", 2.0)))
  }

  test("watermarked windowed stats aggregate per event-time window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "w1")
    val stats = StreamIngest.windowedStats(points, "5 minutes", "10 minutes")
    val query = stats.writeStream.outputMode("complete")
      .format("memory").queryName("wstats").start()
    try {
      src.addData(
        s"test,circuit=w1 v=1 ${t0}000000000",
        s"test,circuit=w1 v=3 ${(t0 + 60)}000000000",
        s"test,circuit=w1 v=10 ${(t0 + 301)}000000000") // next window
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT * FROM wstats ORDER BY window_start").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(2) == 2L && rows(0).getDouble(3) == 2.0)
    assert(rows(1).getLong(2) == 1L && rows(1).getDouble(5) == 10.0)
  }

  test("windowedStats avg has avg() semantics under NULL values: " +
    "sum(non-null)/count(non-null), while n still counts all rows") {
    import spark.implicits._
    // batch frame (windowedStats is batch/stream agnostic): one window,
    // values 2.0, 4.0, NULL → n = 3, avg = 3.0 (NOT 2.0 = 6/3)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val pts = Seq(
      (t0, "m", Some(2.0)),
      (new java.sql.Timestamp(t0.getTime + 60000L), "m", Some(4.0)),
      (new java.sql.Timestamp(t0.getTime + 120000L), "m", None))
      .toDF("ts", "metric", "value")
    for (df <- Seq(
        StreamIngest.windowedStats(pts, "5 minutes", "0 seconds"),
        StreamIngest.hoppingStats(pts, "5 minutes", "5 minutes",
          "0 seconds"))) {
      val r = df.collect()
      assert(r.length == 1)
      assert(r(0).getAs[Long]("n") == 3L, "n must count ALL rows")
      assert(r(0).getAs[Double]("avg_value") == 3.0,
        "avg must divide by the NON-NULL count (avg() semantics)")
    }
  }

  test("session windows merge gap-adjacent events per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "sess1")
    val sessions = StreamIngest.sessionStats(points, "metric",
      gap = "10 minutes", watermark = "30 minutes")
    // session windows only support append (emit-on-finalize) / complete
    val query = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessstats").start()
    try {
      src.addData(
        s"test,circuit=sess1 v=1 ${t0}000000000",
        s"test,circuit=sess1 v=5 ${(t0 + 300)}000000000",   // merges (300 < 600)
        s"test,circuit=sess1 v=9 ${(t0 + 2000)}000000000")  // 1700 > 600 → new
      query.processAllAvailable()
      // advance the watermark past both session ends so append finalizes
      // them; this late-arriving session itself stays open (not emitted)
      src.addData(s"test,circuit=sess1 v=0 ${(t0 + 10000)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT * FROM sessstats ORDER BY session_start").collect()
    assert(rows.length == 2)
    // first session: [t0, t0+300+gap), 2 events, values 1 and 5
    assert(rows(0).getTimestamp(0).toInstant.getEpochSecond == t0)
    assert(rows(0).getTimestamp(1).toInstant.getEpochSecond == t0 + 300 + 600)
    assert(rows(0).getLong(3) == 2L)
    assert(rows(0).getDouble(4) == 1.0 && rows(0).getDouble(5) == 5.0)
    // second session: single event
    assert(rows(1).getTimestamp(0).toInstant.getEpochSecond == t0 + 2000)
    assert(rows(1).getLong(3) == 1L)
  }

  test("timeout sessionizer closes sessions when the watermark passes " +
    "last+gap, and splits on in-batch gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "sessto")
    val sessions = StreamIngest.sessionizeTimeout(points, gapSec = 600L,
      watermark = "30 minutes")
    val query = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessto").start()
    try {
      src.addData(
        s"test,circuit=sessto v=1 ${t0}000000000",
        s"test,circuit=sessto v=5 ${(t0 + 300)}000000000",  // extends
        s"test,circuit=sessto v=9 ${(t0 + 2000)}000000000") // in-batch split
      query.processAllAvailable()
      // the split parks the first session in state (a late row could
      // still land inside it until the watermark passes its end+gap);
      // drive the watermark past both deadlines with a distant event
      src.addData(s"test,circuit=sessto v=0 ${(t0 + 10000)}000000000")
      query.processAllAvailable()
      // one more batch so the emission (watermark moved at the END of
      // the previous batch) actually happens
      src.addData(s"test,circuit=sessto v=0 ${(t0 + 10001)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT metric, startSec, endSec, n FROM sessto ORDER BY startSec")
      .collect()
    assert(rows.length >= 2, s"expected both sessions closed, got " +
      s"${rows.map(_.toString).mkString(";")}")
    assert(rows(0).getLong(1) == t0 && rows(0).getLong(2) == t0 + 300 &&
      rows(0).getLong(3) == 2L)
    assert(rows(1).getLong(1) == t0 + 2000 &&
      rows(1).getLong(2) == t0 + 2000 && rows(1).getLong(3) == 1L)
  }

  test("timeout sessionizer merges a late cross-batch point into a " +
    "gap-closed pending session instead of dropping it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "sesslate")
    val sessions = StreamIngest.sessionizeTimeout(points, gapSec = 600L,
      watermark = "30 minutes")
    val query = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sesslate").start()
    try {
      // batch 1: in-batch split parks [t0, t0] and opens [t0+2000]
      src.addData(
        s"test,circuit=sesslate v=1 ${t0}000000000",
        s"test,circuit=sesslate v=9 ${(t0 + 2000)}000000000")
      query.processAllAvailable()
      // batch 2: OUT-OF-ORDER point above the watermark (wm = t0+200)
      // that belongs to the first, already-gap-closed session — the
      // old emit-on-split behavior would have silently dropped it
      src.addData(s"test,circuit=sesslate v=2 ${(t0 + 300)}000000000")
      query.processAllAvailable()
      // advance the watermark past both deadlines, then one more batch
      // so the emission happens
      src.addData(s"test,circuit=sesslate v=0 ${(t0 + 10000)}000000000")
      query.processAllAvailable()
      src.addData(s"test,circuit=sesslate v=0 ${(t0 + 10001)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT metric, startSec, endSec, n FROM sesslate ORDER BY startSec")
      .collect()
    assert(rows.length >= 2, s"expected both sessions closed, got " +
      s"${rows.map(_.toString).mkString(";")}")
    // the late t0+300 point EXTENDED the pending session
    assert(rows(0).getLong(1) == t0 && rows(0).getLong(2) == t0 + 300 &&
      rows(0).getLong(3) == 2L,
      s"late point not merged into pending session: ${rows(0)}")
    assert(rows(1).getLong(1) == t0 + 2000 &&
      rows(1).getLong(2) == t0 + 2000 && rows(1).getLong(3) == 1L)
  }

  test("streaming dedup drops duplicate (metric, ts) within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "dd1")
    val deduped = StreamIngest.dedupPoints(points, "1 hour")
    val query = deduped.writeStream.outputMode("append")
      .format("memory").queryName("ddout").start()
    try {
      src.addData(
        s"test,circuit=dd1 v=1 ${t0}000000000",
        s"test,circuit=dd1 v=1 ${t0}000000000") // dup inside one batch
      query.processAllAvailable()
      src.addData(
        s"test,circuit=dd1 v=1 ${t0}000000000",       // dup across batches
        s"test,circuit=dd1 v=2 ${(t0 + 60)}000000000") // genuinely new
      query.processAllAvailable()
    } finally query.stop()

    val n = spark.sql("SELECT count(*) FROM ddout").head().getLong(0)
    assert(n == 2, s"expected 2 unique points, got $n")
  }

  test("streaming near-dup screen: bloom probe flags corpus dups, passes novel docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark execution engines"))
      .toDF("doc_id", "text")
    val idx = graft.ext.Dedup.bands(
        graft.ext.Dedup.minhash(
          graft.ext.Dedup.shingles(corpus, "doc_id", "text", 3), "doc_id", 8),
        "doc_id", 8, 1)
      .select(col("band"), col("band_key"), col("doc_id").as("corpus_id"))
    val bloom = StreamIngest.bandBloom(idx, expectedItems = 1000L)

    val src = MemoryStream[(Long, String)]
    val screened = StreamIngest.nearDupScreen(
      src.toDF().toDF("doc_id", "text"), bloom, "doc_id", "text", 8, 1, 3)
    val query = screened.writeStream.outputMode("append")
      .format("memory").queryName("ndout").start()
    try {
      src.addData(
        (10L, "the quick brown fox jumps over the lazy dog today"), // = corpus 1
        (11L, "a wholly novel sentence sharing no threegram with anything else"),
        (12L, "xy")) // < 3 words: no bands → new by construction
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.sql("SELECT doc_id, maybe_near_dup FROM ndout ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    // no false negative possible: doc 10's band chain is byte-identical
    // to corpus doc 1's, so every one of its band keys IS in the bloom
    assert(out(10L), "true corpus dup must be flagged")
    assert(!out(12L), "sub-shingle doc must pass as new")
    // doc 11 may only fail via a bloom false positive (3% fpp across 8
    // probes) — with this fixed seedless construction it does not
    assert(!out(11L), "novel doc must pass the screen")

    // the narrow array-lambda chain must equal the explode+groupBy
    // batch chain band for band (else the screen's recall claim is void)
    val batchBands = graft.ext.Dedup.bands(
        graft.ext.Dedup.minhash(
          graft.ext.Dedup.shingles(
            Seq((10L, "the quick brown fox jumps over the lazy dog today"))
              .toDF("doc_id", "text"), "doc_id", "text", 3), "doc_id", 8),
        "doc_id", 8, 1)
      .select("band", "band_key").collect()
      .map(r => s"${r.getInt(0)}:${r.getString(1)}").toSet
    val corpusBands1 = idx.filter(col("corpus_id") === 1L)
      .select("band", "band_key").collect()
      .map(r => s"${r.getInt(0)}:${r.getString(1)}").toSet
    assert(batchBands == corpusBands1)
  }

  test("GatedBandBloom: a replaceDocs between micro-batches rebuilds " +
    "the bloom — stale maybe-flags are never served (r16 ask #6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("gbb").toString
    val cfg = graft.ext.DocStore.Config("doc_id", "text", bm25 = false,
      exact = false, near = Some(graft.ext.IndexKind.Near(8, 1, 3)))
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark execution engines"))
      .toDF("doc_id", "text")
    graft.ext.DocStore.init(spark, root, corpus, cfg)
    val gb = new StreamIngest.GatedBandBloom(1000L)

    // probe 10 duplicates the ORIGINAL doc-1 text, probe 11 the text
    // doc 1 will be REPLACED with — so each replace flips both flags
    val probes = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "replacement text that is wholly new words entirely"))
    val results =
      scala.collection.mutable.Map.empty[Int, Map[Long, Boolean]]
    val src = MemoryStream[(Long, String)]
    val query = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the gated supplier runs once per micro-batch: one commit-
        // record read, bloom reuse while the version matches
        val bloom = gb.bloom(spark, root, cfg)
        val out = StreamIngest.nearDupScreen(batch, bloom, "doc_id",
            "text", 8, 1, 3)
          .select("doc_id", "maybe_near_dup").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        results.synchronized { results(id.toInt) = out }
        ()
      }.start()
    try {
      src.addData(probes: _*)
      query.processAllAvailable()
      // replace doc 1 MID-STREAM: version bumps, band artifact stale
      graft.ext.DocStore.replaceDocs(spark, root,
        Seq((1L, "replacement text that is wholly new words entirely"))
          .toDF("doc_id", "text"), cfg)
      src.addData(probes: _*)
      query.processAllAvailable()
    } finally query.stop()

    val first = results(0); val second = results(1)
    assert(first(10L), "pre-replace: dup of live doc 1 must be flagged")
    assert(!first(11L), "pre-replace: the future replacement is novel")
    assert(!second(10L), "post-replace: a stale bloom would still flag " +
      "the replaced text — the gate must have rebuilt")
    assert(second(11L), "post-replace: dup of the NEW doc-1 text must " +
      "be flagged")
    // the rebuilt bloom is byte-equal to one built fresh over the
    // current corpus — the fallback path is the construction itself
    val fresh = StreamIngest.bandBloom(graft.ext.DedupIndex.bandRows(
      graft.ext.DocStore.docs(spark, root), "doc_id", "text", 8, 1, 3),
      1000L)
    assert(java.util.Arrays.equals(gb.bloom(spark, root, cfg), fresh))
  }

  test("mapGroupsWithState running-last never regresses on late arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "rl1")
    val lasts = StreamIngest.runningLast(points)
    val query = lasts.toDF().writeStream.outputMode("update")
      .format("memory").queryName("rlout").start()
    try {
      src.addData(s"test,circuit=rl1 v=5 ${(t0 + 100)}000000000")
      query.processAllAvailable()
      // LATE point (t0) must not displace the newer state (t0+100)
      src.addData(s"test,circuit=rl1 v=9 ${t0}000000000")
      query.processAllAvailable()
      src.addData(s"test,circuit=rl1 v=7 ${(t0 + 200)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    // update-mode memory sink keeps one row per batch emission; the
    // running last per batch must be 100 → 100 (late ignored) → 200
    val rows = spark.sql(
      "SELECT tsSec, value FROM rlout").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((t0 + 100, 5.0), (t0 + 100, 5.0), (t0 + 200, 7.0)))
  }

  test("stream-static enrichment broadcasts the dimension per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val dim = Seq(("v", "volts", 10.0), ("w", "watts", 1.0))
      .toDF("metric", "unit", "scale")
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "en1")
    val enriched = StreamIngest.enrich(points, dim, "metric")
      .withColumn("scaled", col("value") * col("scale"))
    val query = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enout").start()
    try {
      src.addData(
        s"test,circuit=en1 v=5 ${t0}000000000",
        s"test,circuit=en1 w=3 ${t0}000000000",
        s"test,circuit=en1 x=1 ${t0}000000000") // no dim row → left join null
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT metric, unit, scaled FROM enout ORDER BY metric").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("v", "w", "x"))
    assert(rows(0).getString(1) == "volts" && rows(0).getDouble(2) == 50.0)
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("append-mode windowed agg finalizes once and DROPS data past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "lw1")
    val stats = StreamIngest.windowedStats(points, "5 minutes", "10 minutes")
    val query = stats.writeStream.outputMode("append")
      .format("memory").queryName("lateout").start()
    try {
      src.addData(s"test,circuit=lw1 v=1 ${t0}000000000",
        s"test,circuit=lw1 v=3 ${(t0 + 60)}000000000")
      query.processAllAvailable()
      // advance the watermark far past the first window (wm = max - 10m)
      src.addData(s"test,circuit=lw1 v=9 ${(t0 + 3600)}000000000")
      query.processAllAvailable()
      // this point is OLDER than the watermark → must be discarded
      src.addData(s"test,circuit=lw1 v=100 ${(t0 + 30)}000000000")
      query.processAllAvailable()
      // close the last window so nothing is pending
      src.addData(s"test,circuit=lw1 v=2 ${(t0 + 7200)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT window_start, n, max_value FROM lateout ORDER BY window_start")
      .collect()
    // first window finalized with its ON-TIME points only (n=2, max=3):
    // the late v=100 neither reopened it nor re-emitted it
    val first = rows.head
    assert(first.getTimestamp(0).toInstant.getEpochSecond == t0)
    assert(first.getLong(1) == 2L && first.getDouble(2) == 3.0)
    assert(rows.count(_.getTimestamp(0).toInstant.getEpochSecond == t0) == 1)
  }

  test("streaming counter rate emits deltas in order; late points emit nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "dr1")
    val rates = StreamIngest.deltaRate(points)
    val query = rates.toDF().writeStream.outputMode("update")
      .format("memory").queryName("drout").start()
    try {
      // one batch with out-of-order arrivals: must sort by event time
      src.addData(
        s"test,circuit=dr1 v=10 ${(t0 + 20)}000000000",
        s"test,circuit=dr1 v=4 ${t0}000000000")
      query.processAllAvailable()
      src.addData(s"test,circuit=dr1 v=16 ${(t0 + 50)}000000000")
      query.processAllAvailable()
      // late point behind the state → silently dropped
      src.addData(s"test,circuit=dr1 v=99 ${(t0 + 30)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT tsSec, delta, dtSec, rate FROM drout ORDER BY tsSec").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(rows == Seq(
      (t0 + 20, 6.0, 20L, 0.3),   // 4@t0 → 10@t0+20 within one batch
      (t0 + 50, 6.0, 30L, 0.2))) // 10 → 16; the late 99 emitted nothing
  }

  test("stateful streaming EWMA carries the recursion across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "ew1")
    val smoothed = StreamIngest.ewmaSmooth(points)
    val query = smoothed.toDF().writeStream.outputMode("update")
      .format("memory").queryName("ewout").start()
    try {
      src.addData(
        s"test,circuit=ew1 v=2 ${t0}000000000",
        s"test,circuit=ew1 v=4 ${(t0 + 10)}000000000")
      query.processAllAvailable()
      // next batch continues from the STATE (e=3), not from scratch
      src.addData(s"test,circuit=ew1 v=8 ${(t0 + 20)}000000000")
      query.processAllAvailable()
      // late point behind the state emits nothing and leaves e intact
      src.addData(s"test,circuit=ew1 v=99 ${(t0 + 15)}000000000")
      src.addData(s"test,circuit=ew1 v=5.5 ${(t0 + 30)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql("SELECT tsSec, ewma FROM ewout ORDER BY tsSec")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq(
      (t0, 2.0),          // seed
      (t0 + 10, 3.0),     // 2*.5 + 4*.5
      (t0 + 20, 5.5),     // 3*.5 + 8*.5 — state crossed the batch
      (t0 + 30, 5.5)))    // 5.5*.5 + 5.5*.5; late 99 emitted nothing
  }

  test("AvailableNow trigger drains a backlog through the store writer and stops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val dir = Files.createTempDirectory("graft-avail").toString
    val store = new SensorStore(spark, dir)
    store.createSensor(SensorConfig("test", "an1", "1s",
      Seq(MetricDef(Seq("v")))))
    val src = MemoryStream[String]
    // backlog accumulated BEFORE the query starts — the catch-up shape
    src.addData((0 until 50).map(i =>
      s"test,circuit=an1 v=$i ${(t0 + i)}000000000"))
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "an1")
    val query = StreamIngest.writer(points, store, "test", "an1")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow processes everything available, then STOPS itself
    query.awaitTermination(60000)
    assert(!query.isActive)
    assert(store.read("test", "an1").count() == 50)
  }

  test("watermarked stream-stream interval join matches within the bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val lsrc = MemoryStream[String]
    val rsrc = MemoryStream[String]
    val lpts = StreamIngest.parse(lsrc.toDF().withColumnRenamed("value", "line"),
      "line", "test", "ssl")
    val rpts = StreamIngest.parse(rsrc.toDF().withColumnRenamed("value", "line"),
      "line", "test", "ssr")
    val joined = StreamIngest.intervalJoin(lpts, rpts,
      within = "60 SECONDS", watermark = "2 minutes")
    val query = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjout").start()
    try {
      lsrc.addData(s"test,circuit=ssl v=1 ${t0}000000000")
      rsrc.addData(
        s"test,circuit=ssr v=10 ${(t0 + 30)}000000000",  // in window
        s"test,circuit=ssr v=20 ${(t0 + 90)}000000000",  // past within
        s"test,circuit=ssr w=30 ${(t0 + 10)}000000000")  // other metric
      query.processAllAvailable()
      // advance both watermarks so results finalize
      lsrc.addData(s"test,circuit=ssl v=2 ${(t0 + 3600)}000000000")
      rsrc.addData(s"test,circuit=ssr v=40 ${(t0 + 3600)}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql(
      "SELECT metric, l_value, r_value FROM ssjout " +
        "WHERE l_value = 1.0 ORDER BY r_value").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("v", 1.0, 10.0))) // only the in-window same-metric row
  }

  test("streaming CMS maintenance equals the batch partials exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    // two micro-batches of (ts, user) events spanning two 5-min windows
    val batch1 = Seq((t0, "alice"), (t0 + 10, "bob"), (t0 + 20, "alice"))
    val batch2 = Seq((t0 + 40, "alice"), (t0 + 301, "carol"),
      (t0 + 310, "bob"), (t0 + 320, "carol"))

    val src = MemoryStream[(Long, String)]
    val events = src.toDF().toDF("sec", "user")
      .select(timestamp_seconds(col("sec")).as("ts"), col("user"))
    val sketch = StreamIngest.cmsMaintain(events, "ts", "user",
      windowDur = "5 minutes", watermark = "10 minutes", d = 3, w = 64)
    val query = sketch.writeStream.outputMode("complete")
      .format("memory").queryName("cmsout").start()
    try {
      src.addData(batch1: _*)
      query.processAllAvailable() // state update mid-stream
      src.addData(batch2: _*)
      query.processAllAvailable()
    } finally query.stop()

    // the incremental counters must EQUAL a batch pass over the union —
    // the CMS merge is an entrywise sum, so streaming state update is
    // exact, not approximate
    val all = (batch1 ++ batch2).toDF("sec", "user")
      .select((floor(col("sec") / 300) * 300).as("window_sec"), col("user"))
    val expected = graft.operators.Sketches
      .cmsPartials(all, Seq("window_sec"), "user", d = 3, w = 64)
      .select(col("window_sec"), col("r"), col("bucket"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    val streamed = spark.sql(
      "SELECT unix_timestamp(window_start), r, bucket, cnt FROM cmsout")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(streamed == expected)

    // point queries over the streamed matrix dominate exact counts
    val matrix = spark.table("cmsout")
      .select(unix_timestamp(col("window_start")).as("window_sec"),
        col("r"), col("bucket"), col("cnt"))
    val cands = Seq((t0 / 300 * 300, "alice"), (t0 / 300 * 300, "bob"),
      ((t0 + 301) / 300 * 300, "carol")).toDF("window_sec", "user")
    val est = graft.operators.Sketches
      .cmsEstimate(matrix, Seq("window_sec"), cands, "user", d = 3, w = 64)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(est("alice") >= 2L && est("bob") >= 1L && est("carol") >= 2L)
  }

  test("toStore assembles parse → locked upsert → rollup refresh: " +
    "rollups stay consistent after every batch; redelivery is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-tostore").toString
    val store = new SensorStore(spark, dir)
    store.createSensor(SensorConfig("test", "e2e", "1s",
      Seq(MetricDef(Seq("active")), MetricDef(Seq("reactive")))))
    val t0 = 1704067200L
    // materialize a 60s rollup BEFORE streaming starts — every batch's
    // write must keep it exact (derived data stays derived)
    store.write("test", "e2e",
      Seq((t0, "active", 1.0)).toDF("sec", "metric", "value")
        .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
          col("value")))
    store.materializeRollup("test", "e2e", 60L)

    def rollupConsistent(): Unit = {
      // rollup read == re-aggregating the raw cells (first non-null per
      // 60s bucket) — i.e. no read can see a pre-upsert rollup value
      val raw = store.read("test", "e2e")
        .withColumn("bucket", (col("ts").cast("long") -
          col("ts").cast("long") % 60).cast("long"))
        .groupBy("bucket")
        .agg(min_by(col("active"), when(col("active").isNotNull,
            col("ts"))).as("active"),
          min_by(col("reactive"), when(col("reactive").isNotNull,
            col("ts"))).as("reactive"))
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)), Option(r.get(2)))).toMap
      val roll = store.readRollup("test", "e2e", graft.store.RollupKind.First, 60L, 60L)
        .collect().map(r => r.getTimestamp(0).toInstant.getEpochSecond ->
          (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(roll == raw)
    }

    val src = MemoryStream[String]
    val query = StreamIngest.toStore(
      src.toDF().withColumnRenamed("value", "line"), "line",
      store, "test", "e2e").start()
    try {
      src.addData(
        s"test,circuit=e2e active=9,reactive=10 ${t0 + 120}000000000",
        s"garbage line that must be dropped",
        s"test,circuit=e2e active=11 ${(t0 + 125)}000000000")
      query.processAllAvailable()
      rollupConsistent() // batch 1 refreshed the touched chunk's rollup

      // batch 2: EXACT redelivery of batch 1 (at-least-once source) + a
      // LATE point that rewrites an already-rolled-up historical bucket
      src.addData(
        s"test,circuit=e2e active=9,reactive=10 ${t0 + 120}000000000",
        s"test,circuit=e2e active=11 ${(t0 + 125)}000000000",
        s"test,circuit=e2e reactive=77 ${t0}000000000")
      query.processAllAvailable()
    } finally query.stop()

    // effectively-once: redelivered cells left every row byte-identical
    // (only the late point changed the store)
    val out = store.read("test", "e2e").collect()
    val byTs = out.map(r => r.getTimestamp(0).toInstant.getEpochSecond ->
      (if (r.isNullAt(1)) None else Some(r.getFloat(1)),
        if (r.isNullAt(2)) None else Some(r.getFloat(2)))).toMap
    assert(byTs(t0) == (Some(1.0f), Some(77.0f)))       // late cell landed
    assert(byTs(t0 + 120) == (Some(9.0f), Some(10.0f))) // redelivery: same
    assert(byTs(t0 + 125) == (Some(11.0f), None))
    assert(out.length == 3)
    // the late write refreshed the historical bucket's rollup too
    rollupConsistent()
  }

  test("toStore survives a query restart from its checkpoint: processed " +
    "batches never replay differently, pending data still lands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-restart").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val store = new SensorStore(spark, dir)
    store.createSensor(SensorConfig("test", "rst", "1s",
      Seq(MetricDef(Seq("active")))))
    val t0 = 1704067200L

    val src = MemoryStream[String]
    def start() = StreamIngest.toStore(
      src.toDF().withColumnRenamed("value", "line"), "line",
      store, "test", "rst")
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      src.addData(s"test,circuit=rst active=1 ${t0}000000000")
      q1.processAllAvailable()
    } finally q1.stop()

    // data arriving while the query is DOWN…
    src.addData(s"test,circuit=rst active=2 ${(t0 + 10)}000000000")

    // …lands after the restart; the committed first batch is not
    // re-applied (same offsets resume from the checkpoint)
    val q2 = start()
    try {
      q2.processAllAvailable()
      src.addData(s"test,circuit=rst active=3 ${(t0 + 20)}000000000")
      q2.processAllAvailable()
    } finally q2.stop()

    val byTs = store.read("test", "rst").collect()
      .map(r => r.getTimestamp(0).toInstant.getEpochSecond ->
        r.getFloat(1)).toMap
    assert(byTs == Map(t0 -> 1.0f, (t0 + 10) -> 2.0f, (t0 + 20) -> 3.0f),
      s"restart lost or duplicated a batch: $byTs")
  }

  test("watermarked streaming dedup drops in-batch and retried duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(
      src.toDF().withColumnRenamed("value", "line"), "line", "test", "d1")
    val dd = StreamIngest.dedupWithinWatermark(points, Seq("metric", "ts"),
      "10 minutes")
    val query = dd.writeStream.outputMode("append")
      .format("memory").queryName("ddup").start()
    try {
      src.addData(
        s"test,circuit=d1 v=1 ${t0}000000000",
        s"test,circuit=d1 v=1 ${t0}000000000", // in-batch duplicate
        s"test,circuit=d1 v=2 ${t0 + 60}000000000")
      query.processAllAvailable()
      src.addData(
        s"test,circuit=d1 v=1 ${t0}000000000", // cross-batch retry
        s"test,circuit=d1 v=3 ${t0 + 120}000000000")
      query.processAllAvailable()
    } finally query.stop()

    val rows = spark.sql("SELECT metric, ts, value FROM ddup ORDER BY ts")
      .collect()
    assert(rows.length == 3,
      s"expected the 3 distinct points, got: ${rows.mkString("; ")}")
    assert(rows.map(_.getTimestamp(1).toInstant.getEpochSecond).toSeq ==
      Seq(t0, t0 + 60, t0 + 120))
  }

  test("streaming lambda near-dup pipeline reproduces the batch " +
    "dedup_incremental_near verdicts at sf0.01 (batch ≡ stream)") {
    import graft.ext.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // same data split as the oracled batch key: batch = doc_id % 7 == 3
    // streamed in doc_id order, corpus band index persisted at rest
    val dir = "/root/testdata/sf0.01"
    val nh = graft.queries.ExtQueries.NumHashes
    val d = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpusBands = Dedup.bands(
        Dedup.minhash(Dedup.shingles(
          d.filter(col("doc_id") % 7 =!= 3), "doc_id", "text", 3),
          "doc_id", nh), "doc_id", nh, 1)
      .select(col("band"), col("band_key"), col("doc_id").as("corpus_id"))
      .localCheckpoint()
    val bloom = StreamIngest.bandBloom(corpusBands, expectedItems = 100000L)

    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.bands(Dedup.minhash(
        Dedup.shingles(df, "doc_id", "text", 3), "doc_id", nh),
        "doc_id", nh, 1)

    // the stream job: stateless Bloom screen per micro-batch, then the
    // exact confirm in foreachBatch — corpus probe ONLY for flagged
    // docs (the screen is load-bearing, not advisory), within-stream
    // first-wins against the accumulated index of earlier stream docs
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long)]
    var prevBands: Option[org.apache.spark.sql.DataFrame] = None
    val src = MemoryStream[(Long, String)]
    val screened = StreamIngest.nearDupScreen(
      src.toDF().toDF("doc_id", "text"), bloom, "doc_id", "text",
      nh, 1, 3)
    val query = screened.writeStream.outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = bandsOf(mb.select("doc_id", "text")).localCheckpoint()
        val corpusNn = b
          .join(mb.filter(col("maybe_near_dup")).select("doc_id"), "doc_id")
          .join(corpusBands, Seq("band", "band_key"))
          .groupBy("doc_id").agg(min("corpus_id").as("corpus_nn"))
        val seen = prevBands
          .map(_.unionByName(b)).getOrElse(b)
          .select(col("doc_id").as("__a"), col("band"), col("band_key"))
        val earlier = b.join(seen, Seq("band", "band_key"))
          .filter(col("__a") < col("doc_id"))
          .groupBy("doc_id").agg(min("__a").as("batch_first"))
        val verdicts = mb.select("doc_id")
          .join(corpusNn, Seq("doc_id"), "left")
          .join(earlier, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("corpus_nn").isNotNull, lit("near_dup_of_corpus"))
              .when(col("batch_first").isNotNull, lit("near_dup_in_batch"))
              .otherwise(lit("new")).as("verdict"),
            coalesce(col("corpus_nn"), col("batch_first"), col("doc_id"))
              .as("canonical_id"))
          .collect()
        results ++= verdicts.map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2)))
        prevBands = Some(prevBands.map(_.unionByName(b)).getOrElse(b)
          .localCheckpoint())
        ()
      }
      .start()
    try {
      val batchDocs = d.filter(col("doc_id") % 7 === 3)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // three micro-batches in doc_id order ("earlier in stream" =
      // smaller doc_id = the batch key's first-wins order)
      batchDocs.grouped((batchDocs.length + 2) / 3).foreach { chunk =>
        src.addData(chunk.toSeq)
        query.processAllAvailable()
      }
    } finally query.stop()

    val streamVerdicts = results.sortBy(_._1).toSeq
    val batchVerdicts = graft.queries.ExtQueries
      .queries("dedup_incremental_near")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(streamVerdicts.nonEmpty &&
      streamVerdicts.exists(_._2 != "new"),
      "fixture must exercise non-trivial verdicts")
    assert(streamVerdicts == batchVerdicts,
      s"stream and batch verdicts diverge:\n" +
        streamVerdicts.zip(batchVerdicts)
          .filter { case (a, b) => a != b }.take(10).mkString("\n"))
  }

  test("streaming session analytics reproduces the batch " +
    "events_session_window frame at sf0.01 volume (batch ≡ stream; " +
    "r12 ask #4 — the session path gets the near-dup treatment)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = "/root/testdata/sf0.01"
    // the full events fixture, streamed in event-time order (monotone
    // watermark ⇒ nothing is dropped as late) across several
    // micro-batches; a far-future sentinel advances the watermark past
    // every real session so append mode finalizes them all
    val events = graft.queries.TsQueries.base(spark, dir)
      .select(col("sec"), col("user_id"), col("value"))
      .orderBy("sec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sentinelUser = -1L
    val sentinelSec = events.map(_._1).max + 1000000L

    val src = MemoryStream[(Long, Long, Double)]
    val points = src.toDF().toDF("sec", "user_id", "value")
      .select(timestamp_seconds(col("sec")).as("ts"),
        col("user_id"), col("value"))
    val query = StreamIngest.sessionStats(points, "user_id",
        "1800 seconds", "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions")
      .start()
    try {
      events.grouped((events.length + 3) / 4).foreach { chunk =>
        src.addData(chunk.toSeq)
        query.processAllAvailable()
      }
      src.addData((sentinelSec, sentinelUser, 0.0))
      query.processAllAvailable()
    } finally query.stop()

    val stream = spark.table("stream_sessions")
      .filter(col("user_id") =!= sentinelUser)
      .select(col("user_id"),
        col("session_start").cast("long").as("start_sec"),
        col("session_end").cast("long").as("end_sec"),
        col("n").as("n_events"))
      .orderBy("user_id", "start_sec")
      .collect().map(_.toString)
    val batch = graft.SparkEntry.queries("events_session_window")(spark, dir)
      .collect().map(_.toString)
    assert(stream.nonEmpty && stream.length == batch.length,
      s"session counts diverge: stream=${stream.length} batch=${batch.length}")
    assert(stream.sameElements(batch),
      s"stream and batch sessions diverge:\n" +
        stream.zip(batch).filter { case (a, b) => a != b }
          .take(10).mkString("\n"))
  }

  test("streaming windowed stats finalize COMPLETELY and reproduce the " +
    "ORACLED batch events_windowed_stats frame bit-for-bit at sf0.01 " +
    "volume (append mode drops nothing, duplicates nothing; the " +
    "batch≡stream equality terminates in the DuckDB hash — r13 ask #8)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = "/root/testdata/sf0.01"
    val events = graft.queries.TsQueries.base(spark, dir)
      .select(col("sec"), col("event_type"), col("value"))
      .filter(col("value").isNotNull)
      .orderBy("sec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val sentinelSec = events.map(_._1).max + 1000000L

    val src = MemoryStream[(Long, String, Double)]
    val points = src.toDF().toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"),
        col("metric"), col("value"))
    val query = StreamIngest.windowedStats(points, "1 hour", "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_windows")
      .start()
    try {
      events.grouped((events.length + 2) / 3).foreach { chunk =>
        src.addData(chunk.toSeq)
        query.processAllAvailable()
      }
      src.addData((sentinelSec, "__sentinel", 0.0))
      query.processAllAvailable()
    } finally query.stop()

    // the batch side is the ORACLED key itself (events_windowed_stats
    // routes through StreamIngest.windowedStats under batch execution),
    // so stream ≡ key ≡ DuckDB hash — and the equality is EXACT, incl.
    // the mean: windowedStats decimal-routes the sum, so micro-batched
    // partial merges cannot reassociate a float fold
    val stream = spark.table("stream_windows")
      .filter(col("metric") =!= "__sentinel")
      .select(col("window_start").cast("long").as("window_start_sec"),
        col("metric"), col("n"), col("avg_value"), col("min_value"),
        col("max_value"))
      .orderBy("window_start_sec", "metric")
      .collect().map(_.toString)
    val batch = graft.SparkEntry.queries("events_windowed_stats")(spark, dir)
      .collect().map(_.toString)
    assert(stream.length == batch.length && stream.nonEmpty,
      s"window counts diverge: stream=${stream.length} batch=${batch.length}")
    assert(stream.sameElements(batch),
      s"stream and batch windows diverge:\n" +
        stream.zip(batch).filter { case (a, b) => a != b }
          .take(10).mkString("\n"))
  }

  test("streaming HOPPING windows finalize completely and reproduce " +
    "the oracled events_hopping_stats frame bit-for-bit at sf0.01 " +
    "volume (each point lands in dur/slide overlapping windows)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = "/root/testdata/sf0.01"
    val events = graft.queries.TsQueries.base(spark, dir)
      .select(col("sec"), col("event_type"), col("value"))
      .filter(col("value").isNotNull)
      .orderBy("sec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val sentinelSec = events.map(_._1).max + 1000000L

    val src = MemoryStream[(Long, String, Double)]
    val points = src.toDF().toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"),
        col("metric"), col("value"))
    val query = StreamIngest.hoppingStats(points, "1 hour", "30 minutes",
        "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_hops")
      .start()
    try {
      events.grouped((events.length + 2) / 3).foreach { chunk =>
        src.addData(chunk.toSeq)
        query.processAllAvailable()
      }
      src.addData((sentinelSec, "__sentinel", 0.0))
      query.processAllAvailable()
    } finally query.stop()

    val stream = spark.table("stream_hops")
      .filter(col("metric") =!= "__sentinel")
      .select(col("window_start").cast("long").as("window_start_sec"),
        col("metric"), col("n"), col("avg_value"), col("min_value"),
        col("max_value"))
      .orderBy("window_start_sec", "metric")
      .collect().map(_.toString)
    val batch = graft.SparkEntry.queries("events_hopping_stats")(spark, dir)
      .collect().map(_.toString)
    assert(stream.length == batch.length && stream.nonEmpty,
      s"window counts diverge: stream=${stream.length} batch=${batch.length}")
    assert(stream.sameElements(batch),
      s"stream and batch hopping windows diverge:\n" +
        stream.zip(batch).filter { case (a, b) => a != b }
          .take(10).mkString("\n"))
  }

  test("writer upserts under the sensor's writer lock: a micro-batch " +
    "does not land while the lock is held") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = Files.createTempDirectory("graft-stream-lock").toString
    val store = new SensorStore(spark, dir)
    store.createSensor(SensorConfig("test", "lk", "1s",
      Seq(MetricDef(Seq("active")))))
    val t0 = 1704067200L
    val src = MemoryStream[String]
    val points = StreamIngest.parse(src.toDF().withColumnRenamed("value", "line"),
      "line", "test", "lk")
    val query = StreamIngest.writer(points, store, "test", "lk").start()
    try {
      store.withWriterLock("test", "lk") {
        src.addData(s"test,circuit=lk active=1 ${t0}000000000")
        // long enough for an unlocked batch to land several times over
        val deadline = System.currentTimeMillis() + 8000
        while (System.currentTimeMillis() < deadline &&
               store.lastTimestamp("test", "lk").isEmpty) Thread.sleep(200)
        assert(store.lastTimestamp("test", "lk").isEmpty,
          "the micro-batch landed while the writer lock was held")
      }
      query.processAllAvailable()
    } finally query.stop()
    assert(store.lastTimestamp("test", "lk").contains(t0))
  }
}
