package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Write→read round-trips through the store — the Spark analog of the
  * reference's highest-value tests (`tests/test_client.py:84-120`:
  * exact frame equality across write/read paths; `:148-153`: 10k-point
  * volume; `:172-206`: MultiIndex metrics; `test_write_point_list.py`:
  * influx → store → read-back).
  */
class SensorStoreSpec extends SparkSpec {

  private def freshStoreDir(): (SensorStore, String) = {
    val dir = Files.createTempDirectory("graft-store").toString
    (new SensorStore(spark, dir), dir)
  }

  private def freshStore(): SensorStore = freshStoreDir()._1

  private def cfg1s = SensorConfig("test", "s1", "1s",
    Seq(MetricDef(Seq("active")), MetricDef(Seq("reactive"))))

  test("read PRUNES chunk partitions end-to-end: a bounded range read " +
    "over a 5-chunk sensor carries PartitionFilters and scans exactly " +
    "the intersecting chunk (database.py:676-717 chunk pruning, " +
    "Catalyst edition — r12 ask #5)") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(SensorConfig("pl", "s1", "1s", Seq(MetricDef(Seq("v")))))
    val chunkDur = graft.core.Freq.ChunkRows // 1s tick ⇒ 16384 s/chunk
    val t0 = 1704067200L - 1704067200L % chunkDur
    val pts = (0 until 5).flatMap(i => Seq(
        (t0 + i * chunkDur + 10, "v", i.toDouble),
        (t0 + i * chunkDur + 20, "v", i + 0.5)))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"),
        col("metric"), col("value"))
    st.write("pl", "s1", pts)
    assert(st.listChunks("pl", "s1").length == 5,
      "fixture must span 5 chunk partitions")

    val rd = st.read("pl", "s1",
      Some(t0 + 2 * chunkDur), Some(t0 + 2 * chunkDur + 100))
    // sparkPlan, not executedPlan: AQE wraps the executed tree in an
    // AdaptiveSparkPlanExec whose collect() cannot see the scan
    val scans = rd.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "range read must be a parquet file scan")
    assert(scans.head.partitionFilters.nonEmpty,
      "chunk_start bounds did not reach the scan as partition filters")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"bounded read scanned ${scans.head.selectedPartitions.partitionCount}" +
        " of 5 chunk partitions — pruning regressed")
    // and the pruned read still returns exactly the in-range rows
    val vals = rd.collect().map(_.getFloat(1))
    assert(vals.sorted.sameElements(Array(2.0f, 2.5f)))
  }

  test("catalog: create / exists / list / config round-trip / delete") {
    val st = freshStore()
    st.createSensor(cfg1s)
    assert(st.existsSensor("test", "s1"))
    assert(st.listDbs() == Seq("test"))
    assert(st.listSensors("test") == Seq("s1"))
    val c = st.config("test", "s1")
    assert(c.freq == "1s" && c.metricNames == Seq("active", "reactive"))
    st.deleteSensor("test", "s1")
    assert(!st.existsSensor("test", "s1"))
  }

  test("multi-level metric names flatten to dotted columns") {
    val cfg = SensorConfig("test", "mi", "1D",
      Seq(MetricDef(Seq("A", "B", "C")), MetricDef(Seq("D", "E", "F"))),
      metadata = Map("level_names" -> "one,two,three"))
    val st = freshStore()
    st.createSensor(cfg)
    val c = st.config("test", "mi")
    assert(c.metricNames == Seq("A.B.C", "D.E.F"))
    assert(c.metadata("level_names") == "one,two,three")
  }

  test("write then read: exact round-trip on the grid") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    val t0 = 1704067200L
    val pts = Seq(
      (t0, "active", 9.0), (t0, "reactive", 10.0),
      (t0 + 1, "active", 11.0),
      (t0 + 2, "reactive", 12.0))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts)
    val out = st.read("test", "s1").collect()
    assert(out.length == 3)
    assert(out(0).getFloat(1) == 9.0f && out(0).getFloat(2) == 10.0f)
    assert(out(1).getFloat(1) == 11.0f && out(1).isNullAt(2))
    assert(out(2).isNullAt(1) && out(2).getFloat(2) == 12.0f)
  }

  test("nanForMissing: unwritten cells read as NaN (float32 parity)") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    val t0 = 1704067200L
    val pts = Seq((t0, "active", 1.0))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts)
    val r = st.read("test", "s1", nanForMissing = true).head()
    assert(r.getFloat(1) == 1.0f)
    assert(r.getFloat(2).isNaN) // reactive never written → NaN, not null
  }

  test("sub-tick timestamps snap down; same tick last-write-wins") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(SensorConfig("test", "s15", "15m",
      Seq(MetricDef(Seq("v")))))
    val t0 = 1704067200L
    val pts = Seq(
      (t0 + 10, "v", 1.0),  // 00:00:10 → slot 00:00
      (t0 + 700, "v", 2.0)) // 00:11:40 → same 15m slot, later wins
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s15", pts)
    val out = st.read("test", "s15").collect()
    assert(out.length == 1)
    assert(out(0).getTimestamp(0).toInstant.getEpochSecond == t0)
    assert(out(0).getFloat(1) == 2.0f)
  }

  test("second write upserts cells without touching others") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    val t0 = 1704067200L
    def pts(rows: Seq[(Long, String, Double)]) =
      rows.toDF("sec", "metric", "value")
        .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts(Seq((t0, "active", 1.0), (t0, "reactive", 2.0))))
    st.write("test", "s1", pts(Seq((t0, "active", 9.0)))) // only one cell
    val out = st.read("test", "s1").collect()
    assert(out.length == 1)
    assert(out(0).getFloat(1) == 9.0f)   // overwritten
    assert(out(0).getFloat(2) == 2.0f)   // preserved
  }

  test("schema evolution: new metric fills old chunks, NaN-free reads") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    val t0 = 1704067200L
    def pts(rows: Seq[(Long, String, Double)]) =
      rows.toDF("sec", "metric", "value")
        .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts(Seq((t0, "active", 1.0))))
    // new metric "nueva" arrives much later (next chunk), fill=0
    val t1 = t0 + 16384 * 2 // two chunks later for 1s freq
    val cfg2 = st.write("test", "s1",
      pts(Seq((t1, "nueva", 17.0), (t1, "active", 2.0))), fillValue = 0.0)
    assert(cfg2.metricNames.contains("nueva"))
    val out = st.read("test", "s1").orderBy("ts").collect()
    assert(out.length == 2)
    // old row: nueva filled with 0 (reference add_new_metrics semantics)
    assert(out(0).getFloat(1) == 1.0f && out(0).getFloat(3) == 0.0f)
    // new row: real value
    assert(out(1).getFloat(1) == 2.0f && out(1).getFloat(3) == 17.0f)
  }

  test("time-range read prunes and bounds inclusively") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(SensorConfig("test", "sh", "1h", Seq(MetricDef(Seq("v")))))
    val t0 = 1704067200L
    val pts = (0 until 48).map(h => (t0 + h * 3600L, "v", h.toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "sh", pts)
    val out = st.read("test", "sh",
      fromSec = Some(t0 + 10 * 3600), toSec = Some(t0 + 20 * 3600)).collect()
    assert(out.length == 11)
    assert(out.head.getFloat(1) == 10.0f && out.last.getFloat(1) == 20.0f)
  }

  test("lastTimestamp: empty → None, else max written tick") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    assert(st.lastTimestamp("test", "s1").isEmpty)
    val t0 = 1704067200L
    val pts = Seq((t0, "active", 1.0), (t0 + 999, "active", 2.0))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts)
    assert(st.lastTimestamp("test", "s1").contains(t0 + 999))
  }

  test("10k-point volume round-trip across many chunks") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(SensorConfig("vol", "s", "1s", Seq(MetricDef(Seq("v")))))
    val t0 = 1704067200L
    // 10k points spaced 600s apart — spans ~367 chunks of 16384s
    val pts = (0 until 10000).map(i => (t0 + i * 600L, "v", i.toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("vol", "s", pts)
    val out = st.read("vol", "s")
    assert(out.count() == 10000L)
    val bounds = out.agg(min("ts"), max("ts")).head()
    assert(bounds.getTimestamp(0).toInstant.getEpochSecond == t0)
    assert(bounds.getTimestamp(1).toInstant.getEpochSecond == t0 + 9999 * 600L)
    assert(st.lastTimestamp("vol", "s").contains(t0 + 9999 * 600L))
  }

  test("checksum validation drops tampered rows, like the corrupt-chunk skip") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    val t0 = 1704067200L
    val pts = Seq((t0, "active", 1.0), (t0 + 1, "active", 2.0))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts)
    assert(st.read("test", "s1", validateChecksums = true).count() == 2)

    // tamper one row's stored checksum in the listed file, in place
    // (out-of-band corruption)
    Tamper.checksum(spark, st.dataFiles("test", "s1"), t0, 100f)

    assert(st.read("test", "s1", validateChecksums = false).count() == 2)
    val ok = st.read("test", "s1", validateChecksums = true)
      .collect()
    assert(ok.length == 1 && ok(0).getFloat(1) == 2.0f)
  }

  test("rollup materialization: first value per coarse bucket, pruned reads") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    val t0 = 1704067200L
    // 120 seconds of 1s data → 2 one-minute buckets
    val pts = (0 until 120).map(i => (t0 + i, "active", i.toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts)
    st.materializeRollup("test", "s1", 60L)
    val rows = st.readRollup("test", "s1", RollupKind.First, 60L, 60L).collect()
    assert(rows.length == 2)
    assert(rows(0).getFloat(1) == 0f)   // first of minute 0
    assert(rows(1).getFloat(1) == 60f)  // first of minute 1
    val pruned = st.readRollup("test", "s1", RollupKind.First, 60L, 60L,
      fromSec = Some(t0 + 60), toSec = Some(t0 + 119)).collect()
    assert(pruned.length == 1 && pruned(0).getFloat(1) == 60f)
  }

  test("a first-value bucket straddling a chunk boundary reads as ONE " +
       "row holding the earlier chunk's value") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(cfg1s)
    val chunkDur = graft.core.Freq.ChunkRows.toLong
    val boundary = (1704067200L / chunkDur + 1) * chunkDur
    assert(boundary % 60 != 0, "fixture needs a 60 s bucket across the boundary")
    // seconds boundary-3 .. boundary+2: one bucket, two chunk partials
    st.write("test", "s1", (0 until 6)
      .map(i => (boundary - 3 + i, "active", i.toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value")))
    st.materializeRollup("test", "s1", 60L)
    val rows = st.readRollup("test", "s1", RollupKind.First, 60L, 60L).collect()
    assert(rows.length == 1 && rows(0).getFloat(1) == 0f)
  }

  test("deleteBefore drops whole old chunks from data AND rollups") {
    import spark.implicits._
    val (st, dir) = freshStoreDir()
    st.createSensor(cfg1s)
    val chunkDur = 16384L // 1s tick × 2^14 rows
    val base = 1704067200L / chunkDur * chunkDur
    val pts = Seq(base, base + chunkDur, base + 2 * chunkDur).zipWithIndex
      .map { case (t, i) => (t, "active", i.toDouble) }
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    st.write("test", "s1", pts)
    // EVERY rollup family must be retention-pruned (r15 advice: the
    // stats/sketch/quant trees used to outlive their source chunks)
    st.materializeRollup("test", "s1", 60L)
    st.materializeMeanRollup("test", "s1", 60L)
    st.materialize("test", "s1", RollupKind.Sketch, 60L)
    st.materializeQuantileRollup("test", "s1", 60L, 1.0)
    st.materializeStatsRollup("test", "s1", 60L)
    val v0 = st.resolve("test", "s1")
    assert(v0.rollups.size == 5)
    v0.rollups.foreach(r => assert(r.chunks.contains(base), r.kind))
    val oldFiles = (v0.data(base) ++ v0.rollups.flatMap(_.chunks(base)))
      .map(f => java.nio.file.Paths.get(s"$dir/test/s1/$f"))
    assert(oldFiles.forall(java.nio.file.Files.exists(_)))
    assert(st.listChunks("test", "s1").length == 3)
    // cutoff INSIDE the second chunk → only the wholly-older first
    // chunk drops (whole-chunk granularity)
    val dropped = st.deleteBefore("test", "s1", base + chunkDur + 5)
    assert(dropped == Seq(base))
    val v1 = st.resolve("test", "s1")
    v1.rollups.foreach { r =>
      assert(!r.chunks.contains(base), r.kind)
      assert(r.chunks.contains(base + chunkDur), r.kind)
    }
    assert(st.listChunks("test", "s1") ==
      Seq(base + chunkDur, base + 2 * chunkDur))
    val out = st.read("test", "s1")
      .select(unix_timestamp(col("ts")).as("sec")).collect()
    assert(out.length == 2 && out.forall(_.getLong(0) >= base + chunkDur))
    // the rollup no longer reads the dropped chunk either
    val roll = st.readRollup("test", "s1", RollupKind.First, 60L, 60L)
    assert(roll.count() == 2)
    // the dropped chunk's files stay for readers of the previous
    // version, and go with the next commit
    assert(oldFiles.forall(java.nio.file.Files.exists(_)))
    st.updateConfig("test", "s1")(identity)
    assert(oldFiles.forall(!java.nio.file.Files.exists(_)),
      oldFiles.filter(java.nio.file.Files.exists(_)))
    // idempotent: nothing older remains
    assert(st.deleteBefore("test", "s1", base + chunkDur + 5).isEmpty)
  }

  test("a write replaces only its own chunks while another job keeps " +
       "setting the session's partitionOverwriteMode to static") {
    import spark.implicits._
    val st = freshStore()
    st.createSensor(SensorConfig("ow", "s", "1s", Seq(MetricDef(Seq("v")))))
    val chunkDur = graft.core.Freq.ChunkRows.toLong
    val base = 1704067200L / chunkDur * chunkDur
    def pts(rows: Seq[(Long, Double)]) = rows.toDF("sec", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), lit("v").as("metric"),
        col("value"))
    st.write("ow", "s", pts(for (c <- 0 until 3; i <- 0 until 10)
      yield (base + c * chunkDur + i, (c * 100 + i).toDouble)))
    st.materializeMeanRollup("ow", "s", 60L)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    @volatile var stop = false
    val flipper = new Thread(() =>
      while (!stop) { spark.conf.set(key, "static"); Thread.sleep(1) })
    flipper.start()
    try (0 until 3).foreach(j =>
      st.write("ow", "s", pts(Seq((base + chunkDur + j, 1000.0 + j)))))
    finally {
      stop = true
      flipper.join()
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val got = st.read("ow", "s")
      .select(unix_timestamp(col("ts")), col("v")).collect()
      .map(r => r.getLong(0) -> r.getFloat(1)).toMap
    for (c <- 0 until 3; i <- 0 until 10) {
      val want = if (c == 1 && i < 3) 1000f + i else c * 100f + i
      assert(got.get(base + c * chunkDur + i).contains(want), s"chunk $c row $i")
    }
    assert(st.resolve("ow", "s").rollups.head.chunks.keySet ==
      (0 until 3).map(base + _ * chunkDur).toSet, "rollup chunks")
  }

  test("concurrent writers to different sensors do not interfere") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val st = freshStore()
    val t0 = 1704067200L
    val sensors = (0 until 4).map(i => s"c$i")
    sensors.foreach(sn =>
      st.createSensor(SensorConfig("conc", sn, "1s", Seq(MetricDef(Seq("v"))))))
    val futures = sensors.zipWithIndex.map { case (sn, i) =>
      Future {
        val pts = (0 until 500).map(j => (t0 + j * 100L, "v", (i * 1000 + j).toDouble))
          .toDF("sec", "metric", "value")
          .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
        st.write("conc", sn, pts)
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    sensors.zipWithIndex.foreach { case (sn, i) =>
      val rows = st.read("conc", sn).collect()
      assert(rows.length == 500, sn)
      assert(rows.head.getFloat(1) == i * 1000f)
      // checksum audit after hostile interleaving (test_database.py:190-207 analog)
      assert(st.read("conc", sn, validateChecksums = true).count() == 500)
    }
  }

  test("mean rollup partials re-aggregate exactly to any coarser grid") {
    import spark.implicits._
    val st = freshStore()
    val t0 = 1704067200L
    st.createSensor(SensorConfig("mr", "s", "1s", Seq(MetricDef(Seq("v")))))
    // 600 seconds, value = i at second i (only even seconds written)
    val pts = (0 until 600 by 2).map(i => (t0 + i, "v", i.toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    st.write("mr", "s", pts)
    st.materializeMeanRollup("mr", "s", 60L)

    // read back at the rollup grid: mean of evens in [b, b+60)
    val at60 = st.readRollup("mr", "s", RollupKind.Mean, 60L, 60L).collect()
    assert(at60.length == 10)
    // bucket 0 holds 0,2,...,58 → mean 29
    assert(at60(0).getDouble(1) == 29.0)

    // re-aggregated to 300s WITHOUT touching raw data: exact merge
    val at300 = st.readRollup("mr", "s", RollupKind.Mean, 60L, 300L).collect()
    assert(at300.length == 2)
    assert(at300(0).getDouble(1) == 149.0) // mean of 0..298 evens
    assert(at300(1).getDouble(1) == 449.0) // mean of 300..598 evens

    // a coarse grid that is not a multiple of the rollup grid refuses
    intercept[IllegalArgumentException] {
      st.readRollup("mr", "s", RollupKind.Mean, 60L, 90L)
    }
  }

  test("sketch rollup: merged distinct estimates equal the direct sketch") {
    import spark.implicits._
    val st = freshStore()
    val t0 = 1704067200L
    st.createSensor(SensorConfig("sk", "s", "1s", Seq(MetricDef(Seq("v")))))
    // 600 seconds; value cycles over 37 distinct doubles so coarse
    // buckets genuinely merge overlapping value sets across partials
    val pts = (0 until 600).map(i => (t0 + i, "v", (i % 37).toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    st.write("sk", "s", pts)
    st.materialize("sk", "s", RollupKind.Sketch, 60L)
    assert(st.listRollups("sk", "s") == Seq(RollupKind.Sketch -> 60L))

    // merged-to-300s estimates from partials must EQUAL the direct
    // sketch over the raw rows at the same grid (union is lossless at
    // fixed lgK — the SketchesSpec algebra, via the store path)
    val merged = st.readRollup("sk", "s", RollupKind.Sketch, 60L, 300L).collect()
    val direct = st.read("sk", "s")
      .select((unix_timestamp(col("ts")) - (unix_timestamp(col("ts")) % 300))
        .as("cb"), col("v"))
      .groupBy("cb")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(when(!isnan(col("v")), col("v").cast("string")),
          lit(RollupKind.SketchLgK))).as("d"))
      .orderBy("cb").collect()
    assert(merged.length == 2 && direct.length == 2)
    assert(merged.map(_.getLong(1)).toSeq == direct.map(_.getLong(1)).toSeq)
    // 37 distinct values everywhere — HLL at lgK=12 is exact this small
    assert(merged.map(_.getLong(1)).toSeq == Seq(37L, 37L))

    // non-multiple coarse grid refuses, like the mean rollup
    intercept[IllegalArgumentException] {
      st.readRollup("sk", "s", RollupKind.Sketch, 60L, 90L)
    }
  }

  test("quantile rollup: merged histogram partials equal the direct grid quantile") {
    import spark.implicits._
    val st = freshStore()
    val t0 = 1704067200L
    st.createSensor(SensorConfig("qr", "s", "1s", Seq(MetricDef(Seq("v")))))
    // 600 seconds, value i%100 → per-300s-bucket p50 over 0..99 cycles
    val pts = (0 until 600).map(i => (t0 + i, "v", (i % 100).toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    st.write("qr", "s", pts)
    st.materializeQuantileRollup("qr", "s", 60L, binWidth = 1.0)
    st.materializeQuantileRollup("qr", "s", 300L, binWidth = 1.0)
    assert(st.listRollups("qr", "s") ==
      Seq(RollupKind.Quantile(1.0) -> 60L, RollupKind.Quantile(1.0) -> 300L))

    // fine partials merged to 300s must EQUAL the 300s-native rollup:
    // integer counts sum losslessly (merge-equals-direct)
    val merged = st.readRollup("qr", "s", RollupKind.Quantile(1.0, 50), 60L, 300L)
      .collect()
    val direct = st.readRollup("qr", "s", RollupKind.Quantile(1.0, 50), 300L, 300L)
      .collect()
    assert(merged.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      direct.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq)
    // hand value: each 300s bucket holds 0..99 ×3 → rank ceil(150)=150
    // → cum reaches 150 at bin 49 → p50 = 49.0
    assert(merged.map(_.getDouble(1)).toSeq == Seq(49.0, 49.0))
    // p95: rank ceil(0.95·300)=285 → bin 94
    val p95 = st.readRollup("qr", "s", RollupKind.Quantile(1.0, 95), 60L, 300L)
      .collect()
    assert(p95.map(_.getDouble(1)).toSeq == Seq(94.0, 94.0))

    // upsert refresh: overwrite one second with a huge value — the
    // materialized partials must re-aggregate (no stale rollup serve)
    val up = Seq((t0 + 1, "v", 1000.0)).toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    st.write("qr", "s", up)
    val after = st.readRollup("qr", "s", RollupKind.Quantile(1.0, 100), 60L, 600L)
      .collect()
    assert(after.head.getDouble(1) == 1000.0) // p100 sees the upsert

    intercept[IllegalArgumentException] {
      st.readRollup("qr", "s", RollupKind.Quantile(1.0, 50), 60L, 90L)
    }
    intercept[IllegalArgumentException] {
      st.materializeQuantileRollup("qr", "s", 60L, binWidth = 0.0)
    }
  }

  test("writeLocked serializes concurrent writers to ONE sensor — no lost updates") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val st = freshStore()
    val t0 = 1704067200L
    st.createSensor(SensorConfig("race", "s", "1s", Seq(MetricDef(Seq("v")))))
    // 4 writers, interleaved slot ranges that share chunk partitions:
    // unlocked read-modify-write would lose whole slot sets when two
    // writers merge against the same stale history concurrently
    val futures = (0 until 4).map { i =>
      Future {
        val pts = (0 until 200).map(j => (t0 + (j * 4 + i) * 10L, "v",
          (i * 10000 + j).toDouble))
          .toDF("sec", "metric", "value")
          .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
            col("value"))
        st.write("race", "s", pts)
      }
    }
    Await.result(Future.sequence(futures), 300.seconds)
    val rows = st.read("race", "s").collect()
    assert(rows.length == 800) // every writer's every slot survived
    assert(st.read("race", "s", validateChecksums = true).count() == 800)
  }

  test("writer lock: held blocks with timeout, stale lock is taken over") {
    val (st, dir) = freshStoreDir()
    st.createSensor(SensorConfig("lk", "s", "1s", Seq(MetricDef(Seq("v")))))
    // hold the lock and verify a second acquisition times out
    st.withWriterLock("lk", "s") {
      val ex = intercept[graft.core.WriteLockTimeoutException] {
        st.withWriterLock("lk", "s", timeoutMs = 300) { fail("must not enter") }
      }
      assert(ex.getMessage.contains("lk/s"))
    }
    // a crashed holder's stale lock (old mtime) is taken over
    val lock = java.nio.file.Paths.get(s"$dir/lk/s/_WRITE_LOCK")
    java.nio.file.Files.write(lock, "dead@0".getBytes)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000))
    var entered = false
    st.withWriterLock("lk", "s", timeoutMs = 5000, staleMs = 60000) {
      entered = true
    }
    assert(entered)
    assert(!java.nio.file.Files.exists(lock)) // released cleanly
  }

  test("writer lock release is ownership-checked: a taken-over holder " +
       "does not delete the new holder's lock") {
    val (st, dir) = freshStoreDir()
    st.createSensor(SensorConfig("lk2", "s", "1s", Seq(MetricDef(Seq("v")))))
    val lock = java.nio.file.Paths.get(s"$dir/lk2/s/_WRITE_LOCK")
    st.withWriterLock("lk2", "s") {
      // simulate: this holder paused > staleMs, a second writer took
      // over and now holds the lock under ITS token
      java.nio.file.Files.write(lock, "other-holder@nonce".getBytes)
    }
    // the original holder's release must NOT have deleted the new
    // holder's lock (the pre-fix code deleted unconditionally)
    assert(java.nio.file.Files.exists(lock))
    assert(new String(java.nio.file.Files.readAllBytes(lock)) ==
      "other-holder@nonce")
    java.nio.file.Files.delete(lock)
  }

  test("writer lock heartbeat stops refreshing after a takeover " +
       "(old holder cannot keep the new holder's lock artificially fresh)") {
    val (st, dir) = freshStoreDir()
    st.createSensor(SensorConfig("lk3", "s", "1s", Seq(MetricDef(Seq("v")))))
    val lock = java.nio.file.Paths.get(s"$dir/lk3/s/_WRITE_LOCK")
    val oldMtime = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000)
    val holder = new Thread(() =>
      // staleMs 300 → heartbeat ticks every 100 ms; the body outlives
      // the whole takeover simulation below
      st.withWriterLock("lk3", "s", timeoutMs = 5000, staleMs = 300) {
        Thread.sleep(1500)
      })
    holder.start()
    try {
      while (!java.nio.file.Files.exists(lock)) Thread.sleep(10)
      // simulate a stale takeover: the lock now carries ANOTHER token
      java.nio.file.Files.write(lock, "intruder@nonce".getBytes)
      // give the heartbeat a few ticks to observe the foreign token and
      // exit, THEN plant an old mtime and verify nobody refreshes it
      Thread.sleep(300)
      java.nio.file.Files.setLastModifiedTime(lock, oldMtime)
      Thread.sleep(400)
      assert(java.nio.file.Files.getLastModifiedTime(lock) == oldMtime,
        "old holder's heartbeat kept refreshing a lock it no longer owns")
    } finally holder.join()
    // and the release path left the intruder's lock in place
    assert(new String(java.nio.file.Files.readAllBytes(lock)) ==
      "intruder@nonce")
    java.nio.file.Files.delete(lock)
  }

  test("migrateCompression rewrites data, preserving every row (D-3)") {
    import spark.implicits._
    val (st, dir) = freshStoreDir()
    st.createSensor(cfg1s)
    val t0 = 1704067200L
    val pts = (0 until 100).map(i => (t0 + i * 20000L, "active", i.toDouble))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"), col("value"))
    st.write("test", "s1", pts)
    val before = st.read("test", "s1").collect().map(_.toString).toSeq
    st.migrateCompression("test", "s1", "gzip")
    val after = st.read("test", "s1").collect().map(_.toString).toSeq
    assert(after == before)
    // codec actually changed on disk
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/test/s1/data"))
      .iterator()
    var sawGz = false
    files.forEachRemaining(p => if (p.toString.endsWith(".gz.parquet")) sawGz = true)
    assert(sawGz)
  }

  test("CONFIG.JSON rewrites are atomic: a reader parsing the config " +
    "while it is rewritten 200 times never sees a torn file") {
    val st = freshStore()
    val wide = SensorConfig("test", "cfg", "1s",
      (0 until 300).map(i => MetricDef(Seq(s"metric_$i"))))
    st.createSensor(wide)
    @volatile var writing = true
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val reader = new Thread(() =>
      while (writing) {
        try { st.config("test", "cfg"); reads.incrementAndGet() }
        catch { case e: Throwable => errors.add(e) }
      })
    reader.start()
    try (1 to 200).foreach(i =>
      st.createSensor(wide.copy(metadata = Map("i" -> i.toString))))
    finally { writing = false; reader.join() }
    assert(errors.isEmpty, s"${errors.size} failed reads, first: ${errors.peek()}")
    assert(reads.get > 0)
    assert(st.config("test", "cfg").metadata == Map("i" -> "200"))
  }

  test("a locked write to a missing sensor raises not-found and leaves " +
    "no directory behind") {
    import spark.implicits._
    val st = freshStore()
    val pts = Seq((1704067200L, "v", 1.0)).toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    intercept[graft.core.DbNotFoundException](st.write("ghost", "s", pts))
    assert(st.listDbs().isEmpty)
    st.createSensor(SensorConfig("real", "s", "1s", Seq(MetricDef(Seq("v")))))
    intercept[graft.core.SensorNotFoundException](
      st.write("real", "ghost", pts))
    assert(st.listSensors("real") == Seq("s"))
  }

  test("readers racing a live-edge writer never fail and always read one " +
    "committed version: read, lastTimestamp and a rollup-routed read") {
    import spark.implicits._
    val (st, dir) = freshStoreDir()
    val client = new graft.client.GraftClient(spark, dir)
    st.createSensor(SensorConfig("race", "edge", "1s",
      Seq(MetricDef(Seq("a")), MetricDef(Seq("b")))))
    val chunkDur = graft.core.Freq.ChunkRows.toLong
    val c0 = 1704067200L / chunkDur * chunkDur
    // the live window: 240 s on the 60 s grid inside the second chunk
    val w0 = ((c0 + chunkDur + 600) / 60 + 1) * 60
    val last = w0 + 239
    def batch(k: Int) = (for (t <- w0 to last; m <- Seq("a", "b"))
        yield (t, m, k.toDouble)).toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value"))
    st.write("race", "edge", Seq((c0 + 5, "a", 1.0), (c0 + 5, "b", 1.0))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value")))
    st.write("race", "edge", batch(0))
    st.materializeMeanRollup("race", "edge", 60L)
    st.materializeRollup("race", "edge", 60L)

    // version k holds k in every cell of the window
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def oneVersion(what: String, vals: Seq[Double], n: Int): Unit =
      if (vals.size != n || vals.distinct.size != 1 ||
          vals.head != vals.head.toInt || vals.head < 0 || vals.head > 20)
        wrong.add(s"$what: ${vals.size} values, distinct ${vals.distinct.take(5)}")
    @volatile var writing = true
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val readers = (0 until 2).map(_ => new Thread(() =>
      while (writing) {
        try {
          oneVersion("read", st.read("race", "edge", Some(w0), Some(last))
            .collect().toSeq.flatMap(r => Seq(r.getFloat(1), r.getFloat(2)))
            .map(_.toDouble), 480)
          val lt = st.lastTimestamp("race", "edge")
          if (!lt.contains(last)) wrong.add(s"lastTimestamp $lt")
          // spread 60 on the 60 s grid: served by the mean rollup
          oneVersion("rollup mean", client.readGrafanaMean("race", "edge",
              w0, last, 4).collect().toSeq
            .flatMap(r => Seq(r.getDouble(1), r.getDouble(2))), 8)
          reads.incrementAndGet()
        } catch { case e: Throwable => errors.add(e) }
      }))
    readers.foreach(_.start())
    try (1 to 20).foreach(k => st.write("race", "edge", batch(k)))
    finally { writing = false; readers.foreach(_.join()) }
    assert(errors.isEmpty, s"${errors.size} reads threw, first: ${errors.peek()}")
    assert(wrong.isEmpty, s"${wrong.size} answers of no version: ${wrong.peek()}")
    assert(reads.get > 0)
    val now = st.read("race", "edge", Some(w0), Some(last)).collect()
    assert(now.length == 240 && now.forall(r => r.getFloat(1) == 20f))
  }

  test("crash states: a version's files without its record, a torn temp " +
    "record and an unpruned commit all read as the last committed " +
    "version, and re-running the write heals the store") {
    import spark.implicits._
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    val chunkDur = graft.core.Freq.ChunkRows.toLong
    val c0 = 1704067200L / chunkDur * chunkDur
    def pts(rows: Seq[(Long, Double)]) = rows.toDF("sec", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), lit("v").as("metric"),
        col("value"))
    // v1 create, v2 two chunks, v3 a 64 s mean rollup, v4 an upsert
    def build(dir: String): SensorStore = {
      val st = new SensorStore(spark, dir)
      st.createSensor(SensorConfig("cr", "s", "1s", Seq(MetricDef(Seq("v")))))
      st.write("cr", "s", pts((0 until 100).map(i => (c0 + i * 7, i.toDouble)) ++
        (0 until 100).map(i => (c0 + chunkDur + i * 5, i * 2.0))))
      st.materializeMeanRollup("cr", "s", 64L)
      st.write("cr", "s", pts((0 until 50).map(i =>
        (c0 + chunkDur + i * 5, 500.0 + i))))
      st
    }
    // the write under test upserts chunk 1 and opens chunk 2
    val writeB = pts(Seq((c0 + chunkDur + 3, 99.0), (c0 + 2 * chunkDur + 1, 7.0)))
    def answers(dir: String): (Seq[String], Option[Long], Seq[String]) = {
      val c = new graft.client.GraftClient(spark, dir)
      def mean(useRollups: Boolean) = c.readGrafanaMean("cr", "s", c0,
        c0 + 3 * chunkDur - 1, 768, useRollups = useRollups)
        .collect().map(_.toString).toSeq
      val routed = mean(useRollups = true)
      assert(routed == mean(useRollups = false), "rollup route != raw scan")
      (c.read("cr", "s").collect().map(_.toString).toSeq,
        c.lastTimestamp("cr", "s"), routed)
    }
    def files(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
    val twin = Files.createTempDirectory("graft-twin").toString
    build(twin).write("cr", "s", writeB)
    val afterB = answers(twin)

    def crash(committed: Boolean)(tear: (Path, Path) => Unit): Unit = {
      val (_, dir) = freshStoreDir()
      val st = build(dir)
      val before = answers(dir)
      assert(before != afterB)
      val sd = Paths.get(dir, "cr", "s")
      val snap = Files.createTempDirectory("graft-snap")
      files(sd).foreach { f =>
        val to = snap.resolve(sd.relativize(f).toString)
        Files.createDirectories(to.getParent)
        Files.copy(f, to)
      }
      st.write("cr", "s", writeB)
      tear(sd, snap)
      assert(answers(dir) == (if (committed) afterB else before))
      st.write("cr", "s", writeB) // the re-run
      assert(answers(dir) == afterB)
      // healed: the last two records, no temp record, and every parquet
      // file on disk listed by one of them
      val log = new graft.core.CommitLog(sd.toString, SensorVersion.chunkDirs)
      val vs = log.versions
      assert(vs.size == 2 && vs(1) == vs(0) + 1, vs)
      val listed = vs.flatMap { v =>
        val sv = SensorVersion.fromJValue(v, log.record(v))
        sv.data.values.flatten ++ sv.rollups.flatMap(_.chunks.values.flatten)
      }.toSet
      val onDisk = files(sd).map(sd.relativize(_).toString)
        .filter(f => f.endsWith(".parquet") && !f.split('/').last.startsWith("."))
      assert(onDisk.toSet == listed, onDisk.toSet.diff(listed))
      assert(!files(sd.resolve("_commit")).exists(_.toString.endsWith(".tmp")))
    }

    // version 5's files are down, its record is not
    crash(committed = false) { (sd, _) =>
      Files.delete(sd.resolve("_commit/v5.json"))
    }
    // the record of version 5 was cut short in its temp file
    crash(committed = false) { (sd, _) =>
      val rec = Files.readAllBytes(sd.resolve("_commit/v5.json"))
      Files.delete(sd.resolve("_commit/v5.json"))
      Files.write(sd.resolve("_commit/v5.json.torn.tmp"),
        rec.take(rec.length / 2))
    }
    // version 5 committed, the prune of version 3 never ran
    crash(committed = true) { (sd, snap) =>
      files(snap).foreach { f =>
        val to = sd.resolve(snap.relativize(f).toString)
        if (!Files.exists(to)) {
          Files.createDirectories(to.getParent)
          Files.copy(f, to)
        }
      }
      assert(Files.exists(sd.resolve("_commit/v3.json")))
    }
  }

  test("jobs per read are pinned: lastTimestamp, a one-chunk read and a " +
    "Grafana read list no directory and infer no schema") {
    import spark.implicits._
    val (st, dir) = freshStoreDir()
    st.createSensor(cfg1s)
    val chunkDur = graft.core.Freq.ChunkRows.toLong
    val c0 = 1704067200L / chunkDur * chunkDur
    // 40 chunks, so a listing or footer read over the sensor would show
    st.write("test", "s1", (0 until 40).flatMap(c => (0 until 10).map(i =>
        (c0 + c * chunkDur + i * 60, "active", (c * 10 + i).toDouble)))
      .toDF("sec", "metric", "value")
      .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
        col("value")))
    st.materializeRollup("test", "s1", 60L)
    st.materializeMeanRollup("test", "s1", 60L)
    st.materializeStatsRollup("test", "s1", 60L)
    st.materializeQuantileRollup("test", "s1", 60L, 1.0)
    val client = new graft.client.GraftClient(spark, dir)
    def jobs(f: => Any): Int = graft.JobCount(spark)(f)
    val (one, oneEnd) = (c0 + 5 * chunkDur, c0 + 5 * chunkDur + 600)
    val lt = jobs(st.lastTimestamp("test", "s1"))
    val rd = jobs(st.read("test", "s1", Some(one), Some(oneEnd)).collect())
    val gf = jobs(client.readGrafana("test", "s1", c0, c0 + 10 * chunkDur - 1,
      640).collect())
    // a schema inference or a listing job over the 40 chunks would add
    // to each; the sorted read is sample + shuffle + result, and the
    // Grafana read sorts only its answer: aggregate + sample + shuffle +
    // result
    assert((lt, rd, gf) == ((1, 3, 4)), "jobs (lastTimestamp, read, grafana)")

    // the Grafana wire is one aggregate (shuffle + result) rendered on
    // the driver; the read_df snapshot collects unsorted under its limit
    assert(jobs(client.readGrafanaJson("test", "s1", c0,
      c0 + 10 * chunkDur - 1, 640)) <= 2, "jobs of readGrafanaJson")
    assert(jobs(client.readSnapshot("test", "s1", Some(one), Some(oneEnd))
      ._2.limit(1001).collect()) == 1, "jobs of readSnapshot + limit collect")

    // a rollup answer sorts in one partition: no sampling job, no
    // exchange. Hour `h` sits on the 60 s grid (its chunk-0 rows fall
    // in it) and routes to the rollups; `h + 7` falls back to raw.
    val h = c0 + 128
    for (from <- Seq(h, h + 7)) {
      val to = from + 3599
      assert(jobs(client.readGrafanaMean("test", "s1", from, to, 60)
        .collect()) <= 2, s"jobs of readGrafanaMean from $from")
      assert(jobs(client.readGrafanaStats("test", "s1", from, to, 60, "active")
        .collect()) <= 2, s"jobs of readGrafanaStats from $from")
      assert(jobs(client.readQuantile("test", "s1", from, to, 600, 50, 1.0)
        .collect()) <= 4, s"jobs of readQuantile from $from")
    }

    // the HTTP client builds its frame from the reply as a local
    // relation: no job on its own thread; the server's handler fires
    // the one snapshot collect
    val server = new graft.server.GraftServer(spark, dir, "adm")
    server.start()
    try {
      val http = new graft.client.GraftHttpClient(spark,
        s"http://127.0.0.1:${server.boundPort}", "adm")
      val (mine, handler) = graft.JobCount.split(spark)(
        assert(http.read("test", "s1", one, Some(oneEnd)).get.collect()
          .length == 10))
      assert((mine, handler) == ((0, 1)), "jobs (HTTP client, server handler)")
    } finally server.stop()
  }
}
