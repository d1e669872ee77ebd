package graft.client

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.RollupKind

/** Client-façade round-trips mirroring the reference's end-to-end suite
  * (`tests/test_client.py`): influx-line writes incl. ragged lines and
  * a mid-stream new metric (`:65-71`), frequency matrix (`:32`), wide
  * DataFrame write path, metadata/level-names (`:172-206`), grafana
  * downsampled read (`server.py:412-475`).
  */
class GraftClientSpec extends SparkSpec {

  private def freshClient(): GraftClient =
    new GraftClient(spark, Files.createTempDirectory("graft-client").toString)

  private val t0 = 1704067200L

  test("influx write → read: ragged lines + new metric (fixture A.2)") {
    val c = freshClient()
    c.createSensor("test", "s1", "1s",
      Seq(Seq("active"), Seq("reactive")))
    val ns = (i: Long) => s"${(t0 + i)}000000000"
    // first write: only the original metrics (creates the chunk)…
    c.write(Seq(
      s"test,circuit=s1 active=9,reactive=10 ${ns(0)}",
      s"test,circuit=s1 active=11 ${ns(1)}",
      s"test,circuit=s1 reactive=12 ${ns(2)}",
      s"test,circuit=s1 reactive=13,active=14 ${ns(3)}"))
    // …second write introduces `nueva` → schema evolution: the chunk
    // that already existed reads back with fill=0 for nueva
    c.write(Seq(
      s"test,circuit=s1 reactive=15,active=16,nueva=17 ${ns(4)}",
      s"test,circuit=s1 reactive=18,nueva=19 ${ns(5)}"))
    val cfg = c.store.config("test", "s1")
    assert(cfg.metricNames == Seq("active", "reactive", "nueva"))
    val rows = c.read("test", "s1").collect()
    assert(rows.length == 6)
    def cell(i: Int, j: Int): Option[Float] =
      if (rows(i).isNullAt(j)) None else Some(rows(i).getFloat(j))
    assert(cell(0, 1).contains(9f) && cell(0, 2).contains(10f))
    assert(cell(1, 1).contains(11f) && cell(1, 2).isEmpty)
    assert(cell(3, 1).contains(14f) && cell(3, 2).contains(13f))
    // nueva: fill=0 in pre-evolution chunk rows, real values after
    assert(cell(4, 3).contains(17f))
    assert(cell(5, 3).contains(19f))
    assert(cell(0, 3).contains(0f)) // same chunk as evolution → filled
  }

  test("malformed influx line raises InfluxParseException") {
    val c = freshClient()
    c.createSensor("test", "s1", "1s", Seq(Seq("a")))
    intercept[graft.core.InfluxParseException](c.write(Seq("not an influx line")))
  }

  test("error taxonomy: missing db/sensor, bad batch shape, auth") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-auth").toString
    val open = new GraftClient(spark, dir)
    intercept[graft.core.DbNotFoundException](open.read("nope", "s"))
    open.createDb("d")
    intercept[graft.core.SensorNotFoundException](open.read("d", "s"))

    open.createSensor("d", "s", "1s", Seq(Seq("a")),
      readKey = "rk", writeKey = "wk")
    intercept[graft.core.InvalidDataWriteException](
      open.store.write("d", "s", Seq(1).toDF("wrong")))

    // wrong token: neither read nor write allowed
    intercept[graft.core.NotAuthorizedException](open.read("d", "s"))
    intercept[graft.core.NotAuthorizedException](
      open.write(Seq(s"d,circuit=s a=1 ${t0}000000000")))
    // read key can read but not write
    val reader = new GraftClient(spark, dir, token = "rk")
    reader.read("d", "s").collect()
    intercept[graft.core.NotAuthorizedException](
      reader.write(Seq(s"d,circuit=s a=1 ${t0}000000000")))
    // write key can do both (reference: write key implies read)
    val writer = new GraftClient(spark, dir, token = "wk")
    writer.write(Seq(s"d,circuit=s a=1 ${t0}000000000"))
    assert(writer.read("d", "s").count() == 1)
    // retention is destructive → write-key gated like the mutations
    intercept[graft.core.NotAuthorizedException](
      reader.deleteBefore("d", "s", t0))
    assert(writer.deleteBefore("d", "s", t0).isEmpty) // nothing wholly older
    // every library read route checks the token, not only `read`
    Seq[() => Any](
      () => open.readGrafana("d", "s", t0, t0 + 59, 6),
      () => open.readGrafanaShared("d", "s", t0, t0 + 59, 6),
      () => open.readGrafanaJson("d", "s", t0, t0 + 59, 6),
      () => open.readGrafanaMean("d", "s", t0, t0 + 59, 6),
      () => open.readGrafanaStats("d", "s", t0, t0 + 59, 6, "a"),
      () => open.readDistinct("d", "s", t0, t0 + 59, 60L),
      () => open.readQuantile("d", "s", t0, t0 + 59, 60L, 50, 1.0)
    ).foreach(route => intercept[graft.core.NotAuthorizedException](route()))
  }

  test("frequency matrix round-trip (1s / 15m / 1h / 1d)") {
    val c = freshClient()
    for (freq <- Seq("1s", "15m", "1h", "1d")) {
      val tick = graft.core.Freq.seconds(freq)
      val sensor = s"f_$freq"
      c.createSensor("test", sensor, freq, Seq(Seq("v")))
      c.write((0 until 5).map(i =>
        s"test,circuit=$sensor v=${i + 1} ${(t0 + i * tick)}000000000"))
      val rows = c.read("test", sensor).collect()
      assert(rows.length == 5, s"freq $freq")
      assert(rows.map(_.getFloat(1)).toSeq == Seq(1f, 2f, 3f, 4f, 5f))
      assert(c.lastTimestamp("test", sensor).contains(t0 + 4 * tick))
    }
  }

  test("writeDf wide-frame path round-trips") {
    import spark.implicits._
    val c = freshClient()
    c.createSensor("test", "wd", "1h", Seq(Seq("p"), Seq("q")))
    val wide = Seq(
      (t0, Some(1.0), Some(2.0)),
      (t0 + 3600, Some(3.0), None))
      .toDF("sec", "p", "q")
      .select(timestamp_seconds(col("sec")).as("ts"), col("p"), col("q"))
    c.writeDf("test", "wd", wide)
    val rows = c.read("test", "wd").collect()
    assert(rows.length == 2)
    assert(rows(0).getFloat(1) == 1f && rows(0).getFloat(2) == 2f)
    assert(rows(1).getFloat(1) == 3f && rows(1).isNullAt(2))
  }

  test("metadata + level names round-trip (MultiIndex fixture A.3)") {
    val c = freshClient()
    c.createSensor("test", "mi", "1D",
      Seq(Seq("A", "B", "C"), Seq("D", "E", "F")),
      metadata = Map("who" -> "tester"))
    c.setLevelNames("test", "mi", Seq("one", "two", "three"))
    assert(c.levelNames("test", "mi") == Seq("one", "two", "three"))
    assert(c.metadata("test", "mi")("who") == "tester")
    assert(c.store.config("test", "mi").metricNames == Seq("A.B.C", "D.E.F"))
  }

  test("TRUE MultiIndex round-trip (test_client.py:172-206): tuples + " +
       "names survive write→parquet→read; renames apply on the next read") {
    val dir = Files.createTempDirectory("graft-mi").toString
    val c = new GraftClient(spark, dir)
    val metrics = Seq(Seq("A", "B", "C"), Seq("D", "E", "F"))
    c.createSensor("test", "mi2", "1D", metrics)
    c.setLevelNames("test", "mi2", Seq("one", "two", "three"))
    // get_metrics parity: list-of-tuples, not flattened names
    assert(c.metricTuples("test", "mi2") == metrics)
    // write through the influx path (dotted field keys are the tuple
    // columns), read back the dotted-name wide frame
    c.write(Seq(s"test,circuit=mi2 A.B.C=1,D.E.F=2 ${t0}000000000"))
    val df = c.readMultiIndex("test", "mi2")
    val (tuples, names) = c.multiIndex(df)
    assert(tuples == metrics, s"level tuples lost: $tuples")
    assert(names == Seq("one", "two", "three"), s"level names lost: $names")
    assert(df.columns.toSeq == Seq("ts", "A.B.C", "D.E.F"))
    val row = df.collect().head
    assert(row.getFloat(1) == 1f && row.getFloat(2) == 2f)
    // the level tuples are persisted in the parquet FOOTERS themselves
    // — the files are self-describing without CONFIG.JSON
    val raw = spark.read.parquet(s"$dir/test/mi2/data")
    val fABC = raw.schema.fields.find(_.name == "A.B.C").get
    assert(fABC.metadata.contains("levels") &&
      fABC.metadata.getStringArray("levels").toSeq == Seq("A", "B", "C"),
      s"parquet field metadata missing levels: ${fABC.metadata}")
    // set_level_names touches no data; the NEXT read reports new names
    // (test_client.py:203-205)
    c.setLevelNames("test", "mi2", Seq("X", "Y", "Z"))
    val (_, renamed) = c.multiIndex(c.readMultiIndex("test", "mi2"))
    assert(renamed == Seq("X", "Y", "Z"))
  }

  test("grafana downsampled read: first value per bucket, long format") {
    val c = freshClient()
    c.createSensor("test", "g", "1s", Seq(Seq("v")))
    // 100 points over 100s; ask for 10 buckets → first of each 10s span
    c.write((0 until 100).map(i =>
      s"test,circuit=g v=$i ${(t0 + i)}000000000"))
    val out = c.readGrafana("test", "g", t0, t0 + 99, 10).collect()
    assert(out.length == 10)
    assert(out.map(_.getFloat(1)).toSeq == (0 until 100 by 10).map(_.toFloat))
    assert(out.head.getLong(2) == t0 * 1000)
  }

  test("readDistinct: sketch-rollup route equals the raw-sketch fallback") {
    val c = freshClient()
    c.createSensor("test", "sd", "1s", Seq(Seq("v")))
    val lines = (0 until 600).map(i =>
      s"test,circuit=sd v=${i % 23} ${(t0 + i)}000000000")
    c.write(lines)
    c.store.materialize("test", "sd", RollupKind.Sketch, 60L)
    // aligned coarse grid → rollup route (raw never scanned); the
    // fallback sketches raw rows directly. Lossless union at fixed lgK
    // means IDENTICAL estimates, so routing is purely a cost decision.
    val viaRollup = c.readDistinct("test", "sd", t0, t0 + 599, 300L)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    val viaRaw = c.readDistinct("test", "sd", t0, t0 + 599, 300L,
      useRollups = false)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(viaRollup == viaRaw)
    assert(viaRollup.map(_._2) == Seq(23L, 23L)) // exact at this scale
    // misaligned coarse grid (not a multiple of 60) must fall back, not
    // refuse: the client routes, only the store-level reader requires
    // alignment
    val misaligned = c.readDistinct("test", "sd", t0, t0 + 599, 90L)
    assert(misaligned.collect().length > 0)
  }

  test("readDistinct: query ending mid-rollup-bucket falls back to raw") {
    val c = freshClient()
    c.createSensor("test", "sde", "1s", Seq(Seq("v")))
    // every value distinct, so a whole-bucket overshoot is visible in
    // the estimate (i%23 would mask it)
    c.write((0 until 600).map(i =>
      s"test,circuit=sde v=$i ${(t0 + i)}000000000"))
    c.store.materialize("test", "sde", RollupKind.Sketch, 60L)
    // range ends at t0+569 — inside the [t0+540, t0+600) rollup bucket.
    // The rollup route would merge that bucket WHOLE and count the 30
    // values past the end; routing must reject it (end not on the
    // rollup grid) and the two routes then agree exactly.
    val unalignedEnd = c.readDistinct("test", "sde", t0, t0 + 569, 300L)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    val raw = c.readDistinct("test", "sde", t0, t0 + 569, 300L,
      useRollups = false)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(unalignedEnd == raw)
    assert(unalignedEnd.map(_._2) == Seq(300L, 270L)) // exact at this scale
  }

  test("readQuantile: rollup route equals the raw-histogram fallback") {
    val c = freshClient()
    c.createSensor("test", "qt", "1s", Seq(Seq("v")))
    c.write((0 until 600).map(i =>
      s"test,circuit=qt v=${i % 100} ${(t0 + i)}000000000"))
    c.store.materializeQuantileRollup("test", "qt", 60L, binWidth = 1.0)
    // aligned range + matching binWidth → rollup partial merge; the
    // fallback histograms raw rows on the SAME grid with the SAME rank
    // math → identical values by construction
    val viaRollup = c.readQuantile("test", "qt", t0, t0 + 599, 300L,
        pct = 95, binWidth = 1.0)
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
    val viaRaw = c.readQuantile("test", "qt", t0, t0 + 599, 300L,
        pct = 95, binWidth = 1.0, useRollups = false)
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
    assert(viaRollup == viaRaw)
    assert(viaRollup.map(_._2) == Seq(94.0, 94.0)) // rank 285 → bin 94
    // a range ending mid-rollup-bucket must fall back (whole-bucket
    // partials can't be trimmed), and then the two routes still agree
    val unaligned = c.readQuantile("test", "qt", t0, t0 + 569, 300L,
        pct = 95, binWidth = 1.0)
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
    val unalignedRaw = c.readQuantile("test", "qt", t0, t0 + 569, 300L,
        pct = 95, binWidth = 1.0, useRollups = false)
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
    assert(unaligned == unalignedRaw)
    // a DIFFERENT binWidth must not hit the 1.0 rollup: bins of 10 →
    // p95 lands on the bin lower edge 90
    val other = c.readQuantile("test", "qt", t0, t0 + 599, 300L,
      pct = 95, binWidth = 10.0)
    assert(other.collect().map(_.getDouble(1)).toSeq == Seq(90.0, 90.0))
  }

  test("parity helpers: metrics, lastDate, updateToken, configReload") {
    val c = freshClient()
    c.createSensor("d", "s", "1h", Seq(Seq("p"), Seq("q")))
    assert(c.metrics("d", "s") == Seq("p", "q"))
    assert(c.lastDate("d", "s").isEmpty)
    c.write(Seq(s"d,circuit=s p=1 ${t0}000000000"))
    assert(c.lastDate("d", "s").contains("2024-01-01 00:00:00"))
    assert(c.lastDate("d", "s", "+05:30").contains("2024-01-01 05:30:00"))
    c.configReload() // no-op, kept for call-site parity
    assert(c.updateToken("x").metrics("d", "s") == Seq("p", "q"))
    // the admin key survives a token switch
    val keyed = Files.createTempDirectory("graft-admin").toString
    new GraftClient(spark, keyed).createSensor("d", "k", "1h", Seq(Seq("p")),
      readKey = "rk", writeKey = "wk")
    assert(new GraftClient(spark, keyed, adminKey = "A").updateToken("A")
      .read("d", "k").count() == 0)
  }

  test("catalog lifecycle: dbs, sensors, delete") {
    val c = freshClient()
    c.createSensor("d1", "s1", "1s", Seq(Seq("a")))
    c.createSensor("d1", "s2", "1s", Seq(Seq("a")))
    assert(c.existsDb("d1") && c.existsSensor("d1", "s2"))
    assert(c.store.listSensors("d1") == Seq("s1", "s2"))
    c.deleteSensor("d1", "s2")
    assert(!c.existsSensor("d1", "s2"))
  }

  test("deleteDb removes the db directory itself — existsDb goes false") {
    // reference delete_db shutil.rmtree's the whole dir (database.py:215)
    val c = freshClient()
    c.createSensor("gone", "s1", "1s", Seq(Seq("a")))
    c.write(Seq(s"gone,circuit=s1 a=1 ${t0}000000000"))
    c.deleteDb("gone")
    assert(!c.existsDb("gone"))
    assert(c.store.listDbs().forall(_ != "gone"))
  }

  test("grafana read routes through a materialized rollup when one fits") {
    val dir = Files.createTempDirectory("graft-client").toString
    val c = new GraftClient(spark, dir)
    c.createSensor("test", "ru", "1s", Seq(Seq("v")))
    // 600 seconds of data; rollup at 60s
    c.write((0 until 600 by 5).map(i =>
      s"test,circuit=ru v=$i ${(t0 + i)}000000000"))
    c.store.materializeRollup("test", "ru", 60L)
    // spread = 600/10 = 60 ≥ rollup bucket → served from the rollup:
    // values = true first per spread bucket, ts snapped to the 60s grid
    val viaRollup = c.readGrafana("test", "ru", t0, t0 + 599, 10).collect()
    assert(viaRollup.length == 10)
    assert(viaRollup.map(_.getFloat(1)).toSeq == (0 until 600 by 60).map(_.toFloat))
    assert(viaRollup.map(_.getLong(2)).toSeq ==
      (0 until 600 by 60).map(i => (t0 + i) * 1000))
    // raw path returns identical values (exactness of value routing)
    val raw = c.readGrafana("test", "ru", t0, t0 + 599, 10, useRollups = false)
      .collect()
    assert(raw.map(_.getFloat(1)).toSeq == viaRollup.map(_.getFloat(1)).toSeq)
    // proof the rollup actually served: drop base data, read still works
    c.store.withWriterLock("test", "ru") {
      val data = java.nio.file.Paths.get(s"$dir/test/ru/data")
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.iterator().forEachRemaining(rm) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
        ()
      }
      rm(data)
    }
    val orphan = c.readGrafana("test", "ru", t0, t0 + 599, 10).collect()
    assert(orphan.length == 10)
  }

  test("grafana rollup routing requires alignment: misaligned from or " +
       "non-multiple spread falls back to raw (exact results)") {
    val c = freshClient()
    c.createSensor("test", "al", "1s", Seq(Seq("v")))
    c.write((0 until 600).map(i =>
      s"test,circuit=al v=$i ${(t0 + i)}000000000"))
    c.store.materializeRollup("test", "al", 60L)
    // from is mid-bucket (t0+30): a rollup bucket would straddle it and
    // lose values 30..59 — must serve raw: first bucket value is 30
    val midFrom = c.readGrafana("test", "al", t0 + 30, t0 + 599, 5).collect()
    assert(midFrom.map(_.getFloat(1)).toSeq ==
      Seq(30f, 144f, 258f, 372f, 486f))
    assert(midFrom.head.getLong(2) == (t0 + 30) * 1000) // exact raw ts
    // spread 90 is integral but not a multiple of the 60s bucket → raw;
    // values are the true first of each 90s span
    val spread90 = c.readGrafana("test", "al", t0, t0 + 539, 6).collect()
    assert(spread90.map(_.getFloat(1)).toSeq ==
      (0 until 540 by 90).map(_.toFloat))
    // aligned query still routes through the rollup (coarsened ts)
    val aligned = c.readGrafana("test", "al", t0, t0 + 599, 5).collect()
    assert(aligned.map(_.getFloat(1)).toSeq ==
      (0 until 600 by 120).map(_.toFloat))
  }

  test("rollups refresh on write: an upsert is visible through the rollup") {
    val c = freshClient()
    c.createSensor("test", "rf", "1s", Seq(Seq("v")))
    c.write((0 until 120 by 5).map(i =>
      s"test,circuit=rf v=$i ${(t0 + i)}000000000"))
    c.store.materializeRollup("test", "rf", 60L)
    // a write that REPLACES the first slot of the second bucket must
    // show through the rollup: overwrite t0+60 itself
    c.write(Seq(s"test,circuit=rf v=777 ${(t0 + 60)}000000000"))
    val after = c.store.readRollup("test", "rf", RollupKind.First, 60L, 60L).collect()
    val bucket2 = after.find(_.getTimestamp(0).toInstant.getEpochSecond == t0 + 60).get
    assert(bucket2.getFloat(1) == 777f) // pre-fix: stale 60f
  }

  test("every RollupKind: the aligned routed read equals the raw read " +
       "after an upsert and after a schema-evolution rebuild") {
    val reads: Seq[(RollupKind, (GraftClient, Boolean) => DataFrame)] = Seq(
      RollupKind.First -> ((c, r) =>
        c.readGrafana("k", "s", t0, t0 + 599, 5, useRollups = r)),
      RollupKind.Mean -> ((c, r) =>
        c.readGrafanaMean("k", "s", t0, t0 + 599, 5, useRollups = r)),
      RollupKind.Stats -> ((c, r) =>
        c.readGrafanaStats("k", "s", t0, t0 + 599, 5, "v", useRollups = r)),
      RollupKind.Sketch -> ((c, r) =>
        c.readDistinct("k", "s", t0, t0 + 599, 300L, useRollups = r)),
      RollupKind.Quantile(1.0) -> ((c, r) =>
        c.readQuantile("k", "s", t0, t0 + 599, 300L, 95, 1.0, useRollups = r)))
    reads.foreach { case (kind, read) =>
      val c = freshClient()
      c.createSensor("k", "s", "1s", Seq(Seq("v")))
      c.write((0 until 600).map(i =>
        s"k,circuit=s v=${i % 13} ${(t0 + i)}000000000"))
      c.store.materialize("k", "s", kind, 60L)
      def check(step: String): Unit = {
        val routed = read(c, true)
        assert(routed.inputFiles.exists(_.contains(s"/${kind.dirName(60L)}/")),
          s"$kind $step: not served from the rollup")
        assert(routed.collect().toSeq == read(c, false).collect().toSeq,
          s"$kind $step")
      }
      c.write(Seq(s"k,circuit=s v=1000 ${(t0 + 61)}000000000"))
      check("upsert")
      c.write(Seq(s"k,circuit=s v=5,w=7 ${(t0 + 62)}000000000"))
      check("evolution")
    }
  }

  test("grafana MEAN read: rollup partials re-aggregate to the raw answer") {
    val c = freshClient()
    c.createSensor("test", "gm", "1s", Seq(Seq("v")))
    c.write((0 until 600).map(i =>
      s"test,circuit=gm v=${i % 7} ${(t0 + i)}000000000"))
    c.store.materializeMeanRollup("test", "gm", 60L)
    // aligned: spread 120 = 2 rollup buckets; served from partials
    val viaRollup = c.readGrafanaMean("test", "gm", t0, t0 + 599, 5).collect()
    val raw = c.readGrafanaMean("test", "gm", t0, t0 + 599, 5,
      useRollups = false).collect()
    assert(viaRollup.length == 5 && raw.length == 5)
    // EXACT equality — decimal partials merge associatively
    assert(viaRollup.map(_.getDouble(1)).toSeq ==
      raw.map(_.getDouble(1)).toSeq)
    // an upsert refreshes the mean rollup too
    c.write(Seq(s"test,circuit=gm v=1000 ${(t0 + 60)}000000000"))
    val after = c.readGrafanaMean("test", "gm", t0, t0 + 599, 5).collect()
    val afterRaw = c.readGrafanaMean("test", "gm", t0, t0 + 599, 5,
      useRollups = false).collect()
    assert(after.map(_.getDouble(1)).toSeq ==
      afterRaw.map(_.getDouble(1)).toSeq)
    assert(after.head.getDouble(1) > viaRollup.head.getDouble(1))
    // misaligned from: falls back to raw silently, still exactly
    // maxDataPoints buckets, none preceding `from`
    val mis = c.readGrafanaMean("test", "gm", t0 + 30, t0 + 599, 5).collect()
    assert(mis.length == 5)
    assert(mis.forall(_.getTimestamp(0).toInstant.getEpochSecond >= t0 + 30))
  }

  test("grafana WINDOWED-STATS read: rollup partials merge to the raw " +
    "answer bitwise; refresh-on-upsert; the rollup IS the streaming " +
    "windowedStats aggregate (r14 ask #8)") {
    import org.apache.spark.sql.functions._
    val c = freshClient()
    c.createSensor("test", "ws", "1s", Seq(Seq("v")))
    c.write((0 until 600).map(i =>
      s"test,circuit=ws v=${i % 7}.25 ${(t0 + i)}000000000"))
    c.store.materializeStatsRollup("test", "ws", 60L)
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        java.lang.Double.doubleToLongBits(r.getDouble(4)))
    // aligned: spread 120 = 2 rollup windows; served from partials,
    // BITWISE equal to the raw decimal-routed aggregation
    val viaRollup = c.readGrafanaStats("test", "ws", t0, t0 + 599, 5,
      "v").collect()
    val raw = c.readGrafanaStats("test", "ws", t0, t0 + 599, 5, "v",
      useRollups = false).collect()
    assert(viaRollup.length == 5 && raw.length == 5)
    assert(viaRollup.map(key).toSeq == raw.map(key).toSeq,
      "rollup-merged stats must be bit-identical to the raw path")
    assert(viaRollup.forall(_.getLong(1) == 120L), "n = 120 rows/bucket")
    // the rollup read equals the STREAMING surface's batch aggregate
    // on the same points — one implementation, two routes
    val points = c.read("test", "ws", Some(t0), Some(t0 + 599))
      .select(col("ts"), lit("v").as("metric"),
        col("v").cast("double").as("value"))
      .filter(col("value").isNotNull && !isnan(col("value")))
    val streaming = graft.streaming.StreamIngest
      .windowedStats(points, "120 seconds", "0 seconds")
      .orderBy("window_start").collect()
    assert(streaming.map(r => (r.getTimestamp(0), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        java.lang.Double.doubleToLongBits(r.getDouble(4)),
        java.lang.Double.doubleToLongBits(r.getDouble(5)))).toSeq ==
      viaRollup.map(key).toSeq,
      "stats rollup diverged from StreamIngest.windowedStats")
    // refresh-on-upsert: an overwritten cell shows through the rollup
    c.write(Seq(s"test,circuit=ws v=1000 ${(t0 + 60)}000000000"))
    val after = c.readGrafanaStats("test", "ws", t0, t0 + 599, 5, "v")
      .collect()
    val afterRaw = c.readGrafanaStats("test", "ws", t0, t0 + 599, 5,
      "v", useRollups = false).collect()
    assert(after.map(key).toSeq == afterRaw.map(key).toSeq)
    assert(after(0).getDouble(4) == 1000.0,
      "upsert must be visible in the rollup-served max")
    // misaligned from: falls back to raw, buckets RELATIVE to from,
    // none preceding it
    val mis = c.readGrafanaStats("test", "ws", t0 + 30, t0 + 599, 5, "v")
      .collect()
    assert(mis.length == 5)
    assert(mis.forall(_.getTimestamp(0).toInstant.getEpochSecond >=
      t0 + 30))
  }

  test("grafana MEAN raw fallback buckets RELATIVE to from (misaligned query)") {
    val c = freshClient()
    c.createSensor("test", "mm", "1s", Seq(Seq("v")))
    c.write((0 until 600).map(i =>
      s"test,circuit=mm v=$i ${(t0 + i)}000000000"))
    c.store.materializeMeanRollup("test", "mm", 60L)
    // from=t0+30, span 569 → float spread 113.8, off every grid: the
    // old absolute-grid fallback emitted a bucket BEFORE `from` and a
    // 6th row; relative bucketing anchors at `from` (server.py:430-434)
    val out = c.readGrafanaMean("test", "mm", t0 + 30, t0 + 598, 5).collect()
    assert(out.length == 5)
    val secs = out.map(_.getTimestamp(0).toInstant.getEpochSecond).toSeq
    assert(secs.forall(_ >= t0 + 30), s"bucket precedes from: $secs")
    // boundaries: from + floor(k·113.8)
    assert(secs == Seq(30, 143, 257, 371, 485).map(t0 + _))
    // bucket populations are consecutive ints → exact means
    assert(out.map(_.getDouble(1)).toSeq ==
      Seq((30 + 143) / 2.0, (144 + 257) / 2.0, (258 + 371) / 2.0,
        (372 + 485) / 2.0, (486 + 598) / 2.0))
    // where the grids coincide (aligned from, integral spread) the
    // rollup-served path and the raw fallback agree bitwise
    val viaRollup = c.readGrafanaMean("test", "mm", t0, t0 + 599, 5).collect()
    val rawAligned = c.readGrafanaMean("test", "mm", t0, t0 + 599, 5,
      useRollups = false).collect()
    assert(viaRollup.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ==
      rawAligned.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq)
  }

  test("shared-boundary grafana read advances ONE boundary for all targets " +
       "(reference server.py:444-459)") {
    val c = freshClient()
    c.createSensor("test", "sb", "1s", Seq(Seq("a"), Seq("b")))
    // bucket 0 (t0..t0+4): a on the bucket's first row, b only later
    // inside the bucket; bucket 1 (t0+5..t0+9): both on the first row
    c.write(Seq(
      s"test,circuit=sb a=1 ${t0}000000000",
      s"test,circuit=sb b=2 ${(t0 + 1)}000000000",
      s"test,circuit=sb a=3,b=4 ${(t0 + 5)}000000000"))
    val shared = c.readGrafanaShared("test", "sb", t0, t0 + 9, 2).collect()
      .map(r => (r.getString(0), r.getFloat(1), r.getLong(2)))
    // reference semantics: bucket 0's emitted ROW is t0 — b is NaN
    // there, so b contributes nothing for bucket 0 even though b=2
    // exists at t0+1
    assert(shared.toSeq == Seq(
      ("a", 1f, t0 * 1000), ("a", 3f, (t0 + 5) * 1000),
      ("b", 4f, (t0 + 5) * 1000)))
    // the per-target variant DOES emit b@t0+1 — the documented
    // divergence on sparse multi-metric sensors
    val perTarget = c.readGrafana("test", "sb", t0, t0 + 9, 2).collect()
      .map(r => (r.getString(0), r.getFloat(1), r.getLong(2)))
    assert(perTarget.toSeq == Seq(
      ("a", 1f, t0 * 1000), ("a", 3f, (t0 + 5) * 1000),
      ("b", 2f, (t0 + 1) * 1000), ("b", 4f, (t0 + 5) * 1000)))
  }

  test("grafana wire JSON matches the reference byte format " +
       "(server.py:461-475): request order, empty target, NaN dropped") {
    val c = freshClient()
    c.createSensor("test", "gw", "1s", Seq(Seq("a"), Seq("b"), Seq("c")))
    // same shared-boundary fixture as above; c is declared but never
    // written → all-NaN → empty datapoints list, still emitted
    c.write(Seq(
      s"test,circuit=gw a=1 ${t0}000000000",
      s"test,circuit=gw b=2 ${(t0 + 1)}000000000",
      s"test,circuit=gw a=3,b=4 ${(t0 + 5)}000000000"))
    val json = c.readGrafanaJson("test", "gw", t0, t0 + 9, 2)
    val ms0 = s"${t0}000.000000"
    val ms5 = s"${t0 + 5}000.000000"
    assert(json ==
      s"""[{"target":"a","datapoints":[[1.000000,$ms0],[3.000000,$ms5]]},""" +
      s"""{"target":"b","datapoints":[[4.000000,$ms5]]},""" +
      s"""{"target":"c","datapoints":[]}]""")
    // round-trip: the wire string parses back to the shared-boundary rows
    import spark.implicits._
    val parsed = spark.read.json(Seq(json).toDS)
    assert(parsed.count() == 3)
    val aPts = parsed.filter(col("target") === "a")
      .select(explode(col("datapoints")).as("dp")).collect()
      .map(r => (r.getSeq[Double](0)(0), r.getSeq[Double](0)(1).toLong))
    assert(aPts.toSeq == Seq((1.0, t0 * 1000), (3.0, (t0 + 5) * 1000)))
  }

  /** The Grafana wire as the engine built it before `readGrafanaJson`
    * rendered on the driver, VERBATIM: `format_string` + `collect_list`
    * + `array_sort` + `array_join` over the shared-boundary long rows.
    * The oracle of the byte-identity spec below.
    */
  private def engineGrafanaJson(c: GraftClient, db: String, sensor: String,
                                fromSec: Long, toSec: Long, maxDataPoints: Int,
                                targets: Option[Seq[String]]): String = {
    val wanted = targets.getOrElse(c.metrics(db, sensor))
    val long = c.readGrafanaShared(db, sensor, fromSec, toSec, maxDataPoints,
      Some(wanted))
    val per = long
      .withColumn("dp", format_string("[%f,%f]",
        col("value").cast("double"), col("ts_ms").cast("double")))
      .groupBy(col("metric"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts_ms"), col("dp")))),
        x => x.getField("dp")), ",").as("dps"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    wanted.map(t =>
        s"""{"target":"$t","datapoints":[${per.getOrElse(t, "")}]}""")
      .mkString("[", ",", "]")
  }

  test("grafana wire JSON rendered on the driver is byte-identical to the " +
       "engine-side rendering: NaN and null cells, a sparse metric, a " +
       "data-less target, extreme values, fractional spreads, misaligned " +
       "ranges, seeded random queries") {
    import spark.implicits._
    val c = freshClient()
    c.createSensor("test", "gj", "1s", Seq(Seq("a"), Seq("b"), Seq("c")))
    def put(pts: Seq[(Long, String, Double)], fill: Double = 0.0): Unit =
      c.store.write("test", "gj", pts.toDF("sec", "metric", "value")
        .select(timestamp_seconds(col("sec")).as("ts"), col("metric"),
          col("value")), fill)
    val rng = new scala.util.Random(20240101)
    val special = Seq(-1.5, -273.15, 123456789.5, 1e-7, -1e-7, 0.0, 3.25)
    def value(): Double =
      if (rng.nextInt(4) == 0) special(rng.nextInt(special.size))
      else rng.nextGaussian() * 1000
    // chunk 0: `a` dense, `b` sparse (every 7th tick), `c` never written
    put((0 until 600).flatMap { i =>
      (t0 + i, "a", value()) +:
        (if (i % 7 == 3) Seq((t0 + i, "b", value())) else Nil)
    })
    // a later chunk adds `d` with a NaN fill, so `d` reads NaN on chunk
    // 0's rows; there `a` is written on every other tick only (null cells)
    val t1 = t0 + 20000
    put((0 until 600).flatMap { i =>
      (if (i % 2 == 0) Seq((t1 + i, "a", value())) else Nil) :+
        ((t1 + i, "d", value()))
    }, fill = Double.NaN)
    val cases = Seq[(Long, Long, Int, Option[Seq[String]])](
      (t0, t0 + 599, 60, None),
      (t0, t0 + 599, 7, None),
      (t0 + 3, t0 + 250, 13, Some(Seq("b", "a"))),
      (t0 - 50, t0 + 20599, 50, Some(Seq("d", "c", "a", "b"))),
      (t1 + 1, t1 + 598, 600, Some(Seq("a", "d"))),
      (t0 + 10, t0 + 12, 9, None)) ++
      (0 until 10).map { _ =>
        val from = t0 - 20 + rng.nextInt(20700)
        (from.toLong, from + 1L + rng.nextInt(3000), 1 + rng.nextInt(400),
          Some(rng.shuffle(Seq("a", "b", "c", "d")).take(1 + rng.nextInt(4))))
      }
    var points = 0
    cases.foreach { case (from, to, maxDp, targets) =>
      val got = c.readGrafanaJson("test", "gj", from, to, maxDp, targets)
      val want = engineGrafanaJson(c, "test", "gj", from, to, maxDp, targets)
      assert(got == want, s"($from, $to, $maxDp, $targets)")
      points += "\\[[-0-9.]+,[0-9.]+\\]".r.findAllIn(got).size
    }
    // the fixture does reach every kind of value it names
    val all = c.readGrafanaJson("test", "gj", t0, t0 + 599, 600, Some(Seq("a")))
    assert(all.contains("[123456792.000000,") && all.contains("[-273.149994,") &&
      all.contains("[0.000000,") && all.contains("[-0.000000,"), all)
    assert(points > 1000, s"only $points datapoints compared")
  }

  test("update_metadata replaces the dict; mergeMetadata patches it " +
       "(reference database.py:287-298)") {
    val c = freshClient()
    c.createSensor("test", "md", "1s", Seq(Seq("v")),
      metadata = Map("k1" -> "v1", "k2" -> "v2"))
    c.updateMetadata("test", "md", Map("k2" -> "w2", "k3" -> "v3"))
    assert(c.metadata("test", "md") == Map("k2" -> "w2", "k3" -> "v3"))
    c.mergeMetadata("test", "md", Map("k2" -> "z2", "k4" -> "v4"))
    assert(c.metadata("test", "md") ==
      Map("k2" -> "z2", "k3" -> "v3", "k4" -> "v4"))
    // level names survive a merge but not a wholesale replace (the
    // reference assignment drops keys absent from new_metadata)
    c.setLevelNames("test", "md", Seq("l1", "l2"))
    c.mergeMetadata("test", "md", Map("k5" -> "v5"))
    assert(c.levelNames("test", "md") == Seq("l1", "l2"))
    c.updateMetadata("test", "md", Map("only" -> "this"))
    assert(c.levelNames("test", "md").isEmpty)
    assert(c.metadata("test", "md") == Map("only" -> "this"))
  }

  test("grafana read survives a range shorter than maxDataPoints (spread<1)") {
    // integer spread would be 0 → ANSI DIVIDE_BY_ZERO; float spread
    // buckets fine and every point lands in its own bucket
    val c = freshClient()
    c.createSensor("test", "short", "1s", Seq(Seq("v")))
    c.write((0 until 5).map(i =>
      s"test,circuit=short v=$i ${(t0 + i)}000000000"))
    val out = c.readGrafana("test", "short", t0, t0 + 4, 1000).collect()
    assert(out.length == 5)
    assert(out.map(_.getFloat(1)).toSeq == (0 until 5).map(_.toFloat))
  }

  test("a write refused on one of its sensors lands on none of them: " +
    "every target is authorized before the first write") {
    val dir = Files.createTempDirectory("graft-batch-auth").toString
    val admin = new GraftClient(spark, dir)
    admin.createSensor("d", "s1", "1s", Seq(Seq("a")),
      readKey = "rk", writeKey = "wk")
    admin.createSensor("d", "s2", "1s", Seq(Seq("a")),
      readKey = "rk", writeKey = "other")
    val writer = new GraftClient(spark, dir, token = "wk")
    intercept[graft.core.NotAuthorizedException](writer.write(Seq(
      s"d,circuit=s1 a=1 ${t0}000000000",
      s"d,circuit=s2 a=2 ${t0}000000000")))
    assert(admin.store.lastTimestamp("d", "s1").isEmpty)
    assert(admin.store.lastTimestamp("d", "s2").isEmpty)
  }

  test("a 2000-line write and an /influx_binary body each fire at most " +
    "6 jobs: one discovery aggregate and the data put") {
    val dir = Files.createTempDirectory("graft-write-jobs").toString
    val c = new GraftClient(spark, dir)
    val ms = Seq("m0", "m1", "m2", "m3")
    c.createSensor("d", "s", "1s", ms.map(Seq(_)))
    def lines(from: Long) = (0 until 2000).map(i =>
      s"d,circuit=s ${ms.map(m => s"$m=$i").mkString(",")} ${from + i}000000000")
    c.write(lines(t0)) // the first write creates the chunk
    assert(graft.JobCount(spark)(c.write(lines(t0 + 2000))) <= 6,
      "jobs of a 2000-line write")

    // [('d', 's', ms, [i, …], ns), …] as msgpack: array16 of 5-tuples
    val bb = java.nio.ByteBuffer.allocate(1 << 16)
    def pStr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); bb.put((0xa0 | b.length).toByte); bb.put(b)
    }
    bb.put(0xdc.toByte); bb.putShort(500.toShort)
    (0 until 500).foreach { i =>
      bb.put(0x95.toByte); pStr("d"); pStr("s")
      bb.put((0x90 | ms.size).toByte); ms.foreach(pStr)
      bb.put((0x90 | ms.size).toByte)
      ms.foreach { _ => bb.put(0xcb.toByte); bb.putDouble(i.toDouble) }
      bb.put(0xcf.toByte); bb.putLong((t0 + 4000 + i) * 1000000000L)
    }
    val body = java.util.Arrays.copyOf(bb.array(), bb.position())
    val server = new graft.server.GraftServer(spark, dir, "adm")
    server.start()
    try {
      val post = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${server.boundPort}/influx_binary"))
        .header("Authorization", "Basic " + java.util.Base64.getEncoder
          .encodeToString("u:adm".getBytes))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
        .build()
      val (mine, handler) = graft.JobCount.split(spark)(
        assert(java.net.http.HttpClient.newHttpClient().send(post,
          java.net.http.HttpResponse.BodyHandlers.ofString())
          .statusCode == 200))
      assert(mine == 0 && handler <= 6, s"jobs ($mine, $handler) of a post")
    } finally server.stop()
    assert(c.lastTimestamp("d", "s").contains(t0 + 4499))
  }

  test("an empty key matches only the empty token (database.py:170-187 " +
    "exact match): token 'x' may not read a sensor whose read key is ''") {
    val dir = Files.createTempDirectory("graft-empty-key").toString
    new GraftClient(spark, dir).createSensor("d", "s", "1s", Seq(Seq("a")),
      readKey = "", writeKey = "wk")
    intercept[graft.core.NotAuthorizedException](
      new GraftClient(spark, dir, token = "x").read("d", "s"))
    new GraftClient(spark, dir).read("d", "s").collect()
    new GraftClient(spark, dir, token = "wk").read("d", "s").collect()
    intercept[graft.core.NotAuthorizedException](
      new GraftClient(spark, dir).write(Seq(s"d,circuit=s a=1 ${t0}000000000")))
  }

  test("a metadata change waits for the sensor's writer lock") {
    import scala.concurrent.duration._
    import scala.concurrent.{Await, ExecutionContext, Future}
    val c = freshClient()
    c.createSensor("d", "s", "1s", Seq(Seq("a")))
    val pending = c.store.withWriterLock("d", "s") {
      val f = Future(c.setLevelNames("d", "s", Seq("x", "y")))(
        ExecutionContext.global)
      Thread.sleep(3000)
      assert(!f.isCompleted, "setLevelNames ran while the lock was held")
      assert(c.levelNames("d", "s").isEmpty)
      f
    }
    Await.result(pending, 60.seconds)
    assert(c.levelNames("d", "s") == Seq("x", "y"))
  }
}
