package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.Grid
import graft.ingest.Influx

/** Property-based invariants over the hot parsing/grid/sampling paths.
  * Cases come from scalacheck generators (fixed seed — reproducible);
  * each property evaluates ALL cases in ONE Spark job (a collect per
  * case would swamp the suite in job-scheduling overhead).
  */
class PropertySpec extends SparkSpec {

  private def gen[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get

  private val token: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(12))

  test("influx format→parse round-trips any (db, sensor, metric, value, sec)") {
    import spark.implicits._
    val cases = gen(for {
      d <- token; s <- token; m <- token
      v <- Gen.chooseNum(-1e6, 1e6)
      sec <- Gen.chooseNum(0L, 4102444800L)
    } yield (d, s, m, v, sec), 300)
    val df = cases.toDF("db0", "sensor0", "metric0", "value0", "sec0")
      .select(col("*"), Influx.formatLine(col("db0"), col("sensor0"),
        col("metric0"), col("value0"), col("sec0")).as("line"))
    val back = Influx.parseLines(df, "line")
      .select((!col("malformed") &&
        col("db") === col("db0") && col("sensor") === col("sensor0") &&
        col("metric") === col("metric0") &&
        // formatLine prints %.6f — the round-trip is exact to 1e-6
        abs(col("value") - col("value0")) <= lit(5.000001e-7) &&
        col("ts_sec") === col("sec0")).as("ok"), col("line"))
      .collect()
    val bad = back.filterNot(_.getBoolean(0)).take(3).map(_.getString(1))
    assert(bad.isEmpty, s"round-trip failed for: ${bad.mkString(" | ")}")
  }

  test("adversarial influx lines NEVER throw — they flag or parse") {
    import spark.implicits._
    // structured garbage: every combination of broken header / missing
    // '=' / non-numeric value / absurd ts / empty / unicode — under
    // default ANSI mode any unguarded cast here kills the whole batch
    val adversarial = Seq(
      "", " ", ",", "=", "db", "db,", "db,c=s", "db,c=s ", "db,c=s m",
      "db,c=s m=", "db,c=s m=abc", "db,c=s m=1e999", "db,c=s m=nän",
      "db,c=s m=1 notanumber", "db,c=s m=1 99999999999999999999999999",
      "db,c=s m=1 123 extra", "db,,c=s m=1", "db,c=s m=1,=2",
      "db,c=s m==2", "🚀,c=s m=1 123", "db,c=🚀 m=∞ 456",
      "a,b=c d=1.5 1704067200000000000") // one valid control line
    val gen100 = gen(Gen.oneOf(adversarial), 100)
    val parsed = Influx.parseLines(gen100.toDF("line"), "line")
    // the whole point: this collect must not throw
    val rows = parsed.select("malformed", "value", "ts_sec").collect()
    assert(rows.nonEmpty)
    // and the valid control line parses clean wherever it was sampled
    val ok = Influx.parseLines(
      Seq("a,b=c d=1.5 1704067200000000000").toDF("line"), "line").head()
    assert(!ok.getAs[Boolean]("malformed") &&
      ok.getAs[Double]("value") == 1.5 &&
      ok.getAs[Long]("ts_sec") == 1704067200L)
  }

  test("grid snap: result is on-grid, ≤ input, within tick of input") {
    import spark.implicits._
    val secs = gen(Gen.chooseNum(0L, 4102444800L), 500)
    Seq(1L, 15L, 300L, 3600L, 86400L).foreach { tick =>
      val ok = secs.toDF("sec").select(
        ((Grid.snapSeconds(col("sec"), tick) % tick === 0) &&
          (Grid.snapSeconds(col("sec"), tick) <= col("sec")) &&
          (col("sec") - Grid.snapSeconds(col("sec"), tick) < tick)).as("ok"))
        .collect().map(_.getBoolean(0))
      assert(ok.forall(identity), s"tick=$tick")
    }
  }

  test("posInChunk is always within [0, chunkRows) and reconstructs ts") {
    import spark.implicits._
    val tick = 300L
    val chunkDur = tick * graft.core.Freq.ChunkRows
    val secs = gen(Gen.chooseNum(0L, 4102444800L), 500)
    val ok = secs.toDF("sec")
      .withColumn("slot", Grid.snapSeconds(col("sec"), tick))
      .withColumn("chunk", Grid.chunkStart(col("slot"), chunkDur))
      .withColumn("pos", Grid.posInChunk(col("slot"), chunkDur, tick))
      .select((col("pos") >= 0 && col("pos") < graft.core.Freq.ChunkRows &&
        (col("chunk") + col("pos") * tick === col("slot"))).as("ok"))
      .collect().map(_.getBoolean(0))
    assert(ok.forall(identity))
  }

  test("sampling monotonicity: any lower threshold keeps a subset") {
    import spark.implicits._
    val buckets = (0L until 2000L).toDF("id").select(col("id"),
      graft.ext.Sampling.hashBucket(col("id")).as("b")).cache()
    try {
      val thresholds = Seq("0100", "0800", "2000", "8000", "ffff")
      val counts = thresholds.map(t => buckets.filter(col("b") < t).count())
      assert(counts == counts.sorted, s"not monotone: $counts")
      // and uniform-ish: "8000" should keep roughly half
      val half = counts(thresholds.indexOf("8000")).toDouble / 2000
      assert(half > 0.4 && half < 0.6, s"half-rate=$half")
    } finally { buckets.unpersist(); () }
  }

  test("ohlc matches a brute-force reference on random series") {
    import spark.implicits._
    val cases = gen(for {
      k <- Gen.chooseNum(0, 3)
      sec <- Gen.chooseNum(1704067200L, 1704067200L + 7200L)
      v <- Gen.chooseNum(-1000.0, 1000.0)
    } yield (s"k$k", sec, v), 400).zipWithIndex
      .map { case ((k, sec, v), i) => (k, sec, i.toLong, v) }
    val df = cases.toDF("k", "sec", "id", "v")
    val got = graft.operators.Ohlc.resample(df, Seq("k"), "sec", "id", "v", 3600L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))).toMap
    val want = cases.groupBy { case (k, sec, _, _) =>
      (k, sec - sec % 3600L)
    }.map { case (key, rows) =>
      val byTime = rows.sortBy { case (_, sec, id, _) => (sec, id) }
      key -> (byTime.head._4, rows.map(_._4).max, rows.map(_._4).min,
        byTime.last._4, rows.length.toLong)
    }
    assert(got == want)
  }

  test("interval overlap join matches the O(n·m) reference on random intervals") {
    import spark.implicits._
    val ivGen = for {
      s <- Gen.chooseNum(0L, 5000L); len <- Gen.chooseNum(0L, 800L)
    } yield (s, s + len)
    val as = gen(ivGen, 60).zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
    val bs = gen(ivGen, 60).zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
    val got = graft.operators.IntervalJoin.overlapPairs(
        as.toDF("a_id", "s", "e"), col("s"), col("e"),
        bs.toDF("b_id", "bs", "be"), col("bs"), col("be"), bucketWidth = 256L)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (ai, s, e) <- as; (bi, bs2, be) <- bs
      if s <= be && bs2 <= e
    } yield (ai, bi)).toSet
    assert(got == want)
  }

  test("upsert merge: two sequential batches == one concatenated batch") {
    import spark.implicits._
    // random REAL cell writes; NaN masking is per-BATCH (pivot keeps
    // the latest arrival, merge skips NaN cells — UpsertSpec covers
    // it), so the batch-split associativity property quantifies over
    // real values only
    val writes = gen(for {
      slot <- Gen.chooseNum(0L, 20L)
      m <- Gen.oneOf("m1", "m2")
      v <- Gen.chooseNum(-100.0, 100.0)
    } yield (slot, m, v), 200).zipWithIndex
      .map { case ((slot, m, v), i) => (slot, m, v, i.toLong) }
    val (b1, b2) = writes.splitAt(100)
    def wide(rows: Seq[(Long, String, Double, Long)]) =
      graft.ingest.Pivot.longToWide(
        rows.toDF("slot", "metric", "value", "arrival"),
        Seq("slot"), "metric", "value", "arrival", Seq("m1", "m2"))
    val empty = wide(Seq.empty)
    val seq2 = graft.ingest.Upsert.merge(
      graft.ingest.Upsert.merge(empty, wide(b1), Seq("slot"), Seq("m1", "m2")),
      wide(b2), Seq("slot"), Seq("m1", "m2"))
    val once = graft.ingest.Upsert.merge(empty, wide(writes),
      Seq("slot"), Seq("m1", "m2"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("slot", "m1", "m2").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .sortBy(_._1).toSeq
    assert(norm(seq2) == norm(once))
  }

  test("deletion-neighborhood near join matches brute-force levenshtein ≤ 1") {
    import spark.implicits._
    // short strings over a 3-letter alphabet so distance-1 pairs (and
    // exact dups → distance 0) actually occur among 60 samples
    val strs = gen(for {
      len <- Gen.chooseNum(1, 6)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString, 60)
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s")
    val got = graft.ext.Strings.nearJoin(df, "id", "s").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      i <- strs.indices; j <- strs.indices if i < j
      d = lev(strs(i), strs(j)) if d <= 1
    } yield ((i.toLong, j.toLong), d.toLong)).toMap
    assert(got == expected,
      s"missing=${(expected.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- expected.keySet).take(3)}")
  }

  test("Misra–Gries merge honors its error bar on random Zipf-ish streams") {
    import spark.implicits._
    val keys = gen(Gen.frequency(
      8 -> Gen.const(1L), 5 -> Gen.const(2L), 3 -> Gen.const(3L),
      2 -> Gen.chooseNum(4L, 8L), 1 -> Gen.chooseNum(9L, 30L)), 400)
    val rows = keys.zipWithIndex.map { case (k, i) => (i % 5, k) }
    val df = rows.toDF("grp", "key").withColumn("g", lit("all"))
    val partials = graft.operators.Sketches.mgPartials(
      df, Seq("g", "grp"), "key", k = 3)
    val merged = graft.operators.Sketches.mgMerge(partials, Seq("g"), k = 3)
      .collect()
    val trueCounts = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val maxErr = merged.head.getAs[Long]("max_err")
    val reported = merged.map(r =>
      r.getAs[Long]("key") -> r.getAs[Long]("count")).toMap
    // (a) every reported count is an under-count within the error bar
    reported.foreach { case (k, c) =>
      assert(c <= trueCounts(k) && trueCounts(k) <= c + maxErr,
        s"key $k reported $c true ${trueCounts(k)} max_err $maxErr")
    }
    // (b) a non-reported key was either dropped in partials (true ≤
    // max_err) or cut by the final top-k (true ≤ max_err + weakest
    // reported count) — the derived soundness bound of the merge
    val weakest = reported.values.min
    (trueCounts.keySet -- reported.keySet).foreach { k =>
      assert(trueCounts(k) <= maxErr + weakest,
        s"key $k true ${trueCounts(k)} exceeds absence bound ${maxErr + weakest}")
    }
    // (c) n_rows is the exact stream size
    assert(merged.head.getAs[Long]("n_rows") == 400L)
  }

  test("exact-NN ball-bound pruning is lossless vs brute force " +
       "(clustered vectors, integer grid → rounding ties)") {
    import spark.implicits._
    // 4 tight clusters across 2 groups, integer-grid noise so distinct
    // pairs collide on the 6-decimal-rounded similarity (the tie-break
    // path) and clusters make the bound actually prune
    val n = 120
    val dims = 8
    val noise = gen(Gen.chooseNum(-2, 2), n * dims)
    val vecs = (0 until n).map { i =>
      val c = i % 4
      val v = (0 until dims).map { d =>
        if (d == 0) 7.0 + noise(i * dims + d)
        else (((c * 31 + d * 17) % 7) - 3) * 5.0 + noise(i * dims + d)
      }.toArray
      (i.toLong, (i % 2).toLong, v)
    }
    val out = graft.ext.Similarity.exactNNWithinGroup(
        vecs.toDF("vec_id", "label", "embedding"),
        "vec_id", "embedding", "label", k = 4, iters = 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // Spark round(x, 6) = HALF_UP on the shortest decimal string
    def rnd6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val expected = vecs.map { case (id, g, v) =>
      val best = vecs.iterator
        .filter(o => o._2 == g && o._1 != id)
        .map(o => (rnd6(dot(v, o._3) /
          (math.sqrt(dot(v, v)) * math.sqrt(dot(o._3, o._3)))), o._1))
        .maxBy { case (s, nid) => (s, -nid.toDouble) } // sim desc, id asc
      id -> ((best._2, best._1))
    }.toMap
    assert(out == expected)
  }

  test("bucketedRank equals row_number for grouped, global, and " +
    "clamped-range ranks on random heavily-tied data") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rows = gen(for {
      g <- Gen.choose(0, 3)
      v <- Gen.choose(-50, 50) // narrow domain → heavy value ties
    } yield (g, v), 3000).zipWithIndex
      .map { case ((g, v), i) => (g.toLong, v.toDouble, i.toLong) }
    val df = rows.toDF("grp", "v", "id")
    def check(ranked: org.apache.spark.sql.DataFrame,
              groups: Seq[String]): Unit = {
      val w =
        if (groups.isEmpty) Window.orderBy(col("v"), col("id"))
        else Window.partitionBy(groups.map(col): _*)
          .orderBy(col("v"), col("id"))
      val exp = df.withColumn("__exp", row_number().over(w).cast("long"))
        .select((groups :+ "id").map(col) :+ col("__exp"): _*)
      val joined = ranked.join(exp, groups :+ "id")
      assert(joined.filter(col("__rank") =!= col("__exp")).count() == 0,
        s"bucketedRank diverges from row_number (groups=$groups)")
      // __n is the group size everywhere
      val bad = joined.groupBy(groups.map(col): _*)
        .agg(count(lit(1)).as("sz"), max(col("__n")).as("n"),
          min(col("__n")).as("n2"))
        .filter(col("sz") =!= col("n") || col("sz") =!= col("n2"))
      assert(bad.count() == 0, s"__n wrong for some group (groups=$groups)")
    }
    check(graft.operators.Quantiles.bucketedRank(
      df, Seq("grp"), "v", "id", nBuckets = 17), Seq("grp"))
    check(graft.operators.Quantiles.bucketedRank(
      df, Seq.empty, "v", "id", nBuckets = 17), Seq.empty)
    // a fixed range NARROWER than the data clamps edge values into the
    // boundary buckets — monotonicity, not containment, is the contract
    check(graft.operators.Quantiles.bucketedRank(
      df, Seq("grp"), "v", "id", nBuckets = 17,
      range = Some((-10.0, 10.0))), Seq("grp"))
  }

  test("ntileFromRank is bit-identical to ntile for random group sizes") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val sizes = gen(Gen.choose(1, 137), 12).distinct
    Seq(2, 3, 4, 7, 10).foreach { tiles =>
      val df = sizes.zipWithIndex.flatMap { case (n, cid) =>
        (1 to n).map(r => (cid, r.toLong, n.toLong))
      }.toDF("cid", "rank", "n")
      val w = Window.partitionBy("cid").orderBy("rank")
      val bad = df
        .withColumn("__expected", ntile(tiles).over(w))
        .withColumn("__closed", graft.operators.Quantiles
          .ntileFromRank(col("rank"), col("n"), tiles))
        .filter(col("__expected") =!= col("__closed"))
      assert(bad.count() == 0,
        s"ntileFromRank diverges from ntile($tiles)")
    }
  }

  test("runningMaxSubsplit equals the single window on random series " +
    "for random slice counts") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // random series lengths (incl. shorter than nSlices), random
    // values with plateaus (ties across slice edges), random nSlices
    val seriesLens = gen(Gen.chooseNum(1, 400), 6)
    val rows = seriesLens.zipWithIndex.flatMap { case (len, s) =>
      val vs = gen(Gen.chooseNum(-1000, 1000).map(_.toDouble / 8), len)
      vs.zipWithIndex.map { case (v, i) => (s.toString, i.toLong, v) }
    }
    val df = rows.toDF("series", "slot", "v")
    val ref = df.withColumn("__ref",
      max(col("v")).over(Window.partitionBy("series").orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, 0)))
    gen(Gen.chooseNum(2, 64), 3).foreach { n =>
      val got = graft.operators.PrefixSplit.runningMaxSubsplit(
        df, Seq("series"), "slot", "v", nSlices = n)
      val bad = ref.join(got, Seq("series", "slot", "v"))
        .filter(col("__ref") =!= col("__runmax")).count()
      assert(bad == 0L, s"nSlices=$n diverges on random series")
    }
  }

  test("msgpack encode→decode round-trips random point lists") {
    // encoder mirrors msgpack-python's choices for this body shape
    // (fixstr/str8, float64, uint64 ns, fixarray/array16)
    val bb = java.nio.ByteBuffer.allocate(1 << 20)
    def pStr(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      if (b.length < 32) bb.put((0xa0 | b.length).toByte)
      else { bb.put(0xd9.toByte); bb.put(b.length.toByte) }
      bb.put(b)
    }
    val name: Gen[String] =
      Gen.chooseNum(1, 40).flatMap(n =>
        Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val cases = gen(for {
      db <- name; sensor <- name
      k <- Gen.chooseNum(1, 5)
      ms <- Gen.listOfN(k, name)
      vs <- Gen.listOfN(k, Gen.chooseNum(-1e9, 1e9))
      ts <- Gen.chooseNum(0L, 4102444800L)
    } yield (db, sensor, ms, vs, ts * 1000000000L), 60)
    bb.put(0xdc.toByte); bb.putShort(cases.size.toShort)
    cases.foreach { case (db, sensor, ms, vs, ns) =>
      bb.put(0x95.toByte); pStr(db); pStr(sensor)
      bb.put((0x90 | ms.size).toByte); ms.foreach(pStr)
      bb.put((0x90 | vs.size).toByte)
      vs.foreach { v => bb.put(0xcb.toByte); bb.putDouble(v) }
      bb.put(0xcf.toByte); bb.putLong(ns)
    }
    val body = java.util.Arrays.copyOf(bb.array(), bb.position())
    val got = graft.ingest.Msgpack.decodePointList(body)
    val expected = cases.flatMap { case (db, sensor, ms, vs, ns) =>
      ms.zip(vs).map { case (m, v) =>
        graft.ingest.PointRow(db, sensor, m, v, ns / 1e9)
      }
    }
    assert(got == expected,
      s"decode mismatch: got ${got.size} rows, expected ${expected.size}")
  }
}
