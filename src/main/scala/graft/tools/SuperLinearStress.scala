package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Three-point scale audit of the board's two honestly super-linear
  * keys (r11 verdict ask #7): `graph_triangles` (10.2× time at 10×
  * data in r11) and `supplier_name_near_join` (9.9×). Both are
  * *output-volume* super-linear — replicated fixtures multiply real
  * triangle counts / FastSS candidate pairs faster than rows — so the
  * defensible invariant is time-per-unit-of-work staying flat across
  * scale points, not time-per-row. This tool measures, at each fixture
  * (1×, 3×, 10×):
  *
  *  - candidate-graph edges, wedges, and closed triangles beside the
  *    `graph_triangles` steady time;
  *  - FastSS distinct candidate pairs and verified matches beside the
  *    `supplier_name_near_join` steady time;
  *
  * and prints per-work-unit costs. A flat (or falling) time/work ratio
  * with growing work volume proves the growth is the answer getting
  * bigger, not hidden quadratic compute. Results recorded in SCALE.md.
  *
  * Usage: sbt "runMain graft.tools.SuperLinearStress [dir1 dir2 ...]"
  * (defaults: /root/testdata/sf0.1 target/sf3 target/bigsf)
  */
object SuperLinearStress {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "target/sf3", "target/bigsf")
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    spark.range(1000).selectExpr("sum(id)").collect()

    def steady(f: => Long, reps: Int = 3): (Double, Long) = {
      var n = 0L
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        n = f
        (System.nanoTime() - t0) / 1e9
      }
      (times.min, n)
    }

    println("[sls] dir | edges wedges triangles tri_s us/triangle | " +
      "cands matches near_s us/cand")
    dirs.foreach { dir =>
      graft.queries.ExtQueries.clearMemo()
      // ---- graph_triangles work volume (same chain as the key) ----
      val docs = graft.core.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val cands = Dedup.candidatePairs(
        Dedup.bands(Dedup.minhash(
          Dedup.shingles(docs, "doc_id", "text", 3), "doc_id",
          graft.queries.ExtQueries.NumHashes), "doc_id",
          graft.queries.ExtQueries.NumHashes, 1), "doc_id")
        .localCheckpoint()
      val edges = cands.count()
      val ab = cands.select(col("a_id").as("a"), col("b_id").as("b"))
      val bc = cands.select(col("a_id").as("b"), col("b_id").as("c"))
      val ac = cands.select(col("a_id").as("a"), col("b_id").as("c"))
      val wedges = ab.join(bc, "b").count()
      val triangles = ab.join(bc, "b").join(ac, Seq("a", "c")).count()
      // steady time of the ACTUAL key (memoized index warm after rep 1)
      val (triS, _) = steady(
        graft.queries.ExtQueries.queries("graph_triangles")(spark, dir).count())

      // ---- supplier_name_near_join work volume ----
      val sup = graft.core.Tables.load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      val keyed = sup.select(col("s_suppkey"), col("s_name"),
        explode(graft.ext.Strings.deletionKeys(col("s_name"))).as("__dkey"))
        .localCheckpoint()
      val a = keyed.select(col("s_suppkey").as("a_id"),
        col("s_name").as("a_str"), col("__dkey"))
      val b = keyed.select(col("s_suppkey").as("b_id"),
        col("s_name").as("b_str"), col("__dkey"))
      val candPairs = a.join(b, "__dkey").filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct().count()
      val (nearS, matches) = steady(
        graft.queries.RelQueries.queries("supplier_name_near_join")(spark, dir)
          .count())

      val usPerTri = if (triangles > 0) triS * 1e6 / triangles else Double.NaN
      val usPerCand = if (candPairs > 0) nearS * 1e6 / candPairs else Double.NaN
      println(f"[sls] $dir%-24s | $edges%7d $wedges%8d $triangles%8d " +
        f"$triS%6.2f s $usPerTri%8.2f | $candPairs%8d $matches%6d " +
        f"$nearS%6.2f s $usPerCand%8.2f")
    }
    spark.stop()
  }
}
