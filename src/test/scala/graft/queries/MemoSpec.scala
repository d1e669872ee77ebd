package graft.queries

import graft.SparkSpec
import graft.core.Artifacts

/** Pins that the shared fitted-index memo actually SHARES: each index
  * family builds its artifact once per (session, dir) and every query
  * in the family gets the same instance. Without this, index-build
  * cost re-runs per bench pass and migrates between alphabetical
  * neighbors in the per-key attribution (the r10 `dedup_semantic`
  * 1.08→6.46 s motion), indistinguishable from a real regression.
  */
class MemoSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The registry lookup for this session's (dir, name) artifact. */
  private def entry[A](kind: Artifacts.Kind[A], name: String,
                       session: org.apache.spark.sql.SparkSession = spark)
      : Option[A] =
    Artifacts.get(Artifacts.Key(kind, Some(session), dir, name))

  /** Run `body` with the artifact root at a fresh temp dir; always
    * reset the root and drop (and delete) every index built under it. */
  private def withArtifactRoot(body: java.nio.file.Path => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_artifact_root")
    ExtQueries.setArtifactRoot(Some(root.toString))
    try body(root)
    finally {
      ExtQueries.setArtifactRoot(None)
      ExtQueries.clearIndexes()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("semantic-dedup fitted index builds once and is reused across " +
    "constructions") {
    ExtQueries.clearMemo()
    graft.SparkEntry.queries("dedup_semantic")(spark, dir)
    val c1 = entry(Artifacts.SessionFrame, "semfit_coarse")
    val a1 = entry(Artifacts.SessionFrame, "semfit_anchors")
    assert(c1.isDefined && a1.isDefined,
      "dedup_semantic must populate the semfit memo")
    graft.SparkEntry.queries("dedup_semantic")(spark, dir)
    assert(entry(Artifacts.SessionFrame, "semfit_coarse").get eq c1.get,
      "second construction re-fit the coarse centroids")
    assert(entry(Artifacts.SessionFrame, "semfit_anchors").get eq a1.get,
      "second construction re-fit the anchors")
  }

  test("incremental-dedup corpus indexes build once as AT-REST " +
    "artifacts (probe-only steady state, r14 ask #1)") {
    ExtQueries.clearMemo()
    ExtQueries.clearIndexes()
    for ((key, kind) <- Seq(
        "dedup_incremental" -> "exact",
        "dedup_incremental_near" -> "near",
        "dedup_incremental_semantic" -> "semantic")) {
      graft.SparkEntry.queries(key)(spark, dir)
      val p1 = entry(Artifacts.AtRestIndex, kind)
      assert(p1.isDefined, s"$key must register its $kind artifact")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p1.get)),
        s"$kind artifact must be on disk")
      graft.SparkEntry.queries(key)(spark, dir)
      assert(entry(Artifacts.AtRestIndex, kind).get == p1.get,
        s"second construction rebuilt the persisted $kind index")
    }
    // clearIndexes deletes + unregisters the dedup artifacts too
    val paths = Seq("exact", "near", "semantic")
      .map(k => entry(Artifacts.AtRestIndex, k).get)
    ExtQueries.clearIndexes()
    for (p <- paths)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        "clearIndexes must delete the dedup artifact trees")
    for (k <- Seq("exact", "near", "semantic"))
      assert(entry(Artifacts.AtRestIndex, k).isEmpty)
  }

  test("kmeans centroid fit is shared across its whole query family") {
    ExtQueries.clearMemo()
    graft.SparkEntry.queries("similar_ood_score")(spark, dir)
    val k1 = entry(Artifacts.SessionFrame, "kmeans_cents")
    assert(k1.isDefined, "similar_ood_score must populate kmeans_cents")
    for (key <- Seq("kmeans_fit_assign", "similar_ivf_kmeans",
        "similar_cluster_purity")) {
      graft.SparkEntry.queries(key)(spark, dir)
      assert(entry(Artifacts.SessionFrame, "kmeans_cents").get eq k1.get,
        s"$key re-fit the centroids instead of sharing the memo")
    }
  }

  test("retrieval frames build once: the three bm25/hybrid keys share " +
    "ONE memoized scored frame + ONE pair of rank frames (r12 ask #1 " +
    "— no per-key corpus tokenize)") {
    ExtQueries.clearMemo()
    graft.SparkEntry.queries("doc_bm25_topk")(spark, dir)
    val b1 = entry(Artifacts.SessionFrame, "bm25")
    assert(b1.isDefined, "doc_bm25_topk must populate the bm25 memo")
    graft.SparkEntry.queries("similar_hybrid_rrf")(spark, dir)
    assert(entry(Artifacts.SessionFrame, "bm25").get eq b1.get,
      "hybrid fusion rebuilt the bm25 frame instead of sharing it")
    val l1 = entry(Artifacts.SessionFrame, "hyb_lex")
    val v1 = entry(Artifacts.SessionFrame, "hyb_vec")
    assert(l1.isDefined && v1.isDefined)
    graft.SparkEntry.queries("similar_hybrid_audit")(spark, dir)
    assert((entry(Artifacts.SessionFrame, "hyb_lex").get eq l1.get) &&
      (entry(Artifacts.SessionFrame, "hyb_vec").get eq v1.get),
      "the audit rebuilt a rank frame instead of sharing the memo")
  }

  test("clearIndexes: the persisted BM25 index artifact is deleted " +
    "from disk and unregistered; the next touch rebuilds a working " +
    "probe (VERDICT r13 'wrong' #1 — no orphaned /tmp trees)") {
    ExtQueries.clearMemo()
    ExtQueries.clearIndexes()
    assert(entry(Artifacts.AtRestIndex, "bm25").isEmpty)
    val before =
      graft.SparkEntry.queries("doc_bm25_topk")(spark, dir).collect()
    val path1 = entry(Artifacts.AtRestIndex, "bm25")
    assert(path1.isDefined, "doc_bm25_topk must register the index")
    val p1 = java.nio.file.Paths.get(path1.get)
    assert(java.nio.file.Files.exists(p1), "artifact must be on disk")
    ExtQueries.clearIndexes()
    assert(!java.nio.file.Files.exists(p1),
      "clearIndexes must DELETE the temp parquet tree, not just " +
        "unregister it")
    assert(entry(Artifacts.AtRestIndex, "bm25").isEmpty)
    ExtQueries.clearMemo() // drop the memoized scored frame too
    val after =
      graft.SparkEntry.queries("doc_bm25_topk")(spark, dir).collect()
    assert(before.sameElements(after),
      "rebuild after clearIndexes must be identical")
    ExtQueries.clearIndexes()
  }

  test("prebuildSharedIndexes forces every shared artifact and reports " +
    "a named per-index cost") {
    ExtQueries.clearMemo()
    val costs = ExtQueries.prebuildSharedIndexes(spark, dir)
    val names = costs.map(_._1).toSet
    for (n <- Seq("lsh_chain", "kmeans_cents", "semfit", "seminc"))
      assert(names.contains(n), s"prebuild missing $n")
    assert(costs.forall(_._2 >= 0.0))
    // after prebuild, query construction must NOT rebuild anything
    val c1 = entry(Artifacts.SessionFrame, "semfit_coarse").get
    graft.SparkEntry.queries("dedup_semantic")(spark, dir)
    assert(entry(Artifacts.SessionFrame, "semfit_coarse").get eq c1,
      "construction after prebuild re-fit the index")
  }

  test("cached index part frames belong to the probing session: a " +
    "second session probing the same artifact path reads its own") {
    withArtifactRoot { _ =>
      ExtQueries.clearIndexes()
      val other = spark.newSession()
      for ((key, kind, parts) <- Seq(
          ("dedup_incremental", "exact", Seq("hashes")),
          ("dedup_incremental_near", "near", Seq("bands")),
          ("dedup_incremental_semantic", "semantic",
            Seq("cells", "coarse", "anchors")));
          s <- Seq(spark, other)) {
        graft.SparkEntry.queries(key)(s, dir)
        val path = entry(Artifacts.AtRestIndex, kind, s).get
        for (part <- parts) {
          val df = Artifacts.get(Artifacts.Key(Artifacts.PartFrame,
            Some(s), path, part, "1"))
          assert(df.isDefined, s"$key must pin its $part part")
          assert(df.get.sparkSession eq s,
            s"$key was served a $part frame another session read")
        }
      }
    }
  }

  test("one cross-run rule: only at-rest indexes persist under the " +
    "artifact root; fitted models rebuild in every run") {
    withArtifactRoot { root =>
      ExtQueries.clearMemo()
      ExtQueries.clearIndexes()
      ExtQueries.prebuildSharedIndexes(spark, dir)
      import scala.jdk.CollectionConverters._
      val memoDirs = java.nio.file.Files.walk(root).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("memo_")).toSeq
      assert(memoDirs.isEmpty,
        s"session frames were written under the artifact root: $memoDirs")
      val k1 = entry(Artifacts.SessionFrame, "kmeans_cents").get
      ExtQueries.clearMemo()
      graft.SparkEntry.queries("kmeans_fit_assign")(spark, dir)
      val k2 = entry(Artifacts.SessionFrame, "kmeans_cents")
      assert(k2.isDefined && !(k2.get eq k1),
        "kmeans_fit_assign did not rebuild the centroids after clearMemo")
      assert(k2.get.inputFiles.isEmpty,
        "kmeans_cents was read back from disk instead of fitted")
    }
  }

  test("Artifacts.part: pinning a new version evicts the superseded pin") {
    val path = "/artifacts-spec/part"
    def pinned(v: String) = Artifacts.get(
      Artifacts.Key(Artifacts.PartFrame, Some(spark), path, "p", v))
    val v1 = Artifacts.part(spark, path, "p", "1")(spark.range(1).toDF())
    assert(Artifacts.part(spark, path, "p", "1")(fail("re-read pin 1")) eq v1)
    val v2 = Artifacts.part(spark, path, "p", "2")(spark.range(2).toDF())
    assert(pinned("1").isEmpty, "the superseded version stayed pinned")
    assert(pinned("2").get eq v2)
  }

  test("Artifacts.invalidate drops the verdicts and part frames nested " +
    "under a path, and keeps session frames") {
    import Artifacts._
    val root = "/artifacts-spec/inv"
    verdict(s"$root/idx", "fresh", "")(true)
    verdict(s"${root}x", "fresh", "")(true)
    part(spark, s"$root/idx", "p", "1")(spark.range(1).toDF())
    val frame = Key(SessionFrame, Some(spark), root, "frame")
    getOrBuild(frame)(spark.range(1).toDF())
    invalidate(root)
    assert(get(Key(GateVerdict, None, s"$root/idx", "fresh")).isEmpty)
    assert(get(Key(PartFrame, Some(spark), s"$root/idx", "p", "1")).isEmpty)
    assert(get(frame).isDefined, "invalidate dropped a session frame")
    assert(get(Key(GateVerdict, None, s"${root}x", "fresh")).isDefined,
      "a sibling path that only shares the prefix is not nested")
  }

  test("Artifacts.verdict: verdicts differing only in params are " +
    "independent, and a failing check is not cached") {
    val path = "/artifacts-spec/verdict"
    var checks = 0
    def check(r: Boolean): Boolean = { checks += 1; r }
    assert(Artifacts.verdict(path, "g", "a=1")(check(true)))
    assert(!Artifacts.verdict(path, "g", "a=2")(check(false)))
    assert(Artifacts.verdict(path, "g", "a=1")(check(false)))
    assert(Artifacts.verdict(path, "g", "a=2")(check(true)))
    assert(checks == 3)
  }
}
