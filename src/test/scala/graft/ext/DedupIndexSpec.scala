package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The at-rest lifecycle of the three incremental-dedup indexes (r14
  * ask #1): for each of content-hash / MinHash-band / semantic-cell,
  * pins that (a) probing the persisted artifact is BIT-IDENTICAL to
  * the session build, (b) build(half) + refresh(rest) equals a full
  * build (exact/near: equals a full REBUILD too; semantic: equals a
  * full assignment through the FROZEN index — refresh never refits,
  * by contract), (c) a stale artifact is NOT probed (routing falls
  * back to the session build) and a refresh restores the probe path,
  * and (d) the near index's parameter gate refuses to serve a probe
  * banded differently.
  */
class DedupIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, dir, "documents")
  private lazy val emb = Tables.load(spark, dir, "embeddings")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.orderBy("doc_id").collect().map(_.toString)

  private def passes(path: String, kind: IndexKind,
                     corpus: org.apache.spark.sql.DataFrame,
                     expected: Option[Long] = None): Boolean =
    Index.gate(path, kind, corpus, expected).isDefined

  // ---------------------------------------------------------------- exact

  test("exact index: routed probe is BIT-IDENTICAL to the session " +
    "build; build(half) + refresh(rest) probes identically to a full " +
    "rebuild") {
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val session = rows(DedupIndex.incrementalExactRouted(spark, batch,
      corpus, "doc_id", "text", None))
    assert(session.nonEmpty)

    val full = tmp("exfull")
    Index.build(IndexKind.Exact, corpus, "doc_id", "text", full)
    assert(Index.current(full).isDefined)
    assert(passes(full, IndexKind.Exact, corpus))
    val probeFull = DedupIndex.incrementalExactRouted(spark, batch,
      corpus, "doc_id", "text", Some(full))
    assert(probeFull.queryExecution.executedPlan.toString
      .contains("hashes"), "fresh artifact must be probed")
    assert(rows(probeFull).sameElements(session), "probe != session")

    val inc = tmp("exinc")
    Index.build(IndexKind.Exact, corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", inc)
    Index.refresh(inc,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    assert(passes(inc, IndexKind.Exact, corpus),
      "refreshed index must carry the full corpus count")
    assert(rows(DedupIndex.incrementalExactRouted(spark, batch, corpus,
      "doc_id", "text", Some(inc))).sameElements(session),
      "refresh != rebuild/session")
  }

  test("exact index: a STALE artifact (predates an ingest) is not " +
    "probed — routing falls back to the session build; refresh " +
    "restores the probe path") {
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val idx = tmp("exstale")
    val half = corpus.filter(col("doc_id") % 2 === 0)
    Index.build(IndexKind.Exact, half, "doc_id", "text", idx)
    assert(!passes(idx, IndexKind.Exact, corpus))
    val session = rows(DedupIndex.incrementalExactRouted(spark, batch,
      corpus, "doc_id", "text", None))
    val stale = DedupIndex.incrementalExactRouted(spark, batch, corpus,
      "doc_id", "text", Some(idx))
    assert(!stale.queryExecution.executedPlan.toString.contains("hashes"),
      "stale artifact must NOT be probed")
    assert(rows(stale).sameElements(session))
    Index.refresh(idx,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    val routed = DedupIndex.incrementalExactRouted(spark, batch, corpus,
      "doc_id", "text", Some(idx))
    assert(routed.queryExecution.executedPlan.toString.contains("hashes"),
      "refreshed artifact must route back to the probe")
    assert(rows(routed).sameElements(session))
  }

  test("exact index: a TORN build (files without a record) never " +
    "routes the probe") {
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val torn = tmp("extorn")
    Index.build(IndexKind.Exact, corpus, "doc_id", "text", torn)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(torn, "_commit", "v1.json"))
    assert(Index.current(torn).isEmpty)
    val routed = DedupIndex.incrementalExactRouted(spark, batch, corpus,
      "doc_id", "text", Some(torn))
    assert(!routed.queryExecution.executedPlan.toString.contains("hashes"))
    assert(rows(routed).sameElements(rows(DedupIndex
      .incrementalExactRouted(spark, batch, corpus, "doc_id", "text",
        None))))
  }

  // ----------------------------------------------------------------- near

  test("near index: routed probe ≡ session build; build(half) + " +
    "refresh(rest) ≡ full rebuild; the PARAMETER gate refuses an " +
    "artifact banded differently") {
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    def routed(p: Option[String]) =
      DedupIndex.incrementalNearRouted(spark, batch, corpus, "doc_id",
        "text", 8, 1, 3, p)
    val session = rows(routed(None))
    assert(session.nonEmpty)

    val full = tmp("nrfull")
    Index.build(IndexKind.Near(8, 1, 3), corpus, "doc_id", "text", full)
    assert(passes(full, IndexKind.Near(8, 1, 3), corpus))
    val probe = routed(Some(full))
    assert(probe.queryExecution.executedPlan.toString.contains("bands"),
      "fresh artifact must be probed")
    assert(rows(probe).sameElements(session), "probe != session")

    val inc = tmp("nrinc")
    Index.build(IndexKind.Near(8, 1, 3),
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", inc)
    Index.refresh(inc,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    assert(passes(inc, IndexKind.Near(8, 1, 3), corpus))
    assert(rows(routed(Some(inc))).sameElements(session),
      "refresh != rebuild/session")

    // parameter gate: same artifact, different banding request → scan
    assert(!passes(full, IndexKind.Near(8, 2, 3), corpus),
      "an artifact with different LSH parameters must not read FRESH")
    val mis = DedupIndex.incrementalNearRouted(spark, batch, corpus,
      "doc_id", "text", 8, 2, 3, Some(full))
    assert(!mis.queryExecution.executedPlan.toString.contains("bands"),
      "a parameter-mismatched artifact must NOT be probed")
  }

  test("near index: stale artifact falls back; refresh restores the " +
    "probe with identical verdicts") {
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val idx = tmp("nrstale")
    Index.build(IndexKind.Near(8, 1, 3),
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    assert(!passes(idx, IndexKind.Near(8, 1, 3), corpus))
    def routed(p: Option[String]) =
      DedupIndex.incrementalNearRouted(spark, batch, corpus, "doc_id",
        "text", 8, 1, 3, p)
    val session = rows(routed(None))
    val stale = routed(Some(idx))
    assert(!stale.queryExecution.executedPlan.toString.contains("bands"))
    assert(rows(stale).sameElements(session))
    Index.refresh(idx,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    val fresh = routed(Some(idx))
    assert(fresh.queryExecution.executedPlan.toString.contains("bands"))
    assert(rows(fresh).sameElements(session))
  }

  // ------------------------------------------------------------- semantic

  test("semantic index: routed probe ≡ session build on the same " +
    "corpus; refresh assigns a batch through the FROZEN fitted index " +
    "— cells after build(A) + refresh(B) equal one assignment of " +
    "A ∪ B through the same frozen index (refresh never refits)") {
    val batch = emb.filter(col("vec_id") % 7 === 3)
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    def routed(p: Option[String]) =
      DedupIndex.incrementalSemanticRouted(spark, batch, corpus,
        "vec_id", "embedding", 32, 1, 0.40, p)
        .orderBy("vec_id").collect().map(_.toString)
    val session = routed(None)
    assert(session.nonEmpty)

    val full = tmp("smfull")
    Index.build(IndexKind.Semantic(32, 1), corpus, "vec_id", "embedding",
      full)
    assert(Index.current(full).isDefined)
    assert(passes(full, IndexKind.Semantic(32, 1), corpus))
    assert(routed(Some(full)).sameElements(session), "probe != session")

    // frozen-index refresh contract: build on A, refresh with B ⇒
    // cells/ is bit-equal to assigning A ∪ B through A's frozen index
    val a = corpus.filter(col("vec_id") % 2 === 0)
    val b = corpus.filter(col("vec_id") % 2 =!= 0)
    val inc = tmp("sminc")
    Index.build(IndexKind.Semantic(32, 1), a, "vec_id", "embedding", inc)
    Index.refresh(inc, b, "vec_id", "embedding")
    assert(passes(inc, IndexKind.Semantic(32, 1), corpus))
    val c = Index.current(inc).get
    val got = c.part(spark, "cells")
      .orderBy("corpus_id").collect().map(_.toString)
    val want = Dedup.assignCells(corpus, "vec_id", "embedding",
        c.part(spark, "coarse"), c.part(spark, "anchors"))
      .select(col("cell"), col("vec_id").as("corpus_id"),
        col("embedding").as("corpus_vec"))
      .orderBy("corpus_id").collect().map(_.toString)
    assert(got.sameElements(want),
      "refresh diverged from one frozen-index assignment of A ∪ B")
  }

  test("VERSION gate (r15 ask #4): a version-matched probe serves the " +
    "artifact with no corpus scan; a corpus version bump WITHOUT an " +
    "index refresh (same-count content replacement) routes to the " +
    "fallback; refresh stamps the new version and restores the probe") {
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val idx = tmp("exver")
    Index.build(IndexKind.Exact, corpus, "doc_id", "text", idx, version = 1L)

    // version tier passes without consulting the corpus at all: hand
    // the gate a POISON corpus that counts to ZERO rows — the count
    // tier would read NOT-fresh on it, so a passing gate proves the
    // version tier never looked
    val poison = corpus.filter(lit(false))
    assert(passes(idx, IndexKind.Exact, poison, Some(1L)))
    val probe = DedupIndex.incrementalExactRouted(spark, batch, corpus,
      "doc_id", "text", Some(idx), expectedVersion = Some(1L))
    assert(probe.queryExecution.executedPlan.toString.contains("hashes"))
    assert(rows(probe).sameElements(rows(DedupIndex
      .incrementalExactRouted(spark, batch, corpus, "doc_id", "text",
        None))))

    // the corpus moved to version 2 (e.g. a SAME-COUNT text
    // replacement — invisible to the count gate by construction) but
    // the index still records v1 → must NOT serve
    assert(!passes(idx, IndexKind.Exact, corpus, Some(2L)))
    val stale = DedupIndex.incrementalExactRouted(spark, batch, corpus,
      "doc_id", "text", Some(idx), expectedVersion = Some(2L))
    assert(!stale.queryExecution.executedPlan.toString.contains("hashes"),
      "a version-mismatched artifact must NOT be probed")

    // refresh stamping v2 commits a record the gate passes, and
    // restores the probe (empty batch: the replacement didn't add docs)
    Index.refresh(idx, corpus.limit(0), "doc_id",
      "text", newVersion = Some(2L))
    assert(passes(idx, IndexKind.Exact, poison, Some(2L)))
    val back = DedupIndex.incrementalExactRouted(spark, batch, corpus,
      "doc_id", "text", Some(idx), expectedVersion = Some(2L))
    assert(back.queryExecution.executedPlan.toString.contains("hashes"))

    // near + semantic carry the same tier
    val nidx = tmp("nrver")
    Index.build(IndexKind.Near(8, 1, 3), corpus, "doc_id", "text", nidx,
      version = 5L)
    assert(passes(nidx, IndexKind.Near(8, 1, 3), poison,
      Some(5L)))
    assert(!passes(nidx, IndexKind.Near(8, 1, 3), corpus,
      Some(6L)))
    val sidx = tmp("smver")
    val scorpus = emb.filter(col("vec_id") % 7 =!= 3)
    Index.build(IndexKind.Semantic(32, 1), scorpus, "vec_id", "embedding",
      sidx, version = 3L)
    val spoison = scorpus.filter(lit(false))
    assert(passes(sidx, IndexKind.Semantic(32, 1), spoison,
      Some(3L)))
    assert(!passes(sidx, IndexKind.Semantic(32, 1), scorpus,
      Some(4L)))
    // the parameter gate rides the version tier too (r15 advice: an
    // artifact FITTED differently is a different index even at the
    // right version)
    assert(!passes(sidx, IndexKind.Semantic(32, 2), scorpus,
      Some(3L)))
    assert(!passes(sidx, IndexKind.Semantic(16, 1), scorpus,
      Some(3L)))
  }

  test("semantic index: stale artifact falls back to the session fit; " +
    "refresh restores the probe path") {
    val batch = emb.filter(col("vec_id") % 7 === 3)
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    val idx = tmp("smstale")
    Index.build(IndexKind.Semantic(32, 1),
      corpus.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx)
    assert(!passes(idx, IndexKind.Semantic(32, 1), corpus))
    def routedDf(p: Option[String]) =
      DedupIndex.incrementalSemanticRouted(spark, batch, corpus,
        "vec_id", "embedding", 32, 1, 0.40, p)
    val stale = routedDf(Some(idx))
    assert(!stale.queryExecution.executedPlan.toString.contains("cells"),
      "stale artifact must NOT be probed")
    // fallback result == explicit session build (both fit the full
    // corpus with the same parameters)
    assert(stale.orderBy("vec_id").collect().map(_.toString)
      .sameElements(routedDf(None).orderBy("vec_id").collect()
        .map(_.toString)))
    Index.refresh(idx,
      corpus.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
    val fresh = routedDf(Some(idx))
    assert(fresh.queryExecution.executedPlan.toString.contains("cells"),
      "refreshed artifact must route back to the probe")
  }
}
