package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** End-to-end lifecycle of the corpus-owning ingest surface (r15
  * verdict ask #5; r16 rework): one [[DocStore.ingestBatch]] call must
  * leave EVERY routed probe (bm25 / phrase / exact / near / semantic
  * dedup) serving the updated corpus THROUGH the artifact path,
  * bit-equal to a cold full rebuild — and the crash/replace/delete
  * lifecycle must only ever change COST, never verdicts:
  *  - torn ingest → fallback serves the pre-ingest corpus; re-running
  *    the same ingest heals IDEMPOTENTLY (no double-counted postings
  *    or stats — r16 advice #2);
  *  - a redo with a DIFFERENT batch fails loudly (write-ahead intent);
  *  - replace/delete are copy-on-write (r16 advice #1) and route every
  *    probe to the fallback until [[DocStore.rebuildIndexes]];
  *  - an ingest AFTER an un-rebuilt replace must NOT stamp the stale
  *    artifacts current (refresh refusal, `Index.admitRefresh`);
  *  - concurrent ingests serialize under the store writer lock
  *    (r16 verdict ask #3) and converge to the serial outcome.
  */
class DocStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // unified corpus (doc_id, text, vec): documents ⋈ embeddings so one
  // store exercises the text AND vector artifacts
  private lazy val all = {
    val d = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("vec"))
    d.join(e, d("doc_id") === e("vec_id")).drop("vec_id")
      .localCheckpoint(true)
  }

  private val cfg = DocStore.Config("doc_id", "text",
    vecCol = Some("vec"), bm25 = true, exact = true,
    near = Some(IndexKind.Near(8, 1, 3)),
    sem = Some(IndexKind.Semantic(32, 1)))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.orderBy("doc_id").collect().map(_.toString)

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def log(root: String) = new graft.core.CommitLog(root, _ => Nil)

  /** The write-ahead intent `ingestBatch` writes for `batch` at `v`. */
  private def writeIntent(root: String, v: Long,
                          batch: org.apache.spark.sql.DataFrame): Unit = {
    import org.json4s._
    val fp = batch.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("doc_id").cast("string"))), lit(0L))
        .as("h")).head()
    log(root).writeIntent(v, JObject("version" -> JLong(v),
      "fp_n" -> JLong(fp.getAs[Long]("n")), "fp_h" -> JLong(fp.getAs[Long]("h"))))
  }

  test("ingestBatch: every routed probe serves the updated corpus " +
    "through the ARTIFACT path, bit-equal to a cold full rebuild") {
    // live store: init on 5/7 of the corpus, ingest the %7==6 slice;
    // cold store: init directly on all 6/7 — the target state
    val batch = all.filter(col("doc_id") % 7 === 3)
    val ingested = all.filter(col("doc_id") % 7 === 6)
    val initial = all.filter(col("doc_id") % 7 =!= 3 &&
      col("doc_id") % 7 =!= 6)

    val live = tmp("dslive")
    DocStore.init(spark, live, initial, cfg)
    assert(DocStore.version(spark, live) == 1L)
    val v2 = DocStore.ingestBatch(spark, live, ingested, cfg)
    assert(v2 == 2L && DocStore.version(spark, live) == 2L)
    assert(DocStore.count(spark, live) ==
      all.filter(col("doc_id") % 7 =!= 3).count())

    val cold = tmp("dscold")
    DocStore.init(spark, cold, all.filter(col("doc_id") % 7 =!= 3), cfg)

    val terms = Seq("stream", "spark")
    def probes(root: String) = Seq(
      ("bm25", DocStore.bm25(spark, root, cfg, terms), "postings"),
      ("phrase", DocStore.phraseBm25(spark, root, cfg, terms), "postings"),
      ("exact", DocStore.dedupBatchExact(spark, root, cfg, batch), "hashes"),
      ("near", DocStore.dedupBatchNear(spark, root, cfg, batch), "bands"))
    probes(live).zip(probes(cold)).foreach {
      case ((name, liveDf, marker), (_, coldDf, _)) =>
        assert(plan(liveDf).contains(marker),
          s"$name: refreshed store must probe the artifact")
        assert(rows(liveDf).sameElements(rows(coldDf)),
          s"$name: ingest+refresh != cold rebuild")
    }

    // semantic: refresh deliberately never refits (frozen-index
    // SemDeDup contract), so the comparison is NOT a cold rebuild —
    // the store's probe must equal the direct computation over the
    // live artifact's own frames
    val sem = DocStore.dedupBatchSemantic(spark, live, cfg, batch, 0.40)
    assert(plan(sem).contains("cells"),
      "sem: refreshed store must probe the artifact")
    val semIdx = Index.current(DocStore.semPath(live)).get
    val semWant = Dedup.incrementalSemantic(batch,
      semIdx.part(spark, "cells"), semIdx.part(spark, "coarse"),
      semIdx.part(spark, "anchors"), "doc_id", "vec", 0.40)
    assert(rows(sem).sameElements(rows(semWant)),
      "sem: store probe != direct artifact computation")
  }

  test("TORN ingest (crash between an index refresh and the commit): " +
    "the refreshed artifact reads AHEAD of the corpus version and " +
    "must NOT be probed; re-running the SAME ingest heals " +
    "IDEMPOTENTLY — no double-counted postings or stats") {
    val batch = all.filter(col("doc_id") % 7 === 3)
    val corpus0 = all.filter(col("doc_id") % 7 =!= 3 &&
      col("doc_id") % 7 =!= 6)
    val ingested = all.filter(col("doc_id") % 7 === 6)
    val root = tmp("dstear")
    val cfgLite = DocStore.Config("doc_id", "text", bm25 = true,
      exact = true)
    DocStore.init(spark, root, corpus0, cfgLite)
    // simulate the tear: the index refreshes of ingestBatch ran
    // (stamped v2) but the crash hit before the segment write and the
    // commit — exactly the window the commit ordering defends
    Index.refresh(DocStore.bm25Path(root),
      ingested, "doc_id", "text", newVersion = Some(2L))
    Index.refresh(DocStore.exactPath(root),
      ingested, "doc_id", "text", newVersion = Some(2L))
    assert(DocStore.version(spark, root) == 1L, "commit must still be v1")
    val probe = DocStore.dedupBatchExact(spark, root, cfgLite, batch)
    assert(!plan(probe).contains("hashes"),
      "an artifact AHEAD of the corpus version must not be probed")
    // and the fallback's verdicts are the PRE-ingest corpus's — the
    // only corpus the store's commit record actually lists
    assert(rows(probe).sameElements(rows(DedupIndex
      .incrementalExactRouted(spark, batch, DocStore.docs(spark, root),
        "doc_id", "text", None))))

    // re-running the ingest end-to-end from the torn state completes
    // the transaction IDEMPOTENTLY: the already-stamped refreshes are
    // skipped (admitRefresh), and a refresh torn before its record
    // would have been REPLACED at the same sequence, not appended to
    DocStore.ingestBatch(spark, root, ingested, cfgLite)
    assert(DocStore.version(spark, root) == 2L)
    val cold = tmp("dstearcold")
    DocStore.init(spark, cold,
      all.filter(col("doc_id") % 7 =!= 3), cfgLite)
    val healed = DocStore.dedupBatchExact(spark, root, cfgLite, batch)
    assert(plan(healed).contains("hashes"),
      "healed store must serve through the artifact")
    assert(rows(healed).sameElements(
      rows(DocStore.dedupBatchExact(spark, cold, cfgLite, batch))))
    // bm25 catches double-appended postings bit-for-bit: df/tf/N/Σdl
    // would all double on the batch docs if the redo re-appended
    val hb = DocStore.bm25(spark, root, cfgLite, Seq("stream", "spark"))
    assert(plan(hb).contains("postings"))
    assert(rows(hb).sameElements(
      rows(DocStore.bm25(spark, cold, cfgLite, Seq("stream", "spark")))),
      "healed bm25 != cold rebuild — the redo double-counted")
    // the record's count is exact, not conservatively over-counted
    assert(Index.current(DocStore.exactPath(root)).get.n ==
      DocStore.count(spark, root),
      "healed index stats must record the exact corpus count")
  }

  test("a torn ingest's redo with a DIFFERENT batch fails loudly " +
    "(write-ahead intent fingerprint); rebuildIndexes voids the dead " +
    "intent and unblocks") {
    val corpus0 = all.filter(col("doc_id") % 7 =!= 3 &&
      col("doc_id") % 7 =!= 6)
    val batchA = all.filter(col("doc_id") % 7 === 6)
    val batchB = all.filter(col("doc_id") % 7 === 3)
    val root = tmp("dsfp")
    val cfgLite = DocStore.Config("doc_id", "text", bm25 = false,
      exact = true)
    DocStore.init(spark, root, corpus0, cfgLite)
    // simulate the torn ingest of batchA: intent written + index
    // stamped v2, crash before the commit (the intent is step 1 of
    // ingestBatch — replicate its record shape)
    writeIntent(root, 2L, batchA)
    Index.refresh(DocStore.exactPath(root),
      batchA, "doc_id", "text", newVersion = Some(2L))

    // redoing with a DIFFERENT batch must not "heal" the wrong redo
    intercept[IllegalArgumentException] {
      DocStore.ingestBatch(spark, root, batchB, cfgLite)
    }
    // a rewrite must FENCE above the torn intent's version — never
    // commit the corpus at the version the stale artifact carries
    val repl = corpus0.limit(5)
      .withColumn("text", concat(lit("R "), col("text")))
    val rv = DocStore.replaceDocs(spark, root, repl, cfgLite)
    assert(rv == 3L,
      s"rewrite must skip the torn intent's v2, got v$rv")
    val pr = DocStore.dedupBatchExact(spark, root, cfgLite, batchB)
    assert(!plan(pr).contains("hashes"),
      "stale artifact must not version-match the rewritten corpus")
    // rebuild re-earns the artifacts AND voids the dead intent, so
    // ingests flow again
    DocStore.rebuildIndexes(spark, root, cfgLite)
    val v4 = DocStore.ingestBatch(spark, root, batchB, cfgLite)
    assert(v4 == 4L && DocStore.version(spark, root) == 4L)
    assert(plan(DocStore.dedupBatchExact(spark, root, cfgLite, batchB))
      .contains("hashes"))
  }

  test("replaceDocs (SAME-count content replacement — invisible to a " +
    "count gate): copy-on-write, every probe falls back with correct " +
    "values; rebuildIndexes restores the artifact path") {
    val batch = all.filter(col("doc_id") % 7 === 3)
    val corpus0 = all.filter(col("doc_id") % 7 =!= 3)
    val root = tmp("dsrepl")
    DocStore.init(spark, root, corpus0, cfg)

    // replace the text of the %7==0 docs — ids and count unchanged
    val repl = corpus0.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(lit("REPLACED "), col("text")))
    val v2 = DocStore.replaceDocs(spark, root, repl, cfg)
    assert(v2 == 2L)
    assert(DocStore.count(spark, root) == corpus0.count(),
      "replacement must not change the doc count")
    // COPY-ON-WRITE: the pre-replace segment is untouched on disk —
    // no crash window could have lost the corpus (r16 advice #1)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/docs/b1/_SUCCESS")),
      "replace must never touch the previous corpus segments")

    val replaced = DocStore.docs(spark, root)
    // every probe routes to the FALLBACK (the artifacts record v1)...
    val b = DocStore.bm25(spark, root, cfg, Seq("stream", "spark"))
    assert(!plan(b).contains("postings"),
      "a version-mismatched bm25 artifact must NOT be probed")
    // ...and the fallback computes over the REPLACED corpus
    assert(rows(b).sameElements(rows(TextStats.bm25(replaced, "doc_id",
      "text", Seq("stream", "spark")))))
    val ex = DocStore.dedupBatchExact(spark, root, cfg, batch)
    assert(!plan(ex).contains("hashes"))
    assert(rows(ex).sameElements(rows(DedupIndex.incrementalExactRouted(
      spark, batch, replaced, "doc_id", "text", None))))
    val nr = DocStore.dedupBatchNear(spark, root, cfg, batch)
    assert(!plan(nr).contains("bands"))

    // an ingest on the un-rebuilt store must NOT stamp the stale
    // artifacts current (refresh refusal): it commits the corpus,
    // probes keep falling back — over corpus ∪ batch — with correct
    // values
    val extra = all.filter(col("doc_id") % 7 === 3)
    val v3 = DocStore.ingestBatch(spark, root, extra, cfg)
    assert(v3 == 3L)
    val ex2 = DocStore.dedupBatchExact(spark, root, cfg,
      batch.limit(50))
    assert(!plan(ex2).contains("hashes"),
      "refresh after un-rebuilt replace must not re-earn the artifact")

    // rebuild re-earns the artifact path at the corpus's version
    DocStore.rebuildIndexes(spark, root, cfg)
    val b2 = DocStore.bm25(spark, root, cfg, Seq("stream", "spark"))
    assert(plan(b2).contains("postings"),
      "rebuilt artifacts must route back to the probe")
    val ex3 = DocStore.dedupBatchExact(spark, root, cfg, batch)
    assert(plan(ex3).contains("hashes"))
    assert(rows(ex3).sameElements(rows(DedupIndex.incrementalExactRouted(
      spark, batch, DocStore.docs(spark, root), "doc_id", "text", None))))
  }

  test("deleteDocs: deleted documents vanish from bm25/phrase/mixed " +
    "retrieval and from dedup verdicts via BOTH the fallback and the " +
    "rebuilt-artifact path (r16 verdict ask #4)") {
    val corpus0 = all.filter(col("doc_id") % 7 =!= 3)
    val root = tmp("dsdel")
    val cfgTxt = DocStore.Config("doc_id", "text", bm25 = true,
      exact = true, near = Some(IndexKind.Near(8, 1, 3)))
    DocStore.init(spark, root, corpus0, cfgTxt)

    val terms = Seq("stream", "spark")
    // delete every doc the bm25 probe currently surfaces
    val hit0 = DocStore.bm25(spark, root, cfgTxt, terms)
    val delIds = hit0.select("doc_id").limit(20).localCheckpoint(true)
    val deleted = delIds.collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty)

    val v2 = DocStore.deleteDocs(spark, root, delIds, cfgTxt)
    assert(v2 == 2L)
    assert(DocStore.count(spark, root) ==
      corpus0.count() - deleted.size)

    def assertGone(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val got = df.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got.intersect(deleted).isEmpty,
        s"$tag still surfaces deleted docs: ${got.intersect(deleted)}")
    }
    // FALLBACK path (artifacts record v1 ≠ v2)
    val b1 = DocStore.bm25(spark, root, cfgTxt, terms)
    assert(!plan(b1).contains("postings"))
    assertGone(b1, "bm25 fallback")
    assertGone(DocStore.phraseBm25(spark, root, cfgTxt, terms),
      "phrase fallback")
    assertGone(DocStore.mixedBm25(spark, root, cfgTxt,
      Seq("vector"), Seq(terms)), "mixed fallback")
    // a batch duplicating a DELETED doc's text must read as NEW now
    val delTexts = corpus0.filter(col("doc_id").isin(deleted.toSeq: _*))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val exFb = DocStore.dedupBatchExact(spark, root, cfgTxt, delTexts)
    assert(!plan(exFb).contains("hashes"))
    assert(exFb.filter(col("verdict") === "dup_of_corpus").count() == 0,
      "dedup fallback must not match deleted docs")

    // REBUILT-artifact path: same answers, artifact-served
    DocStore.rebuildIndexes(spark, root, cfgTxt)
    val b2 = DocStore.bm25(spark, root, cfgTxt, terms)
    assert(plan(b2).contains("postings"))
    assertGone(b2, "bm25 rebuilt")
    assert(rows(b2).sameElements(rows(b1)),
      "routing changed bm25 values")
    val exIdx = DocStore.dedupBatchExact(spark, root, cfgTxt, delTexts)
    assert(plan(exIdx).contains("hashes"))
    assert(exIdx.filter(col("verdict") === "dup_of_corpus").count() == 0,
      "rebuilt dedup index must not match deleted docs")
  }

  test("CONCURRENT ingests serialize under the store writer lock and " +
    "converge to the serial outcome (r16 verdict ask #3)") {
    val corpus0 = all.filter(col("doc_id") % 7 === 0)
    val slices = (1 to 4).map(k => all.filter(col("doc_id") % 7 === k)
      .localCheckpoint(true))
    val cfgLite = DocStore.Config("doc_id", "text", bm25 = true,
      exact = true)

    val par = tmp("dspar")
    DocStore.init(spark, par, corpus0, cfgLite)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = slices.map(s => new Thread(() =>
      try DocStore.ingestBatch(spark, par, s, cfgLite)
      catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent ingest failed: ${errs.peek()}")

    val ser = tmp("dsser")
    DocStore.init(spark, ser, corpus0, cfgLite)
    slices.foreach(s => DocStore.ingestBatch(spark, ser, s, cfgLite))

    // all four committed, none lost to a version race
    assert(DocStore.version(spark, par) == 5L)
    assert(DocStore.count(spark, par) == DocStore.count(spark, ser))
    assert(rows(DocStore.docs(spark, par)).sorted
      .sameElements(rows(DocStore.docs(spark, ser)).sorted),
      "parallel corpus != serial corpus")
    // artifacts are at the corpus version (probes route through them)
    // and answer exactly like the serially-built store's
    val batch = all.filter(col("doc_id") % 7 === 5)
    val pEx = DocStore.dedupBatchExact(spark, par, cfgLite, batch)
    assert(plan(pEx).contains("hashes"),
      "post-concurrent-ingest probe must serve through the artifact")
    assert(rows(pEx).sameElements(
      rows(DocStore.dedupBatchExact(spark, ser, cfgLite, batch))))
    val terms = Seq("stream", "spark")
    assert(rows(DocStore.bm25(spark, par, cfgLite, terms)).sameElements(
      rows(DocStore.bm25(spark, ser, cfgLite, terms))),
      "parallel bm25 != serial bm25")
  }

  test("vacuum drops only segments no retained commit record " +
    "references; the live corpus is untouched") {
    val corpus0 = all.filter(col("doc_id") % 7 === 0)
    val b2 = all.filter(col("doc_id") % 7 === 1)
    val b4 = all.filter(col("doc_id") % 7 === 2)
    val root = tmp("dsvac")
    val cfgLite = DocStore.Config("doc_id", "text", bm25 = false,
      exact = true)
    DocStore.init(spark, root, corpus0, cfgLite)             // b1
    DocStore.ingestBatch(spark, root, b2, cfgLite)           // b2
    val repl = corpus0.limit(3)
      .withColumn("text", concat(lit("R "), col("text")))
    DocStore.replaceDocs(spark, root, repl, cfgLite)         // r3
    DocStore.ingestBatch(spark, root, b4, cfgLite)           // b4
    val before = rows(DocStore.docs(spark, root))
    DocStore.vacuum(spark, root)
    def seg(p: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/docs/$p"))
    assert(!seg("b1") && !seg("b2"),
      "unreferenced pre-rewrite segments must be vacuumed")
    assert(seg("r3") && seg("b4"),
      "segments of the retained commit records must survive")
    assert(rows(DocStore.docs(spark, root)).sameElements(before),
      "vacuum changed the live corpus")
  }

  test("crash states: an ingest's files or intent without its record, a " +
    "torn temp record and an unpruned commit read as the last committed " +
    "version; the re-run heals") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val corpus0 = all.filter(col("doc_id") % 7 === 0)
    val batchA = all.filter(col("doc_id") % 7 === 1)
    val batchB = all.filter(col("doc_id") % 7 === 2)
    val cfgLite = DocStore.Config("doc_id", "text", bm25 = false,
      exact = true)
    def build(): String = {
      val root = tmp("dscrash")
      DocStore.init(spark, root, corpus0, cfgLite)           // v1
      DocStore.ingestBatch(spark, root, batchA, cfgLite)     // v2
      root
    }
    // every read, with the probe checked against the raw scan of the
    // corpus the store's record lists
    def answers(root: String) = {
      val probe = DocStore.dedupBatchExact(spark, root, cfgLite, batchB)
      assert(rows(probe).sameElements(rows(DedupIndex.incrementalExactRouted(
        spark, batchB, DocStore.docs(spark, root), "doc_id", "text", None))),
        "probe != raw scan")
      (DocStore.version(spark, root), DocStore.count(spark, root),
        rows(DocStore.docs(spark, root)).toSeq, rows(probe).toSeq)
    }
    val twin = build()
    DocStore.ingestBatch(spark, twin, batchB, cfgLite)
    val afterB = answers(twin)
    def rec(root: String) = Paths.get(root, "_commit", "v3.json")

    def torn(tear: String => Unit): Unit = {
      val root = build()
      val before = answers(root)
      tear(root)
      assert(answers(root) == before)
      DocStore.ingestBatch(spark, root, batchB, cfgLite) // the re-run
      assert(answers(root) == afterB)
      assert(log(root).versions == Seq(2L, 3L))
      val s = Files.list(Paths.get(root, "_commit"))
      try assert(!s.iterator().asScala.exists(_.toString.endsWith(".tmp")))
      finally s.close()
    }
    // the ingest's segment, index refresh and intent are down, its
    // record is not
    torn { root =>
      DocStore.ingestBatch(spark, root, batchB, cfgLite)
      Files.delete(rec(root))
    }
    // its record was cut short in the temp file
    torn { root =>
      DocStore.ingestBatch(spark, root, batchB, cfgLite)
      val bytes = Files.readAllBytes(rec(root))
      Files.delete(rec(root))
      Files.write(Paths.get(root, "_commit", "v3.json.torn.tmp"),
        bytes.take(bytes.length / 2))
    }
    // only the intent is down
    torn(root => writeIntent(root, 3L, batchB))

    // v3 committed, the prune of v1 never ran: reads are v3's, and the
    // next commit prunes
    val root = build()
    val v1 = Files.readAllBytes(Paths.get(root, "_commit", "v1.json"))
    DocStore.ingestBatch(spark, root, batchB, cfgLite)
    Files.write(Paths.get(root, "_commit", "v1.json"), v1)
    assert(answers(root) == afterB)
    val batchC = all.filter(col("doc_id") % 7 === 4)
    assert(DocStore.ingestBatch(spark, root, batchC, cfgLite) == 4L)
    assert(log(root).versions == Seq(3L, 4L))
    assert(DocStore.count(spark, root) == afterB._2 + batchC.count())
  }
}
