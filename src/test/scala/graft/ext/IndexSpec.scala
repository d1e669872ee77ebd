package graft.ext

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The one index lifecycle ([[Index]]) across the four kinds: the gate
  * reads only the commit record, torn writes are invisible and healed
  * by the re-run, and a path without a record is cleared before its
  * first build.
  */
class IndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // documents ⋈ embeddings, so one corpus feeds the text and vector kinds
  private lazy val all = {
    val d = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("vec"))
    d.join(e, d("doc_id") === e("vec_id")).drop("vec_id")
      .localCheckpoint(true)
  }
  private lazy val batch = all.filter(col("doc_id") % 7 === 3)
  private def slice(lo: Long, hi: Long): DataFrame =
    all.filter(col("doc_id") % 7 =!= 3 && col("doc_id") >= lo &&
      col("doc_id") < hi)

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("doc_id").collect().map(_.toString).toSeq

  /** A kind, the column it indexes, the part its probe plan reads, and
    * its routed probe of `batch` over (corpus, index path, version). */
  private case class Kind(kind: IndexKind, valCol: String, marker: String,
                          probe: (DataFrame, Option[String], Option[Long]) => DataFrame)

  // the semantic kind fits ONE cell from the 50 lowest ids, all in the
  // first slice: its refreshes then assign exactly as a session fit
  // over the grown corpus does, so its probe is comparable to the
  // fallback like the other three
  private lazy val kinds = Seq(
    Kind(IndexKind.Bm25, "text", "postings", (c, p, v) =>
      TextStats.bm25Routed(spark, c, "doc_id", "text", Seq("stream", "spark"),
        p, expectedVersion = v)),
    Kind(IndexKind.Exact, "text", "hashes", (c, p, v) =>
      DedupIndex.incrementalExactRouted(spark, batch, c, "doc_id", "text",
        p, v)),
    Kind(IndexKind.Near(8, 1, 3), "text", "bands", (c, p, v) =>
      DedupIndex.incrementalNearRouted(spark, batch, c, "doc_id", "text",
        8, 1, 3, p, v)),
    Kind(IndexKind.Semantic(1000, 1), "vec", "cells", (c, p, v) =>
      DedupIndex.incrementalSemanticRouted(spark, batch, c, "doc_id", "vec",
        1000, 1, 0.40, p, v)))

  private def files(root: String): Set[String] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => Paths.get(root).relativize(f).toString).toSet
    finally s.close()
  }

  private def children(p: Path): Set[String] =
    if (!Files.isDirectory(p)) Set.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }

  /** The index tree holds its records and the dirs they list (plus
    * `other`, a child that is not the index's), nothing else. */
  private def onlyListed(path: String, other: Set[String] = Set.empty): Unit = {
    val c = Index.current(path).get
    assert(children(Paths.get(path)) == c.kind.parts.toSet + "_commit" ++ other)
    for ((name, part) <- c.parts)
      assert(children(Paths.get(path, name)) ==
        part.dirs.map(d => d.split('/')(1)).toSet, s"$path/$name")
    val dirs = c.parts.values.flatMap(_.dirs).toSet
    assert(files(path).forall(f => dirs(f.substring(0, f.lastIndexOf('/')))),
      s"$path holds a parquet file outside the listed dirs")
    assert(!children(Paths.get(path, "_commit")).exists(_.endsWith(".tmp")))
  }

  test("the gate fires no Spark job when given a version — for each " +
    "kind, on the first call too") {
    for (k <- kinds) {
      val p = tmp("gatejobs")
      Index.build(k.kind, slice(0, 1000), "doc_id", k.valCol, p,
        version = 4L)
      // a corpus the count tier would read as stale: a passing gate
      // never counted it
      val poison = all.filter(lit(false))
      var hit: Option[IndexCommit] = None
      assert(graft.JobCount(spark) {
        hit = Index.gate(p, k.kind, poison, Some(4L))
      } == 0, s"${k.kind}: first gate call fired a job")
      assert(hit.exists(_.stamp == 4L))
      assert(graft.JobCount(spark) {
        hit = Index.gate(p, k.kind, poison, Some(5L))
      } == 0)
      assert(hit.isEmpty, s"${k.kind}: a stamp mismatch passed")
    }
  }

  test("crash states of each kind: a refresh's files without its record, " +
    "a torn temp record and an unpruned older record serve the last " +
    "committed record, routed = fallback; the re-run heals") {
    val (a, b, c, d) = (slice(0, 200), slice(200, 300), slice(300, 400),
      slice(400, 1000))
    for (k <- kinds) {
      def rec(p: String, s: Long) = Paths.get(p, "_commit", s"v$s.json")
      def build(): String = {
        val p = tmp("idxcrash")
        Index.build(k.kind, a, "doc_id", k.valCol, p)
        Index.refresh(p, b, "doc_id", k.valCol, Some(2L))
        p
      }
      // the probe at the corpus the record reflects serves from the
      // index and answers like the session fallback
      def serves(p: String, corpus: DataFrame, v: Long): Unit = {
        val routed = k.probe(corpus, Some(p), Some(v))
        assert(routed.queryExecution.executedPlan.toString.contains(k.marker),
          s"${k.kind}: v$v not served from the index")
        assert(rows(routed) == rows(k.probe(corpus, None, None)),
          s"${k.kind}: routed != fallback at v$v")
      }
      def heals(p: String): Unit = {
        Index.refresh(p, c, "doc_id", k.valCol, Some(3L)) // the re-run
        serves(p, a.union(b).union(c), 3L)
        assert(new graft.core.CommitLog(p, _ => Nil).versions == Seq(2L, 3L))
        onlyListed(p)
      }

      // the refresh's files are down, its record is not
      val p1 = build()
      Index.refresh(p1, c, "doc_id", k.valCol, Some(3L))
      Files.delete(rec(p1, 3))
      serves(p1, a.union(b), 2L)
      heals(p1)

      // its record was cut short in the temp file
      val p2 = build()
      Index.refresh(p2, c, "doc_id", k.valCol, Some(3L))
      val bytes = Files.readAllBytes(rec(p2, 3))
      Files.delete(rec(p2, 3))
      Files.write(Paths.get(p2, "_commit", "v3.json.torn.tmp"),
        bytes.take(bytes.length / 2))
      serves(p2, a.union(b), 2L)
      heals(p2)

      // v3 committed, the prune of v1 never ran: v3 serves, and the next
      // commit prunes
      val p3 = build()
      val v1 = Files.readAllBytes(rec(p3, 1))
      Index.refresh(p3, c, "doc_id", k.valCol, Some(3L))
      Files.write(rec(p3, 1), v1)
      serves(p3, a.union(b).union(c), 3L)
      Index.refresh(p3, d, "doc_id", k.valCol, Some(4L))
      assert(new graft.core.CommitLog(p3, _ => Nil).versions == Seq(3L, 4L))
      serves(p3, a.union(b).union(c).union(d), 4L)
      onlyListed(p3)
    }
  }

  test("a part is read through exactly its listed version dirs, with " +
    "the same answers") {
    val p = tmp("idxdirs")
    Index.build(IndexKind.Exact, slice(0, 200), "doc_id", "text", p)
    Index.refresh(p, slice(200, 300), "doc_id", "text")
    Index.refresh(p, slice(300, 1000), "doc_id", "text")
    val c = Index.current(p).get
    assert(c.parts("hashes").dirs == Seq("hashes/v1", "hashes/v2", "hashes/v3"))
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val location = c.read(spark, "hashes")
      .queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r.location }.get
    assert(location.rootPaths.map(_.getName).toSet == Set("v1", "v2", "v3"),
      s"the part was not read through its version dirs: ${location.rootPaths}")
    assert(location.inputFiles.map(f => f.substring(f.indexOf("hashes/")))
      .toSet == files(p))
    val routed = DedupIndex.incrementalExactRouted(spark, batch,
      slice(0, 1000), "doc_id", "text", Some(p), Some(3L))
    assert(routed.queryExecution.executedPlan.toString.contains("hashes"))
    assert(rows(routed) == rows(DedupIndex.incrementalExactRouted(spark,
      batch, slice(0, 1000), "doc_id", "text", None)))
  }

  test("DocStore.init and the first build over an earlier on-disk layout " +
    "keep only _commit, the writer lock, what the records list and what " +
    "neither layout wrote") {
    val one = all.limit(3)
    // the earlier index layout: v=N data partitions, a stats/ row and
    // _SUCCESS markers
    def oldIndex(p: String): Unit = {
      one.withColumn("v", lit(1L)).write.partitionBy("v").parquet(s"$p/hashes")
      one.select(count(lit(1)).as("n")).write.parquet(s"$p/stats")
    }
    // a child neither layout wrote is not the store's: it stays
    def unrelated(p: String): Unit = {
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, "notes.txt"), "keep".getBytes)
    }
    val root = tmp("dsold")
    // the earlier store layout: meta_v / txn_v record dirs
    for (d <- Seq("meta_v1", "meta_v2", "txn_v2", "docs/b1", "docs/b2"))
      one.write.parquet(s"$root/$d")
    oldIndex(DocStore.exactPath(root))
    unrelated(root)
    val cfg = DocStore.Config("doc_id", "text", bm25 = false, exact = true)
    DocStore.init(spark, root, slice(0, 1000), cfg)
    assert(children(Paths.get(root)) -- Set("_WRITE_LOCK") ==
      Set("_commit", "docs", "index", "notes.txt"))
    assert(children(Paths.get(root, "docs")) == Set("b1"))
    assert(children(Paths.get(root, "index")) == Set("exact"))
    onlyListed(DocStore.exactPath(root))
    assert(DocStore.count(spark, root) == slice(0, 1000).count())

    val idx = tmp("idxold")
    oldIndex(idx)
    unrelated(idx)
    Index.build(IndexKind.Exact, slice(0, 1000), "doc_id", "text", idx)
    onlyListed(idx, other = Set("notes.txt"))
    assert(new String(Files.readAllBytes(Paths.get(idx, "notes.txt"))) == "keep")
    val routed = DedupIndex.incrementalExactRouted(spark, batch,
      slice(0, 1000), "doc_id", "text", Some(idx), Some(1L))
    assert(routed.queryExecution.executedPlan.toString.contains("hashes"))
  }
}
