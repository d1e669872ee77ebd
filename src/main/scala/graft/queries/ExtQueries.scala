package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, CommitLog, Tables}
import graft.ext.{Dedup, Index, IndexKind, Multimodal, Sampling, Similarity,
  TextStats}

/** North-star extension queries (SURVEY.md §2.F): dedup, similarity
  * search, text analysis, multimodal plumbing — over `documents` /
  * `embeddings` / `events.props`. Every key has a byte-deterministic
  * DuckDB oracle (hash-based minhash/simhash/LSH constructions are
  * md5-hex so both engines compute identical values; float folds are
  * explicit left-to-right double arithmetic).
  */
object ExtQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** The Gopher rule bundle (Rae et al. 2021 §A1.1 flavor) shared by
    * `quality_gopher` and `quality_rule_impact` — ONE definition of
    * the rule expressions and thresholds, so the two keys cannot
    * drift on what the bundle means (each key's oracle would still
    * pass against its own divergent copy, hiding the split).
    */
  private object GopherRules {
    val stops: Seq[String] =
      Seq("the", "be", "to", "of", "and", "that", "have", "with")
    def words: Column = split(col("text"), " ")
    def nStop: Column =
      size(filter(words, t => lower(t).isInCollection(stops))).cast("long")
    def alphaFrac: Column =
      size(filter(words, t => t.rlike("[A-Za-z]"))).cast("double") /
        size(words)
    def symbolFrac: Column =
      (length(col("text")) -
        length(regexp_replace(col("text"), lit("#"), lit(""))))
        .cast("double") / size(words)
    val StopMin = 2
    val AlphaMin = 0.8
    val SymbolMax = 0.1
    val LenMin = 50
  }
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** A session-scoped shared frame ([[Artifacts.SessionFrame]]) —
    * the shingle→minhash→band→candidate chain, the fitted models, the
    * retrieval frames: built once per (session, dir) and shared by every
    * key that reads it, exactly what a production pipeline does with
    * its dedup index. `build` decides whether to persist. Nothing here
    * outlives the JVM run: every fitted model and derived table
    * rebuilds in each run (the bench stamps the cost on its prebuild
    * line), so no key reads its own answer from disk.
    */
  private def frame(s: SparkSession, dir: String, name: String)
                   (build: => DataFrame): DataFrame =
    Artifacts.getOrBuild(
      Artifacts.Key(Artifacts.SessionFrame, Some(s), dir, name))(build)

  /** Release every shared session frame (unpersisting the cached
    * ones). The registry is correct for a bench run but unbounded in a
    * long-lived session — a library surface needs an explicit release
    * valve. The next query touch simply rebuilds, so clearing is always
    * safe, never wrong, only ever a recompute. At-rest indexes survive
    * it: a cleared memo re-routes through their freshness gates and
    * re-probes the intact index without rebuilding.
    */
  def clearMemo(): Unit = Artifacts.clear(Artifacts.SessionFrame)

  private def shinglesOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "shingles")(
      Dedup.shingles(docs(s, dir), "doc_id", "text", 3).persist())

  /** The board's fixed retrieval query (3 lexical terms; vec 0 as the
    * query vector) — the oracled keys are fixed-argument instantiations
    * of the parameterized operators ([[TextStats.bm25]] /
    * [[Similarity.hybridRrf]]), which RetrievalSpec drives with a
    * SECOND query to prove the surface is an engine API, not three
    * benchmark entries.
    */
  private val QTerms = Seq("spark", "merge", "vector")

  /** Persistent prebuild root (r16 verdict ask #1a): when SET (the
    * bench wires `SPARK_GRAFT_PREBUILD_DIR`), the AT-REST INDEXES —
    * and only they — build into DETERMINISTIC dirs under
    * `$root/<corpus-tag>/` and are REUSED across JVM runs after their
    * freshness gate passes. Unset (the default — Verify, the tests),
    * they build into session temp dirs; correctness runs never touch
    * the cache.
    *
    * Staleness defenses: the corpus tag folds in a FINGERPRINT of the
    * corpus parquet files (name/length/mtime), so a regenerated test
    * corpus at the same path gets a fresh tag; each index is
    * additionally validity-checked through its own gate
    * ([[graft.ext.Index.gate]]: a commit record, the count and
    * parameter tiers); bump [[PrebuildEpoch]] whenever an
    * operator changes the CONTENT of an index so an old cache can
    * never serve a new operator's bench.
    */
  @volatile private var artifactRoot: Option[String] = None
  def setArtifactRoot(r: Option[String]): Unit = { artifactRoot = r }
  val PrebuildEpoch = 2

  private def tagOf(dir: String): String = {
    val fp = try {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        val it = st.iterator(); var acc = 0L
        while (it.hasNext) {
          val f = it.next()
          acc ^= f.getFileName.toString.hashCode.toLong ^
            java.nio.file.Files.size(f) ^
            java.nio.file.Files.getLastModifiedTime(f).toMillis
        }
        acc
      } finally st.close()
    } catch { case _: Throwable => 0L }
    dir.replaceAll("[^A-Za-z0-9.]+", "_").stripPrefix("_") +
      "_" + java.lang.Long.toHexString(fp) + s"_e$PrebuildEpoch"
  }

  /** An at-rest index ([[Artifacts.AtRestIndex]]) per (session, dir,
    * name) — the persisted BM25 / content-hash / MinHash-band /
    * semantic-cell / docstore trees the keys probe (r14 ask #1): built
    * ONCE per (session, dir), then every probe routes through the
    * index's freshness gate with the session-build fallback — one
    * corpus tokenize per session instead of one per key. Under the
    * [[artifactRoot]] the tree is reused across runs iff `fresh`
    * passes; otherwise it lands in a temp dir. Cleared (and the temp
    * trees deleted) by [[clearIndexes]].
    */
  private def atRestIndex(s: SparkSession, dir: String, name: String)
                         (fresh: String => Boolean)
                         (build: String => Unit): String =
    Artifacts.getOrBuild(
        Artifacts.Key(Artifacts.AtRestIndex, Some(s), dir, name)) {
      artifactRoot match {
        case Some(root) =>
          val p = s"$root/${tagOf(dir)}/${name}_idx"
          if (!(try fresh(p) catch { case _: Throwable => false }))
            build(p)
          p
        case None =>
          val p = java.nio.file.Files
            .createTempDirectory(s"graft_${name}_idx").toString
          build(p)
          p
      }
    }

  private def bm25IndexOf(s: SparkSession, dir: String): String =
    // reuse only a committed, count-fresh index (the session probes
    // expect version 1, which every cold build stamps)
    atRestIndex(s, dir, "bm25")(p =>
        Index.gate(p, IndexKind.Bm25, docs(s, dir), None).isDefined)(
      p => Index.build(IndexKind.Bm25, docs(s, dir), "doc_id", "text", p))

  /** The fixed batch/corpus split of the incremental-dedup board keys:
    * every 7th doc (id % 7 == 3) is "the new batch", the rest is the
    * already-indexed corpus. */
  private def incCorpusDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 7 =!= 3)

  private def incCorpusEmb(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") % 7 =!= 3)

  private def exactIdxOf(s: SparkSession, dir: String): String =
    atRestIndex(s, dir, "exact")(p =>
        Index.gate(p, IndexKind.Exact, incCorpusDocs(s, dir), None).isDefined)(
      p => Index.build(IndexKind.Exact, incCorpusDocs(s, dir), "doc_id",
        "text", p))

  private def nearIdxOf(s: SparkSession, dir: String): String =
    atRestIndex(s, dir, "near")(p =>
        Index.gate(p, nearKind, incCorpusDocs(s, dir), None).isDefined)(
      p => Index.build(nearKind, incCorpusDocs(s, dir), "doc_id", "text", p))

  // a def: `NumHashes` is initialised further down this object
  private def nearKind = IndexKind.Near(NumHashes, 1, 3)

  private def semIdxOf(s: SparkSession, dir: String): String =
    atRestIndex(s, dir, "semantic")(p =>
        Index.gate(p, semKind, incCorpusEmb(s, dir), None).isDefined)(
      p => Index.build(semKind, incCorpusEmb(s, dir), "vec_id",
        "embedding", p))

  private val semKind = IndexKind.Semantic(targetCellSize = 32, iters = 1)

  /** The managed corpus of the `docstore_ingest_dedup` key: a
    * [[graft.ext.DocStore]] initialised on 5/7 of the documents
    * (doc_id % 7 ∉ {3, 6}), then ONE [[graft.ext.DocStore.ingestBatch]]
    * of the % 7 == 6 slice — after which the store's corpus equals the
    * incremental keys' corpus (% 7 ≠ 3) and its exact index is at the
    * corpus's version, so the key's probe MUST serve through the
    * refreshed artifact (version gate, zero corpus-scan cost). Built
    * once per (session, dir), cleared by [[clearIndexes]].
    */
  private val docStoreCfg = graft.ext.DocStore.Config("doc_id", "text",
    bm25 = false, exact = true)

  /** The store's exact index is committed at the store's v2. */
  private def docStoreIndexed(s: SparkSession, root: String): Boolean =
    Index.gate(graft.ext.DocStore.exactPath(root), IndexKind.Exact,
      graft.ext.DocStore.docs(s, root), Some(2L)).isDefined

  private def docStoreOf(s: SparkSession, dir: String): String =
    atRestIndex(s, dir, "docstore")(root =>
        // reusable iff the full init+ingest lifecycle committed: v2
        // with the exact index fresh AT v2 over the expected corpus
        graft.ext.DocStore.version(s, root) == 2L &&
        graft.ext.DocStore.count(s, root) ==
          docs(s, dir).filter(col("doc_id") % 7 =!= 3).count() &&
        docStoreIndexed(s, root)) { root =>
      val d = docs(s, dir).select("doc_id", "text")
      graft.ext.DocStore.init(s, root,
        d.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 7 =!= 6),
        docStoreCfg)
      graft.ext.DocStore.ingestBatch(s, root,
        d.filter(col("doc_id") % 7 === 6), docStoreCfg)
    }

  /** The managed corpus of the `docstore_delete_dedup` key (r16
    * verdict ask #4 made oracle-checkable): a [[graft.ext.DocStore]]
    * initialised on 6/7 of the documents (doc_id % 7 ≠ 3), then ONE
    * [[graft.ext.DocStore.deleteDocs]] of the % 7 == 6 ids (version
    * bump, probes fall back) and the [[graft.ext.DocStore.rebuildIndexes]]
    * that re-earns the artifact path — so the key's probe MUST serve
    * through an exact index rebuilt AFTER a retention delete, and its
    * verdicts must show the deleted docs gone (batch docs duplicating
    * a deleted doc read as new/dup_in_batch, never dup_of_corpus). */
  private def docStoreDelOf(s: SparkSession, dir: String): String =
    atRestIndex(s, dir, "docstore_del")(root =>
        graft.ext.DocStore.version(s, root) == 2L &&
        graft.ext.DocStore.count(s, root) ==
          docs(s, dir).filter(col("doc_id") % 7 =!= 3 &&
            col("doc_id") % 7 =!= 6).count() &&
        docStoreIndexed(s, root)) { root =>
      val d = docs(s, dir).select("doc_id", "text")
      graft.ext.DocStore.init(s, root,
        d.filter(col("doc_id") % 7 =!= 3), docStoreCfg)
      graft.ext.DocStore.deleteDocs(s, root,
        d.filter(col("doc_id") % 7 === 6).select("doc_id"), docStoreCfg)
      graft.ext.DocStore.rebuildIndexes(s, root, docStoreCfg)
    }

  /** Release the at-rest index artifacts: unregister every entry,
    * drop its part frames, AND delete its temp parquet tree. The
    * companion valve to [[clearMemo]] — which
    * deliberately leaves the at-rest artifacts intact so a cleared memo
    * can re-probe without a rebuild — for session teardown / corpus
    * cycling, where the temp trees would otherwise accumulate as
    * orphans in the temp dir for the JVM's lifetime (VERDICT r13
    * "wrong" #1). Trees under the persistent [[artifactRoot]] are the
    * cross-run cache: unregistered (gates re-check on next touch) but
    * never deleted here. Next touch rebuilds; clearing is never wrong,
    * only ever a recompute.
    */
  def clearIndexes(): Unit =
    Artifacts.clear(Artifacts.AtRestIndex).foreach { p =>
      Artifacts.invalidate(p)
      if (!artifactRoot.exists(r => p.startsWith(r)))
        try CommitLog.rmTree(java.nio.file.Paths.get(p))
        catch { case _: java.io.IOException => () }
    }

  /** Shared BM25 scored frame — (doc_id, bm25 [6-dec truncated],
    * n_terms) for the fixed query, memoized + persisted (three keys
    * read it). Routed through the persisted index probe with the
    * corpus-scan fallback — GraftClient's rollup route, retrieval
    * edition; scores are bit-identical either way (decimal fold).
    */
  private def bm25Of(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "bm25")(
      TextStats.bm25Routed(s, docs(s, dir), "doc_id", "text", QTerms,
        Some(bm25IndexOf(s, dir)),
        // session-built artifact is version 1: the version gate reads
        // the commit record only, so a probe pays no corpus count and
        // no Spark job (r15 ask #4)
        expectedVersion = Some(1L)).persist())

  /** The two bounded rank frames of the hybrid-retrieval pair
    * (`similar_hybrid_rrf` + its audit): lexical BM25 top-20 and
    * cosine top-20 for the shared query intent (doc/vec 0 excluded as
    * the query doc). Each is ≤20 rows, memoized + persisted — the
    * fusion key and its audit read both without re-running either
    * retrieval.
    */
  private def hybridLexOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "hyb_lex")(
      Similarity.rankTopK(bm25Of(s, dir).filter(col("doc_id") =!= 0),
        "doc_id", "bm25", 20, "r_lex").persist())

  private def hybridVecOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "hyb_vec") {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Similarity.rankTopK(
        Similarity.topK(
          e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
          "vec_id", "embedding", col("qvec"), 20)
          .select(col("vec_id").as("doc_id"), col("sim")),
        "doc_id", "sim", 20, "r_vec").persist()
    }

  /** The MMR candidate cut (cosine top-20 for the fixed query,
    * CARRYING embeddings) and the greedy selection over it — memoized:
    * the rerank key and its audit read the same bounded frames.
    */
  private def mmrCandsOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "mmr_cands") {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6)
            .as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .persist()
    }

  private def mmrSelOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "mmr_sel")(
      Similarity.mmrRerank(mmrCandsOf(s, dir), "vec_id", "embedding",
        "rel", lambda = 0.7, k = 5).persist())

  /** The minhash signature table is part of the same shared index: the
    * band/candidate build AND the estimate-vs-exact audit both read it,
    * so computing the k-min aggregation once per (session, dir) halves
    * the signature passes over the shingle stream.
    */
  private def minhashOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "minhash")(
      Dedup.minhash(shinglesOf(s, dir), "doc_id", NumHashes).persist())

  private def candsOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "cands")(
      Dedup.candidatePairs(
        Dedup.bands(minhashOf(s, dir),
          "doc_id", NumHashes, 1), "doc_id").persist())

  /** Candidate-restricted per-doc shingle SETS: the exact-verify side
    * of the LSH index. Three keys (`dedup_ngram_jaccard`,
    * `dedup_containment`, `dedup_minhash_estimate`) intersect the same
    * sets over the same candidate pairs, so the collect_set aggregation
    * runs once per (session, dir) — the first-run cost of the
    * de-hinted jaccard (r6 finding) was three rebuilds of this one
    * table.
    */
  private def ssetsOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "ssets") {
      val cands = candsOf(s, dir)
      val ids = cands.select(col("a_id").as("doc_id"))
        .union(cands.select(col("b_id").as("doc_id"))).distinct()
      shinglesOf(s, dir).join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sset"))
        .persist()
    }

  /** The verified candidate-pair jaccard table is itself shared: the
    * per-pair key reads it whole and the threshold curve reaggregates
    * it, so the array_intersect pass runs once per (session, dir).
    */
  private def jaccardOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "jaccard")(
      Dedup.jaccardFromSets(candsOf(s, dir), ssetsOf(s, dir), "doc_id")
        .persist())

  /** Simhash fingerprints likewise serve two queries (the table itself
    * and the Hamming-radius pair search) — one corpus tokenize+vote
    * pass instead of two.
    */
  private def simhashOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "simhash")(
      Dedup.simhash(docs(s, dir), "doc_id", "text").persist())

  /** The fitted k-means centroid table (k=4, 2 Lloyd iterations) is the
    * IVF index both `kmeans_fit_assign` and `similar_ivf_kmeans` build
    * on — fit it once per (session, dir). Already localCheckpointed by
    * the fit, so the memo shares a materialized plan.
    */
  private def kmeansCentsOf(s: SparkSession, dir: String): DataFrame =
    // NOT persisted: the fit is already localCheckpointed, and the
    // probe-curve PlanSpec pins the shared ExistingRDD scans
    frame(s, dir, "kmeans_cents")(
      Similarity.kmeansCentroids(emb(s, dir), "vec_id", "embedding",
        k = 4, iters = 2))

  /** The SemDeDup fitted two-level index (coarse centroids + anchors,
    * target cell 32, 1 Lloyd iteration) shared per (session, dir) —
    * `Dedup.fittedIndex` runs EAGER checkpoint jobs at construction
    * time, so an unshared fit re-ran on every bench pass and its cost
    * migrated between alphabetical neighbors in the per-key
    * attribution (the r10 `dedup_semantic` 1.08→6.46 s mystery).
    * MemoSpec pins the reuse.
    */
  private def semFitOf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    lazy val fit = Dedup.fittedIndex(emb(s, dir), "vec_id", "embedding",
      targetCellSize = 32, iters = 1)
    (frame(s, dir, "semfit_coarse")(fit._1),
      frame(s, dir, "semfit_anchors")(fit._2))
  }

  /** Build + force every shared memoized index for (session, dir) —
    * the bench calls this BEFORE timing so index-build cost lands on
    * its own named line instead of inside whichever key touches the
    * memo first. Returns the per-index build seconds.
    */
  def prebuildSharedIndexes(s: SparkSession, dir: String)
      : Seq[(String, Double)] = {
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      f
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      timed("lsh_chain") { candsOf(s, dir).count() },
      timed("shingle_sets") { ssetsOf(s, dir).count() },
      timed("jaccard") { jaccardOf(s, dir).count() },
      timed("simhash") { simhashOf(s, dir).count() },
      timed("kmeans_cents") { kmeansCentsOf(s, dir).count() },
      timed("exact_nn") { exactNNOf(s, dir).count() },
      timed("ann_nn") { annNNOf(s, dir).count() },
      timed("semfit") { val (c, a) = semFitOf(s, dir); c.count(); a.count() },
      timed("exact_idx") { exactIdxOf(s, dir) },
      timed("near_idx") { nearIdxOf(s, dir) },
      timed("seminc") { semIdxOf(s, dir) },
      timed("docstore") { docStoreOf(s, dir) },
      timed("docstore_del") { docStoreDelOf(s, dir) },
      timed("bm25_index") { bm25Of(s, dir).count() },
      timed("hybrid_ranks") {
        hybridLexOf(s, dir).count(); hybridVecOf(s, dir).count()
      },
      timed("mmr") { mmrSelOf(s, dir).count() },
      timed("unigram_vocab") { unigramVocabOf(s, dir).count() },
      timed("bpe_merges") { bpeMergesOf(s, dir).count() })
  }

  /** Shared fitted BPE merge table (step, left_sym, right_sym,
    * merged), memoized like [[unigramVocabOf]]: four keys ride the
    * train→encode chain (train_merges, encode_count, fertility,
    * token_length_hist) and each used to re-run the 3-step fit — three
    * sequential pair-count aggregations + argmax collects — inside its
    * own timed region every pass (r17 split profile: ~0.8 s of
    * construct time per key at sf0.1). The fit is a fitted MODEL
    * artifact (a 3-row merge table, like a centroid set or the unigram
    * vocab), deterministic in the corpus, so it belongs on the shared
    * prebuild line with the other fitted artifacts.
    */
  private def bpeMergesBuild(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    graft.ext.Bpe.fit(words, "w", "c", steps = 3)
  }

  private def bpeMergesOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "bpe_merges")(bpeMergesBuild(s, dir).persist())

  /** Shared fitted unigram vocabulary (piece, usage, llq), memoized:
    * the train key emits it and the encode key ships it, so the EM
    * chain (seed + two Viterbi E-steps + three scalar totals) runs
    * once per (session, dir) instead of once per key.
    */
  private def unigramVocabBuild(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    graft.ext.Unigram.fit(words, "w", "c", maxPieceLen = 4, topK = 40)
  }

  private def unigramVocabOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "unigram_vocab")(unigramVocabBuild(s, dir).persist())

  /** Exact and ANN within-label NN results, memoized: each backs its
    * own query key AND the recall audit that compares them.
    */
  private def exactNNOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "exactnn")(
      Similarity.exactNNWithinGroup(emb(s, dir), "vec_id", "embedding",
        "label", k = 16, iters = 0).persist())

  private def annNNOf(s: SparkSession, dir: String): DataFrame =
    frame(s, dir, "annnn")(
      Similarity.annNNWithinGroup(emb(s, dir), "vec_id", "embedding",
        "label", Planes, Dim).persist())

  val Dim = 64
  val Planes = 8
  val NumHashes = 8
  val RpDim = 16

  // ---- DuckDB oracle building blocks ---------------------------------

  /** Sequential left-fold dot product of two 1-indexed list expressions,
    * in double — byte-identical to Similarity.dot's zip_with/aggregate.
    */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin

  private def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** One unigram-LM Viterbi E-step over the `words` CTE, re-derived
    * INDEPENDENTLY of the Spark expression as a recursive-CTE dynamic
    * program: the DP state carries the last 4 prefix scores and piece
    * counts, each step LEFT-joins the ≤4 candidate pieces ending at
    * the next position against `vocab`(piece, sc), and the tie-break
    * (score desc, pieces asc, longer final piece) is packed into ONE
    * monotone BIGINT composite so `greatest` picks the identical
    * backpointer [[graft.expr.UnigramViterbi]]'s comparator does; a
    * second recursive walk decodes the backpointer string into
    * weighted piece usage (`u$n`).
    */
  private def unigramEStepSql(n: Int, vocab: String): String =
    s"""dp$n(w, c, i, s0, s1, s2, s3, n0, n1, n2, n3, bps) AS (
       |  SELECT w, c, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
       |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |         0, CAST(NULL AS INT), CAST(NULL AS INT),
       |         CAST(NULL AS INT), ''
       |  FROM words
       |  UNION ALL
       |  SELECT q.w, q.c, q.i + 1,
       |    q.best // 10000 - 1000000000,
       |    q.s0, q.s1, q.s2,
       |    CAST(99 - (q.best % 10000) // 100 AS INT),
       |    q.n0, q.n1, q.n2,
       |    q.bps || CAST(q.best % 100 AS VARCHAR)
       |  FROM (
       |    SELECT r.*, greatest(
       |      CASE WHEN r.s0 IS NOT NULL AND p1.sc IS NOT NULL
       |        THEN (r.s0 + p1.sc + 1000000000) * 10000
       |             + (99 - (r.n0 + 1)) * 100 + 1 END,
       |      CASE WHEN r.i >= 1 AND r.s1 IS NOT NULL AND p2.sc IS NOT NULL
       |        THEN (r.s1 + p2.sc + 1000000000) * 10000
       |             + (99 - (r.n1 + 1)) * 100 + 2 END,
       |      CASE WHEN r.i >= 2 AND r.s2 IS NOT NULL AND p3.sc IS NOT NULL
       |        THEN (r.s2 + p3.sc + 1000000000) * 10000
       |             + (99 - (r.n2 + 1)) * 100 + 3 END,
       |      CASE WHEN r.i >= 3 AND r.s3 IS NOT NULL AND p4.sc IS NOT NULL
       |        THEN (r.s3 + p4.sc + 1000000000) * 10000
       |             + (99 - (r.n3 + 1)) * 100 + 4 END
       |    ) AS best
       |    FROM dp$n r
       |    LEFT JOIN $vocab p1 ON p1.piece = substr(r.w, r.i + 1, 1)
       |    LEFT JOIN $vocab p2 ON r.i >= 1 AND p2.piece = substr(r.w, r.i, 2)
       |    LEFT JOIN $vocab p3 ON r.i >= 2 AND p3.piece = substr(r.w, r.i - 1, 3)
       |    LEFT JOIN $vocab p4 ON r.i >= 3 AND p4.piece = substr(r.w, r.i - 2, 4)
       |    WHERE r.i < length(r.w)
       |  ) q
       |  -- kills the whole chain at the first prefix where NO vocab
       |  -- piece ends, while the Spark DP bridges an unreachable
       |  -- intermediate prefix with a longer piece. Equivalent ONLY
       |  -- under the every-char-seeded invariant (each corpus char is
       |  -- a vocab piece and single chars are never pruned — Unigram
       |  -- .fit guarantees it, UnigramSpec's lifecycle test pins it):
       |  -- then every prefix is reachable and no chain ever dies.
       |  WHERE q.best IS NOT NULL
       |), walk$n(w, c, pos, bps, piece) AS (
       |  SELECT w, c, CAST(length(w) AS INT), bps, CAST(NULL AS VARCHAR)
       |  FROM dp$n WHERE i = length(w)
       |  UNION ALL
       |  SELECT q.w, q.c, q.pos - q.p, q.bps, substr(q.w, q.pos - q.p + 1, q.p)
       |  FROM (SELECT w, c, pos, bps, CAST(substr(bps, pos, 1) AS INT) AS p
       |        FROM walk$n WHERE pos > 0) q
       |), u$n AS MATERIALIZED (
       |  SELECT piece, CAST(sum(c) AS BIGINT) AS u
       |  FROM walk$n WHERE piece IS NOT NULL GROUP BY piece
       |)""".stripMargin

  /** The full unigram training chain (seed → score → E-step ×2 →
    * pruned vocab with final usage `outv` and smoothing total `tot3`),
    * shared by `unigram_train_vocab` and `unigram_encode_count`, like
    * their Spark sides share [[graft.ext.Unigram.fit]].
    */
  private lazy val unigramTrainCtesSql: String =
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  -- the packed tie-break BIGINT in the E-step assumes n_pieces
       |  -- and |dp score| stay inside their fields ((score+1e9)*1e4 +
       |  -- (99-n)*100 + p); a 32-char cap keeps both with wide margin
       |  -- for any real corpus — out-of-range input fails LOUDLY here
       |  -- instead of silently corrupting the decode
       |  SELECT CASE WHEN length(w) > 32 THEN CAST(error(
       |      'unigram oracle: word > 32 chars would overflow the ' ||
       |      'packed tie-break') AS VARCHAR) ELSE w END AS w,
       |    CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w
       |), chars AS MATERIALIZED (
       |  SELECT substr(w, i, 1) AS piece, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM words, unnest(range(1, length(w) + 1)) t(i)
       |  GROUP BY 1
       |), subs AS MATERIALIZED (
       |  SELECT piece, cnt FROM (
       |    SELECT substr(w, i, l) AS piece, CAST(sum(c) AS BIGINT) AS cnt
       |    FROM words,
       |         unnest([2, 3, 4]) g(l),
       |         unnest(range(1, length(w) - l + 2)) t(i)
       |    GROUP BY 1
       |  ) q ORDER BY cnt DESC, piece LIMIT 40
       |), seed AS MATERIALIZED (
       |  SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM subs
       |), tot1 AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM seed),
       |v1 AS MATERIALIZED (
       |  SELECT piece, CAST(floor(1e6 * ln(CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(t AS DOUBLE) FROM tot1))) AS BIGINT) AS sc
       |  FROM seed
       |),
       |${unigramEStepSql(1, "v1")},
       |vocab2 AS MATERIALIZED (
       |  SELECT s.piece, coalesce(u1.u, 0) AS uu
       |  FROM seed s LEFT JOIN u1 ON s.piece = u1.piece
       |  WHERE coalesce(u1.u, 0) > 0 OR length(s.piece) = 1
       |),
       |tot2 AS MATERIALIZED (SELECT CAST(sum(uu + 1) AS BIGINT) AS t FROM vocab2),
       |v2 AS MATERIALIZED (
       |  SELECT piece, CAST(floor(1e6 * ln(CAST(uu + 1 AS DOUBLE) /
       |    (SELECT CAST(t AS DOUBLE) FROM tot2))) AS BIGINT) AS sc
       |  FROM vocab2
       |),
       |${unigramEStepSql(2, "v2")},
       |outv AS MATERIALIZED (
       |  SELECT v.piece, coalesce(u2.u, 0) AS n_usage
       |  FROM vocab2 v LEFT JOIN u2 ON v.piece = u2.piece
       |),
       |tot3 AS MATERIALIZED (SELECT CAST(sum(n_usage + 1) AS BIGINT) AS t FROM outv)""".stripMargin

  /** [[unigramTrainCtesSql]] plus the ENCODE chain: a third E-step
    * under the SHIPPED scores (the smoothed final llq, not v2) and the
    * per-word token counts `wt` — shared by `unigram_encode_count` and
    * `unigram_fertility`, like their Spark sides share the memoized
    * vocab.
    */
  private lazy val unigramEncodeCtesSql: String =
    s"""$unigramTrainCtesSql,
       |v3 AS MATERIALIZED (
       |  SELECT piece, CAST(floor(1e6 * ln(CAST(n_usage + 1 AS DOUBLE) /
       |    (SELECT CAST(t AS DOUBLE) FROM tot3))) AS BIGINT) AS sc
       |  FROM outv
       |),
       |${unigramEStepSql(3, "v3")},
       |wt AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS t
       |  FROM walk3 WHERE piece IS NOT NULL GROUP BY w
       |)""".stripMargin

  /** Shared MMR CTE chain (candidates, the n² pair sims, the unrolled
    * greedy s1..s5/u1..u5) — `similar_mmr_rerank` and its audit read
    * the same selection, like their Spark sides share the memo. The
    * greedy: step i picks the argmax of λ·rel − (1−λ)·max sim to the
    * selected set over the remaining candidates; λ and (1−λ) are the
    * same DOUBLE values Spark computes (1.0 − 0.7 is NOT 0.3 in
    * ieee754 — both engines use the subtraction).
    */
  private lazy val mmrCteSql: String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val om = "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
    def step(i: Int): String =
      s"""s$i AS (
         |  SELECT CAST($i AS BIGINT) AS sel_rank, c.vec_id, c.rel,
         |    $lam * c.rel - $om * coalesce(
         |      (SELECT max(p.ps) FROM pair p JOIN u${i - 1} u
         |         ON p.pb = u.vec_id WHERE p.pa = c.vec_id),
         |      CAST(0.0 AS DOUBLE)) AS mmr
         |  FROM cand c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM u${i - 1})
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1
         |), u$i AS (
         |  SELECT vec_id FROM u${i - 1}
         |  UNION ALL SELECT vec_id FROM s$i)""".stripMargin
    s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id, e.embedding,
       |    round(${cosineSql("e.embedding", "q.qvec")}, 6) AS rel
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT 20
       |), pair AS (
       |  SELECT a.vec_id AS pa, b.vec_id AS pb,
       |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS ps
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
       |), s1 AS (
       |  SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, rel,
       |    $lam * rel AS mmr
       |  FROM cand ORDER BY mmr DESC, vec_id LIMIT 1
       |), u1 AS (SELECT vec_id FROM s1),
       |${(2 to 5).map(step).mkString(",\n")}""".stripMargin
  }

  /** L2-normalize a list expression to doubles (zero vectors pass
    * through) — byte-identical to Similarity.normalized.
    */
  private def normSql(v: String): String =
    s"""CASE WHEN sqrt(${dotSql(v, v)}) > 0
       |  THEN list_transform($v, x -> CAST(x AS DOUBLE) / sqrt(${dotSql(v, v)}))
       |  ELSE list_transform($v, x -> CAST(x AS DOUBLE)) END""".stripMargin

  /** The PQ pipeline through the coarse ADC scores, shared by the
    * serving and recall oracles — mirrors Similarity.pqCodebook/
    * pqCoarse: seeds 1-16 → 4×16 codebook of normalized sub-vectors,
    * per-(row, subspace) argmin by round(‖c‖²−2·s·c, 9) with code-asc
    * tie-break (struct-min, lexicographic in both engines), LUT-summed
    * in fixed subspace order.
    */
  private def pqSliceSql(v: String, sub: String): String =
    s"$v[CAST($sub * 16 + 1 AS INTEGER):CAST($sub * 16 + 16 AS INTEGER)]"

  private def PqCoarseCtes: String = pqCoarseCtes("",
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0")

  /** Same pipeline over an arbitrary (vec_id, embedding) corpus source
    * (e.g. the IVF-probed subset), with optional prior CTEs prepended.
    * The codebook always comes from the FULL table's seed rows — a
    * probe-restricted corpus must not lose codewords.
    */
  private def pqCoarseCtes(prior: String, corpusSrc: String): String =
    s"""WITH ${if (prior.nonEmpty) prior + ", " else ""}seednv AS (
       |  SELECT vec_id, ${normSql("embedding")} AS v
       |  FROM embeddings WHERE vec_id BETWEEN 1 AND 16
       |), nv AS (
       |  SELECT vec_id, ${normSql("embedding")} AS v, embedding AS raw
       |  FROM ($corpusSrc)
       |), qn AS (
       |  SELECT ${normSql("embedding")} AS qv, embedding AS raw
       |  FROM embeddings WHERE vec_id = 0
       |), cb AS (
       |  SELECT CAST(s.sub AS INTEGER) AS sub,
       |    CAST(vec_id - 1 AS INTEGER) AS code,
       |    ${pqSliceSql("v", "s.sub")} AS cvec
       |  FROM seednv, (SELECT unnest(range(4)) AS sub) s
       |), lut AS (
       |  SELECT cb.sub, cb.code, cb.cvec,
       |    ${dotSql("cb.cvec", "qsub")} AS qd,
       |    ${dotSql("cb.cvec", "cb.cvec")} AS cc
       |  FROM (SELECT cb.*, ${pqSliceSql("qn.qv", "cb.sub")} AS qsub
       |        FROM cb CROSS JOIN qn) cb
       |), exp AS (
       |  SELECT vec_id, CAST(s.sub AS INTEGER) AS sub,
       |    ${pqSliceSql("v", "s.sub")} AS svec
       |  FROM nv, (SELECT unnest(range(4)) AS sub) s
       |), enc AS (
       |  SELECT e.vec_id, e.sub,
       |    struct_extract(min(struct_pack(
       |      s := round(l.cc - 2 * ${dotSql("e.svec", "l.cvec")}, 9),
       |      c := l.code, q := l.qd)), 'q') AS qd
       |  FROM exp e JOIN lut l ON e.sub = l.sub
       |  GROUP BY e.vec_id, e.sub
       |), adcsum AS (
       |  SELECT vec_id,
       |    round(sum(CASE WHEN sub = 0 THEN qd END) +
       |          sum(CASE WHEN sub = 1 THEN qd END) +
       |          sum(CASE WHEN sub = 2 THEN qd END) +
       |          sum(CASE WHEN sub = 3 THEN qd END), 6) AS sim_pq
       |  FROM enc GROUP BY vec_id
       |)""".stripMargin

  /** Random projection of a list expression to RpDim dims — the same
    * md5-nibble plane construction as lshSql, full dot value instead of
    * the sign bit, plane indices offset by 100 (Similarity.RpPlaneOffset).
    */
  private def rpSql(v: String): String =
    s"""list_transform(range(0, $RpDim), j ->
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(1, len($v) + 1),
       |      i -> CAST($v[i] AS DOUBLE) *
       |           (strpos('0123456789abcdef',
       |              substr(md5((100 + j) || '|' || (i - 1)), 1, 1))
       |            - 1 - 7.5))),
       |    (acc, x) -> acc + x))""".stripMargin

  /** LSH signature bit-string of a list expression (Planes bits). */
  private def lshSql(v: String): String = {
    val bits = (0 until Planes).map { p =>
      val s =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(range(1, len($v) + 1),
           |    i -> CAST($v[i] AS DOUBLE) *
           |         (strpos('0123456789abcdef',
           |            substr(md5($p || '|' || (i - 1)), 1, 1)) - 1 - 7.5))),
           |  (acc, x) -> acc + x)""".stripMargin
      s"CASE WHEN ($s) >= 0 THEN '1' ELSE '0' END"
    }
    s"concat(${bits.mkString(", ")})"
  }

  /** Shared shingle/minhash/band CTE chain (3-gram shingles, 8 minhashes,
    * 1-row bands). `ShingleBody` is the list without the WITH keyword so
    * recursive oracles can prepend `WITH RECURSIVE`.
    */
  private val ShingleBody =
    """sh0 AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM sh0 WHERE len(w) >= 3
      |), mh AS (
      |  SELECT doc_id, h, min(md5(h || '|' || shingle)) AS minhash
      |  FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS h) hs
      |  GROUP BY doc_id, h
      |), bd AS (
      |  SELECT doc_id, h AS band, md5(minhash) AS band_key FROM mh
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bd a JOIN bd b
      |    ON a.band = b.band AND a.band_key = b.band_key
      |   AND a.doc_id < b.doc_id
      |)""".stripMargin

  private val ShingleCtes = s"WITH $ShingleBody"

  // ---- queries -------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")
        .select("content_hash", "doc_id", "n_dups")
        .orderBy("doc_id")),

    // The banding + candidate-pair generation IS this key's declared
    // computation, so it runs FRESH over the shared signature index
    // (r17 verdict ask #2 — the memoized table is still what the OTHER
    // candidate-consuming keys probe).
    "dedup_near_minhash" -> ((s, dir) =>
      Dedup.candidatePairs(
          Dedup.bands(minhashOf(s, dir), "doc_id", NumHashes, 1), "doc_id")
        .orderBy("a_id", "b_id")),

    // The verified-pair jaccard IS this key's declared computation →
    // the array_intersect pass runs FRESH over the shared candidate/
    // set index (r17 verdict ask #2); downstream re-aggregating keys
    // (threshold curve, band tuning) keep probing the memoized table.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardFromSets(candsOf(s, dir), ssetsOf(s, dir), "doc_id")
        .orderBy("a_id", "b_id")),

    // Asymmetric CONTAINMENT (Broder) for candidate pairs — catches
    // quote-inclusion near-dups Jaccard under-scores: a short doc fully
    // contained in a long one has low Jaccard but containment_a = 1.
    // Same candidate-restricted two-join shape as dedup_ngram_jaccard,
    // over the shared memoized shingle/candidate index.
    "dedup_containment" -> ((s, dir) => {
      val cands = candsOf(s, dir)
      val sets = ssetsOf(s, dir)
      val a = sets.select(col("doc_id").as("a_id"), col("sset").as("a_set"))
      val b = sets.select(col("doc_id").as("b_id"), col("sset").as("b_set"))
      cands.join(a, "a_id").join(b, "b_id")
        .withColumn("n_inter", size(array_intersect(col("a_set"), col("b_set"))))
        .select(col("a_id"), col("b_id"),
          col("n_inter").cast("long").as("n_inter"),
          TextStats.trunc6(col("n_inter") / size(col("a_set")))
            .as("containment_a"),
          TextStats.trunc6(col("n_inter") / size(col("b_set")))
            .as("containment_b"))
        .orderBy("a_id", "b_id")
    }),

    // Unigram-LM scoring — the float-log companion to the exact-integer
    // quality_vocab: per doc, the corpus-LM total and mean token
    // log-probability (the cheap perplexity proxy curation pipelines
    // threshold on). Each log P(w) is one fixed-shape float expression;
    // the cross-row SUM routes through DECIMAL(38,18) so accumulation
    // order cannot change the result (a double at |v|≤20 has ulp far
    // coarser than 1e-18 — the cast can never land on a rounding tie).
    "doc_unigram_logprob" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val counts = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val total = tok.agg(count(lit(1)).as("n_total"))
      // counts is vocabulary-scale: size-gated hint, never unconditional
      tok.join(TextStats.gatedBroadcast(counts), Seq("w"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          log(col("c").cast("double") / col("n_total").cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lp")).as("lp_sum"))
        .select(col("doc_id"), col("n_tokens"),
          TextStats.trunc6(col("lp_sum").cast("double")).as("sum_logprob"),
          TextStats.trunc6(col("lp_sum").cast("double") / col("n_tokens"))
            .as("mean_logprob"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-LANGUAGE
    // head/middle/tail split by unigram-LM mean log-probability (head =
    // the lowest-perplexity 30% of each language). Cuts are exact
    // rank-interpolated per-language percentiles (integer positions, no
    // float rank math); assignment is a narrow comparison against the
    // broadcast lang-dim cut table. The canonical curation stage that
    // feeds mixture sampling.
    "quality_ppl_buckets" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
      val counts = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val total = tok.agg(count(lit(1)).as("n_total"))
      val lp = tok.join(TextStats.gatedBroadcast(counts), Seq("w"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("lang"),
          log(col("c").cast("double") / col("n_total").cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("lp"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("lp_sum"))
        .select(col("doc_id"), col("lang"),
          TextStats.trunc6(col("lp_sum").cast("double") / col("n_tokens"))
            .as("mean_logprob"))
        .localCheckpoint(false) // consumed by the cut fit AND the assign
      val cuts = graft.operators.Quantiles.interpByRank(
        lp, Seq("lang"), "mean_logprob", "doc_id", Seq(30, 70))
      lp.join(broadcast(cuts), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("mean_logprob"),
          when(col("mean_logprob") >= col("q70"), lit("head"))
            .when(col("mean_logprob") < col("q30"), lit("tail"))
            .otherwise(lit("middle")).as("bucket"))
        .orderBy("doc_id")
    }),

    // Bigram PMI collocations — the vocabulary-building pass that finds
    // "tokens that belong together" (phrase mining for tokenizer/vocab
    // curation): PMI = ln(P(ab)/(P(a)P(b))) over adjacent word pairs,
    // min count 5, top 20 by (PMI desc, bigram). Two map-side-combinable
    // count aggregations + a two-key join of the bigram table against
    // the unigram counts (vocab-scale, size-gated broadcast) + a
    // TakeOrdered cut. The log ratio is ONE fixed-shape float
    // expression over exact integer counts — engine-portable.
    "doc_collocations_pmi" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val uni = tok.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c1"))
        .localCheckpoint(false)
      val nTok = tok.select(explode(col("w")).as("t"))
        .agg(count(lit(1)).as("n_tok"))
      val bi = tok.filter(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => struct(element_at(col("w"), i + 1).as("w1"),
            element_at(col("w"), i + 2).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
        .localCheckpoint(false)
      val nBi = bi.agg(sum(col("n_pair")).as("n_bi"))
      val d = (c: Column) => c.cast("double")
      bi.filter(col("n_pair") >= 5)
        .join(TextStats.lazyGatedBroadcast(
          uni.select(col("t").as("w1"), col("c1").as("c1a"))), Seq("w1"))
        .join(TextStats.lazyGatedBroadcast(
          uni.select(col("t").as("w2"), col("c1").as("c1b"))), Seq("w2"))
        .crossJoin(broadcast(nTok.crossJoin(nBi)))
        .select(col("w1"), col("w2"), col("n_pair"),
          TextStats.trunc6(log(
            (d(col("n_pair")) * d(col("n_tok")) * d(col("n_tok"))) /
              (d(col("n_bi")) * d(col("c1a")) * d(col("c1b")))))
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Triangle census of the near-dup candidate graph — the structure
    // audit that separates tight duplicate cliques from chains of
    // borderline pairs. Compact-forward orientation: edges are already
    // a<b, so every triangle a<b<c is found EXACTLY once by joining
    // wedges (a<b, b<c) against the closing edge (a,c) — two hash
    // equi-joins on node keys, fan-out bounded by oriented degree,
    // never an all-pairs or undirected double-count.
    "graph_triangles" -> ((s, dir) => {
      val e = candsOf(s, dir)
      val ab = e.select(col("a_id").as("a"), col("b_id").as("b"))
      val bc = e.select(col("a_id").as("b"), col("b_id").as("c"))
      val ac = e.select(col("a_id").as("a"), col("b_id").as("c"))
      val tri = ab.join(bc, "b").join(ac, Seq("a", "c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("doc_id")
    }),

    // Sketch-accuracy audit: the minhash Jaccard ESTIMATE (matching
    // signature fraction — k/8 is an exact binary double) against the
    // exact set Jaccard, per candidate pair. The methodology check
    // every sketch deployment wants: how wrong is the cheap path?
    "dedup_minhash_estimate" -> ((s, dir) => {
      val sig = minhashOf(s, dir)
      val aSig = sig.select(col("doc_id").as("a_id") +:
        (0 until NumHashes).map(h => col(s"mh$h").as(s"amh$h")): _*)
      val bSig = sig.select(col("doc_id").as("b_id") +:
        (0 until NumHashes).map(h => col(s"mh$h").as(s"bmh$h")): _*)
      val matches = (0 until NumHashes)
        .map(h => (col(s"amh$h") === col(s"bmh$h")).cast("int"))
        .reduce(_ + _)
      val est = candsOf(s, dir).join(aSig, "a_id").join(bSig, "b_id")
        .select(col("a_id"), col("b_id"),
          (matches / lit(NumHashes.toDouble)).as("est_jaccard"))
      val exact = Dedup.jaccardFromSets(candsOf(s, dir), ssetsOf(s, dir), "doc_id")
      est.join(exact, Seq("a_id", "b_id"))
        .select(col("a_id"), col("b_id"), col("est_jaccard"), col("jaccard"),
          graft.ext.TextStats.trunc6(
            abs(col("est_jaccard") - col("jaccard"))).as("abs_err"))
        .orderBy("a_id", "b_id")
    }),

    // The fingerprint pass IS this key's declared computation → FRESH
    // (r17 verdict ask #2); the radius key keeps the memoized table.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text").orderBy("doc_id")),

    // Hamming-radius pairs (≤1 bit apart) via the Manku flipped-key
    // multi-index + the native codegen'd hamming_distance expression.
    "dedup_simhash_radius" -> ((s, dir) =>
      Dedup.simhashRadius(simhashOf(s, dir),
          "doc_id", "simhash", maxDist = 1)
        .orderBy("a_id", "b_id")),

    "dedup_embedding_cosine" -> ((s, dir) =>
      // EXACT within-label nearest neighbor WITHOUT the label-wide
      // all-pairs join (the one shape that goes quadratic on a popular
      // label at 100 TB): k-means cells + ball-bound pruning + exact
      // re-rank of surviving cells — see Similarity.exactNNWithinGroup.
      // Output and oracle are unchanged (the pruning is provably
      // lossless), only the plan shape is: every pair join keys on
      // (label, cell), never label alone. iters=0 = static first-k
      // cells (exactness never depends on centroid quality, only the
      // pruning rate does — raise iters when the corpus is clustered
      // enough for the fit to pay for itself). The NN pass IS this
      // key's declared computation → FRESH (r17 verdict ask #2); the
      // recall audit keeps probing the memoized table.
      Similarity.exactNNWithinGroup(emb(s, dir), "vec_id", "embedding",
          "label", k = 16, iters = 0)
        .orderBy("vec_id")),

    // Recall audit of the approximate path against the exact one — the
    // methodology check every ANN deployment needs: per label, how many
    // vectors the LSH candidate generation answered at all, and how
    // many of those answers are the TRUE nearest neighbor.
    "dedup_embedding_recall" -> ((s, dir) => {
      val labels = emb(s, dir).select(col("vec_id"), col("label"))
      val ann = annNNOf(s, dir).select(col("vec_id"),
        col("nn_id").as("ann_nn"))
      labels.join(exactNNOf(s, dir), "vec_id")
        .join(ann, Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          count(col("ann_nn")).as("n_ann_answered"),
          count(when(col("ann_nn") === col("nn_id"), 1)).as("n_top1_match"))
        .orderBy("label")
    }),

    // The APPROXIMATE 100 TB dedup path beside the exact key above:
    // same-label candidates within Hamming-1 of the LSH signature,
    // exact re-rank. The oracle mirrors the signature math bit-for-bit
    // (md5-nibble hyperplanes), so recall differences are impossible —
    // both engines see the same candidate sets.
    // The ANN pass IS this key's declared computation → FRESH (r17
    // verdict ask #2); the recall audit keeps the memoized table.
    "dedup_embedding_ann" -> ((s, dir) =>
      Similarity.annNNWithinGroup(emb(s, dir), "vec_id", "embedding",
          "label", Planes, Dim)
        .orderBy("vec_id")),

    // Dedup observability: per source, how much exact- and near-
    // duplicate structure the corpus carries (docs in shared-hash
    // groups; docs in any LSH candidate pair). The curation dashboard
    // a corpus owner watches — two doc-scale joins over the memoized
    // candidate index.
    "dedup_stats_by_source" -> ((s, dir) => {
      val d = docs(s, dir)
      val hashes = d.select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("ch"))
      val groupN = hashes.groupBy("ch").agg(count(lit(1)).as("n"))
      val cand = candsOf(s, dir)
      val nearIds = cand.select(col("a_id").as("doc_id"))
        .unionByName(cand.select(col("b_id").as("doc_id"))).distinct()
        .withColumn("is_near", lit(true))
      hashes.join(groupN, "ch")
        .join(nearIds, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n") > 1, 1)).as("n_exact_dup"),
          count(col("is_near")).as("n_near_cand"))
        .orderBy("source")
    }),

    // PageRank (2 fixed iterations, decimal-routed sums) over the LSH
    // candidate graph — ranks the hubs of each near-dup neighborhood
    // (the doc to keep when collapsing a cluster). Shares the memoized
    // candidate index with the other dedup keys.
    "graph_pagerank" -> ((s, dir) => {
      val cand = candsOf(s, dir)
      val edges = cand.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(
          cand.select(col("b_id").as("src"), col("a_id").as("dst")))
      graft.operators.Graph.pagerank(edges, "src", "dst",
          docs(s, dir).select(col("doc_id")), "doc_id", iters = 2)
        .select("doc_id", "rank_fp", "rank")
        .orderBy("doc_id")
    }),

    // Common-neighbor link prediction over the LSH candidate graph:
    // for non-adjacent doc pairs, how many near-dup neighborhoods they
    // BOTH touch (the classic CN score, with neighbor-set Jaccard as
    // the tiebreak column) — "these two docs aren't candidate dups
    // yet, but their neighborhoods say they will be", the curator's
    // shortlist for raising recall without lowering the band
    // threshold. Pair generation goes THROUGH each intermediate node,
    // capped at degree ≤ 32 (hub suppression — boilerplate hubs carry
    // no signal and would quadratically dominate); existing edges
    // leave via a left anti join; top-20 is TakeOrdered on the exact
    // integer CN count.
    "graph_link_pred" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val cand = candsOf(s, dir)
      val edges = cand.select(col("a_id").as("u"), col("b_id").as("v"))
        .unionByName(
          cand.select(col("b_id").as("u"), col("a_id").as("v")))
        .localCheckpoint(false) // degrees + pair stage + anti join share
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      val mids = edges
        .join(TextStats.lazyGatedBroadcast(
          deg.filter(col("deg") <= 32).select("u")), Seq("u"))
        .select(col("u").as("mid"), col("v"))
      val pairs = mids.select(col("mid"), col("v").as("a_id"))
        .join(mids.select(col("mid"), col("v").as("b_id")), "mid")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("cn"))
      pairs
        .join(cand.select(col("a_id"), col("b_id")),
          Seq("a_id", "b_id"), "left_anti")
        .join(TextStats.lazyGatedBroadcast(deg.select(col("u").as("a_id"),
          col("deg").as("deg_a"))), "a_id")
        .join(TextStats.lazyGatedBroadcast(deg.select(col("u").as("b_id"),
          col("deg").as("deg_b"))), "b_id")
        .select(col("a_id"), col("b_id"), col("cn"), col("deg_a"),
          col("deg_b"),
          t6(col("cn").cast("double") /
            (col("deg_a") + col("deg_b") - col("cn"))).as("nbr_jaccard"))
        .orderBy(col("cn").desc, col("a_id"), col("b_id"))
        .limit(20)
    }),

    // BPE tokenizer training (3 merge steps) over the corpus word
    // table: each step is one weighted pair-count aggregation + a
    // 1-row broadcast argmax + a narrow re-segmentation — the
    // vocabulary-learning pass of an LLM pipeline, never collecting to
    // the driver. The oracle unrolls the 3 steps as CTEs with the
    // byte-identical wrapped-symbol construction.
    "bpe_train_merges" -> ((s, dir) =>
      // the fit IS this key's declared computation, so it runs FRESH
      // here (r17 verdict ask #2: serving it from the memo made the
      // timed region a 3-row sort). The encode keys still share the
      // memoized artifact ([[bpeMergesOf]]) — probe-an-index semantics.
      bpeMergesBuild(s, dir).orderBy("step")),

    // ENCODE with the learned vocab — the apply half of the tokenizer
    // lifecycle (train → encode): the 3 trained merges are collected
    // as a bounded model artifact and fused into ONE replace-chain
    // projection over the DISTINCT-word table, then joined back onto
    // per-doc word counts for the corpus token budget. The word→tokens
    // join is vocab-scale, so NO broadcast hint — AQE broadcasts when
    // it fits (the TextStats lesson from round 5).
    "bpe_encode_count" -> ((s, dir) => {
      val d = docs(s, dir)
      val words = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
      val merges = bpeMergesOf(s, dir) // fit memoized; see bpe_train_merges
      val wordTok = graft.ext.Bpe.encode(words, "w", merges)
        .select(col("w"), col("n_tokens"))
      val docWords = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      docWords.join(wordTok, Seq("w"))
        .groupBy("doc_id")
        .agg(sum(col("n")).cast("long").as("n_words"),
          sum(col("n") * col("n_tokens")).cast("long").as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),

    // Tokenizer FERTILITY per language — the eval every tokenizer
    // report leads with: BPE tokens per word and characters per token
    // under the trained vocab (high fertility on a language = its
    // token budget buys less text). Rides the SAME train+encode chain
    // as bpe_encode_count (word-grain — the corpus is never
    // re-segmented per doc), then one (lang, word) count join and a
    // 5-row rollup of exact integer sums.
    "bpe_fertility" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val d = docs(s, dir)
      val words = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
      val merges = bpeMergesOf(s, dir) // fit memoized; see bpe_train_merges
      val wordTok = graft.ext.Bpe.encode(words, "w", merges)
        .select(col("w"), col("n_tokens"))
      d.select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("lang", "w").agg(count(lit(1)).as("n"))
        .join(wordTok, Seq("w"))
        .groupBy("lang")
        .agg(sum(col("n")).cast("long").as("n_words"),
          sum(col("n") * col("n_tokens")).cast("long").as("n_tokens_bpe"),
          sum(col("n") * length(col("w"))).cast("long").as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens_bpe"),
          t6(col("n_tokens_bpe").cast("double") / col("n_words"))
            .as("fertility"),
          t6(col("n_chars").cast("double") / col("n_tokens_bpe"))
            .as("chars_per_token"))
        .orderBy("lang")
    }),

    // Tokenizer fertility per language under the UNIGRAM vocab — the
    // cross-tokenizer comparison column next to bpe_fertility: same
    // (lang, word) count join, same exact integer rollup, but the
    // per-word token counts come from the shipped unigram artifact
    // (memoized fit; one narrow Viterbi projection, no training rerun).
    "unigram_fertility" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val d = docs(s, dir)
      val words = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val wordTok = graft.ext.Unigram.encode(words, "w",
          unigramVocabOf(s, dir))
        .select(col("w"), col("n_tokens"))
      d.select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("lang", "w").agg(count(lit(1)).as("n"))
        .join(wordTok, Seq("w"))
        .groupBy("lang")
        .agg(sum(col("n")).cast("long").as("n_words"),
          sum(col("n") * col("n_tokens")).cast("long").as("n_tokens_uni"),
          sum(col("n") * length(col("w"))).cast("long").as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens_uni"),
          t6(col("n_tokens_uni").cast("double") / col("n_words"))
            .as("fertility"),
          t6(col("n_chars").cast("double") / col("n_tokens_uni"))
            .as("chars_per_token"))
        .orderBy("lang")
    }),

    // Incremental ingest dedup: a "new batch" (every 7th doc) probed
    // against the PERSISTED AT-REST content-hash index of the rest of
    // the corpus (DedupIndex lifecycle — build/refresh/freshness-gate,
    // r14 ask #1) and against itself — corpus text is never rescanned,
    // the batch side broadcasts. A stale or torn artifact re-routes to
    // the session hash build; verdicts identical either way.
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 7 === 3)
      graft.ext.DedupIndex.incrementalExactRouted(s, batch,
          incCorpusDocs(s, dir), "doc_id", "text",
          Some(exactIdxOf(s, dir)), expectedVersion = Some(1L))
        .orderBy("doc_id")
    }),

    // Incremental NEAR-dup: the batch (every 7th doc) probed against
    // the persisted MinHash band index of the rest of the corpus —
    // batch bands broadcast onto the index (the corpus side never
    // shuffles), within-batch first-wins. The corpus index derives
    // from the memoized signature table (narrow banding — no extra
    // shuffle), exactly the artifact a production pipeline persists.
    "dedup_incremental_near" -> ((s, dir) => {
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 7 === 3)
      graft.ext.DedupIndex.incrementalNearRouted(s, batch,
          incCorpusDocs(s, dir), "doc_id", "text", NumHashes,
          rowsPerBand = 1, n = 3, Some(nearIdxOf(s, dir)),
          expectedVersion = Some(1L))
        .orderBy("doc_id")
    }),

    // Incremental SEMANTIC dedup: a batch (doc_id % 7 == 3) probes the
    // PERSISTED cell-assigned corpus through the SAME fitted two-level
    // index the corpus was assigned with — corpus never re-clustered
    // or rescanned; its only touch is a broadcast-hash probe against
    // the batch cell list (PlanSpec-pinned). First-wins inside the
    // batch; corpus hits take precedence.
    "dedup_incremental_semantic" -> ((s, dir) => {
      val batch = emb(s, dir).filter(col("vec_id") % 7 === 3)
      // the corpus index + cell assignment live AT REST (parquet
      // artifact, DedupIndex lifecycle) — the key measures the PROBE,
      // which is the production shape
      graft.ext.DedupIndex.incrementalSemanticRouted(s, batch,
          incCorpusEmb(s, dir), "vec_id", "embedding",
          targetCellSize = 32, iters = 1, tau = 0.40,
          Some(semIdxOf(s, dir)), expectedVersion = Some(1L))
        .orderBy("vec_id")
    }),

    // INGEST → REFRESH → PROBE end-to-end (r15 ask #5): the batch
    // (doc_id % 7 == 3) probed against a MANAGED corpus — a DocStore
    // initialised on 5/7 of the docs then fed the % 7 == 6 slice
    // through ingestBatch, which refreshed the at-rest exact index
    // transactionally (index stamped first, corpus appended, meta —
    // the version the gate compares — committed last). The store's
    // corpus equals dedup_incremental's (% 7 ≠ 3), so verdicts match
    // that key bit-for-bit; the difference is the LIFECYCLE — this
    // probe serves through an artifact no session built whole.
    "docstore_ingest_dedup" -> ((s, dir) => {
      val batch = docs(s, dir).select("doc_id", "text")
        .filter(col("doc_id") % 7 === 3)
      graft.ext.DocStore.dedupBatchExact(s, docStoreOf(s, dir),
          docStoreCfg, batch)
        .orderBy("doc_id")
    }),

    // DELETE → REBUILD → PROBE end-to-end (r16 ask #4): the same
    // batch probed against a store that RETIRED the % 7 == 6 slice
    // via deleteDocs (anti-join rewrite + version bump — the
    // document-side deleteBefore) and re-earned the artifact with
    // rebuildIndexes. Deleted docs are gone from the verdicts: a
    // batch doc duplicating one reads new/dup_in_batch, never
    // dup_of_corpus — served through the REBUILT artifact path.
    "docstore_delete_dedup" -> ((s, dir) => {
      val batch = docs(s, dir).select("doc_id", "text")
        .filter(col("doc_id") % 7 === 3)
      graft.ext.DocStore.dedupBatchExact(s, docStoreDelOf(s, dir),
          docStoreCfg, batch)
        .orderBy("doc_id")
    }),

    // Recall audit of the int8-SQ coarse pass: how many of the exact
    // top-k survive into the coarse top-(k·rerankFactor) — so the
    // rerank factor is MEASURED, not assumed (mirrors
    // dedup_embedding_recall's methodology for the LSH path).
    "similar_sq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val corpus = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
      val coarse = Similarity.sqReconstruct(corpus, "vec_id", "embedding")
        .select(col("vec_id"),
          round(Similarity.cosine(col("rvec"), col("qvec")), 6).as("sim_sq"))
        .orderBy(col("sim_sq").desc, col("vec_id")).limit(20)
      val exact = corpus
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      exact.join(coarse, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("k_exact"), count(col("sim_sq")).as("n_in_coarse"))
        .select(col("k_exact"), col("n_in_coarse"),
          TextStats.trunc6(col("n_in_coarse") / col("k_exact")).as("recall"))
    }),

    // Sub-document duplicated-SPAN audit (the Lee et al. substring-dedup
    // motif, gram-approximated): per doc, the fraction of its word
    // 8-gram positions whose gram also occurs in ANOTHER doc, plus a
    // keep verdict. Two map-side-combinable aggregations + one join on
    // the gram key — no pairwise anything.
    "dedup_span_ngram" -> ((s, dir) =>
      Dedup.spanDupStats(docs(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // Exact duplicated-SUBSTRING runs (Lee et al. 2022 / RefinedWeb:
    // remove exact substrings ≥ N tokens): maximal runs of duplicated
    // word-8-gram positions with their CHARACTER ranges — the rows a
    // substring-cut pass consumes directly. Sorted-shingle-run merging,
    // no suffix array, no doc-pair stage (PlanSpec-pinned); threshold
    // 20 words on this corpus (Lee's 50-token cut at production).
    "dedup_substring_runs" -> ((s, dir) =>
      Dedup.substringRuns(docs(s, dir), "doc_id", "text", n = 8,
          minRunWords = 20)
        .orderBy("doc_id", "start_word")),

    // Compressed-domain ANN: coarse top-20 by cosine against int8
    // scalar-quantized RECONSTRUCTED vectors (the pass that scans 4×
    // fewer bytes at 100 TB), exact re-rank of the survivors on the
    // true vectors. Output keeps both scores — the quantization-error
    // audit is visible in (sim_sq vs sim).
    "similar_sq_int8" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.sqTopK(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", col("qvec"), k = 5)
    }),

    // BATCH ANN serving: the query side is a TABLE (first 8 vectors),
    // so the probe is an equi-join on the LSH signature — the shape a
    // real serving path runs (vs the single-query bucket filter of
    // similar_ann_lsh). Top-3 per query by exact cosine re-rank.
    "similar_batch_ann" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val sigs = e.select(col("vec_id"), col("embedding"),
        Similarity.lshSignature(col("embedding"), Planes, Dim).as("sig"))
      val qs = sigs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          col("sig"))
      val cands = sigs.join(qs, Seq("sig"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6)
            .as("sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      cands.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("sim"))
        .orderBy("q_id", "rank")
    }),

    // MAXIMUM-INNER-PRODUCT top-k — the retrieval objective when
    // embeddings carry learned magnitudes. Brute exact here; the scale
    // path is the Bachrach norm-augmentation reduction
    // (Similarity.mipsTopKAugmented, MipsSpec-pinned rank-equal),
    // which lets every cosine index (LSH/IVF/SQ) serve MIPS.
    "similar_mips_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.mipsTopK(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", col("qvec"), 10)
    }),

    // ZIPF-SLOPE fit over the top-1000 token frequencies — the
    // vocabulary-curation diagnostic (a healthy natural-language corpus
    // sits near alpha ~ 1; boilerplate/code-heavy mixes drift). The
    // corpus-scale work is one hash aggregation + a TakeOrdered
    // top-1000 cut; the regression itself runs over those 1000 rows.
    // Float portability: each log is cast to DECIMAL(18,12) so the
    // cross-row moment sums are exact decimal (the doc_unigram_logprob
    // recipe); the slope is one fixed-shape float expression at the end.
    "doc_zipf_alpha" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 12)
      val tok = docs(s, dir).select(explode(split(col("text"), " ")).as("w"))
      // the top-1000 materializes once (cut: the rank self-join below
      // references it twice); ranks come from a broadcast ≤1000×1000
      // before-or-equal count, NOT an unpartitioned row_number window
      // — same values, no "No Partition Defined" warning in every log
      val top = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(1000)
        .localCheckpoint(false)
      val ranked = top.join(
          broadcast(top.select(col("c").as("bc"), col("w").as("bw"))),
          col("bc") > col("c") ||
            (col("bc") === col("c") && col("bw") <= col("w")))
        .groupBy("w", "c").agg(count(lit(1)).as("r"))
      val agg = ranked
        .select(log(col("r").cast("double")).cast(dec).as("x"),
          log(col("c").cast("double")).cast(dec).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      agg.select(col("n"), TextStats.trunc6(-slope).as("alpha"))
    }),

    // MIPS recall THROUGH a cosine index — the measured close of the
    // similar_mips_topk story: norm-augment the corpus (Bachrach
    // reduction), int8-SQ quantize the AUGMENTED vectors, coarse
    // top-20 by cosine on the reconstruction, and report how many of
    // the exact MIPS top-5 survive. Proves the reduction composes with
    // a real compressed-domain index, with the recall measured rather
    // than assumed (the MIPS analog of similar_sq_recall).
    "similar_mips_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val corpus = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
      val m2 = corpus.agg(
        max(Similarity.dot(col("embedding"), col("embedding"))).as("m2"))
      val aug = corpus.crossJoin(broadcast(m2))
        .withColumn("avec", concat(col("embedding").cast("array<double>"),
          array(sqrt(greatest(col("m2")
            - Similarity.dot(col("embedding"), col("embedding")), lit(0d))))))
        .withColumn("aqvec",
          concat(col("qvec").cast("array<double>"), array(lit(0d))))
      val coarse = Similarity.sqReconstruct(aug, "vec_id", "avec")
        .select(col("vec_id"),
          round(Similarity.cosine(col("rvec"), col("aqvec")), 6).as("sim_sq"))
        .orderBy(col("sim_sq").desc, col("vec_id")).limit(20)
      val exact = corpus
        .select(col("vec_id"),
          round(Similarity.dot(col("embedding"), col("qvec")), 6).as("ip"))
        .orderBy(col("ip").desc, col("vec_id")).limit(5)
      exact.join(coarse, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("k_exact"), count(col("sim_sq")).as("n_in_coarse"))
        .select(col("k_exact"), col("n_in_coarse"),
          TextStats.trunc6(col("n_in_coarse") / col("k_exact")).as("recall"))
    }),

    // Random-projection (Johnson–Lindenstrauss) ANN: project 64→16
    // dims with deterministic md5-nibble planes — the coarse pass scans
    // 4× fewer bytes at 100 TB and the projection is data-independent
    // (new batches project without re-fitting). Coarse top-20 in
    // projected space, exact re-rank top-5 on true vectors; both
    // scores kept so the projection error is visible.
    "similar_rp_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.rpTopK(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", col("qvec"), RpDim, Dim, k = 5)
    }),

    // Measured recall of the projection: how many of the exact
    // full-dim top-5 survive the projected-space top-20 cut — the
    // audit that justifies (or vetoes) the 4× scan saving, the RP
    // analog of similar_sq_recall.
    "similar_rp_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val corpus = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
      val coarse = corpus.select(col("vec_id"),
          round(Similarity.cosine(
            Similarity.rpProject(col("embedding"), RpDim, Dim),
            Similarity.rpProject(col("qvec"), RpDim, Dim)), 6).as("sim_rp"))
        .orderBy(col("sim_rp").desc, col("vec_id")).limit(20)
      val exact = corpus.select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      exact.join(coarse, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("k_exact"),
          count(col("sim_rp")).as("n_in_coarse"))
        .select(col("k_exact"), col("n_in_coarse"),
          TextStats.trunc6(col("n_in_coarse") / col("k_exact")).as("recall"))
    }),

    // The compressed-domain COMPOSITION the RP Scaladoc promises:
    // project 64→16 (4× fewer bytes), int8-SQ quantize the projected
    // table (4× again — 16× total vs the raw scan), coarse top-20 in
    // the doubly-compressed domain, exact re-rank on true vectors.
    "similar_rp_sq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val corpus = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .withColumn("pvec", Similarity.rpProject(col("embedding"), RpDim, Dim))
        .withColumn("pq", Similarity.rpProject(col("qvec"), RpDim, Dim))
      val coarse = Similarity.sqReconstruct(corpus, "vec_id", "pvec")
        .select(col("vec_id"),
          round(Similarity.cosine(col("rvec"), col("pq")), 6).as("sim_rpsq"))
        .orderBy(col("sim_rpsq").desc, col("vec_id")).limit(20)
      corpus.join(broadcast(coarse), Seq("vec_id"))
        .select(col("vec_id"), col("sim_rpsq"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
    }),

    // Product quantization (Jégou et al.) ANN: 4 subspaces × 16
    // codewords (the normalized sub-vectors of seed rows 1-16 — the
    // fixed-seed codebook convention of the IVF family), asymmetric
    // LUT scoring, exact re-rank of the ADC top-20. The coarse pass at
    // 100 TB scans 4 int8 codes per vector — 64× fewer bytes than the
    // float corpus, the deepest compression on the board, audited by
    // the recall key below.
    "similar_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val seeds = e.filter(col("vec_id").between(1, 16))
      Similarity.pqTopK(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", seeds, col("qvec"),
        k = 5, m = 4, subDim = 16)
    }),

    // IVF∘PQ — the FAISS-style IVFADC serving pipeline from the two
    // pieces already on the board: IVF cell probe bounds WHICH vectors
    // are scored (top-2 cells of 8), PQ ADC bounds the BYTES each
    // scoring touches (4 int8 codes), exact re-rank on the survivors.
    // At 100 TB: cells partition the index at rest, the probe reads
    // ~2/8 of it, and the coarse pass reads 1/64th of those bytes.
    // Non-residual PQ (codewords quantize the vectors, not the
    // cell-centroid residuals) — the cosine/IP formulation the
    // normalized ADC supports.
    "similar_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
        cents, "cent_id", "cvec")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val qcells = cents.crossJoin(broadcast(q))
        .withColumn("qsim", Similarity.cosine(col("cvec"), col("qvec")))
        .orderBy(col("qsim").desc, col("cent_id"))
        .limit(2).select(col("cent_id").as("cell"))
      val probed = assigned.join(broadcast(qcells), "cell")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
      val seeds = e.filter(col("vec_id").between(1, 16))
      Similarity.pqTopK(probed, "vec_id", "embedding", seeds, col("qvec"),
        k = 5, m = 4, subDim = 16)
    }),

    // Measured PQ recall: exact top-5 survival through the ADC top-20
    // cut — the audit that prices the 64× compression, like the SQ/RP
    // recall keys.
    "similar_pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val seeds = e.filter(col("vec_id").between(1, 16))
      val corpus = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
      val coarse = Similarity.pqCoarse(corpus, "vec_id", "embedding",
        seeds, col("qvec"), n = 20, m = 4, subDim = 16)
      val exact = corpus.select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      exact.join(coarse, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("k_exact"),
          count(col("sim_pq")).as("n_in_coarse"))
        .select(col("k_exact"), col("n_in_coarse"),
          TextStats.trunc6(col("n_in_coarse") / col("k_exact")).as("recall"))
    }),

    // Deterministic frame sampling over multimodal payloads: 4 evenly
    // spaced byte offsets per media (the partition/batch shape a video
    // frame sampler uses) + the stubbed "decoded" first byte at each
    // offset. Pure narrow explode over integer arithmetic on metadata —
    // zero shuffles; swap the stub for a real codec and the plumbing
    // (schema, explode, batching) is unchanged.
    "multimodal_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "doc_id", "text")
      Multimodal.frameOffsets(media, 4)
        .select(col("media_id"),
          posexplode(col("frame_offsets")).as(Seq("frame_idx", "offset")))
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("offset"))
        .join(docs(s, dir).select(col("doc_id").as("media_id"), col("text")),
          "media_id")
        .select(col("media_id"), col("frame_idx"), col("offset"),
          coalesce(ascii(col("text").substr(
            (col("offset") + 1).cast("int"), lit(1))), lit(0)).cast("long")
            .as("frame_byte"))
        .orderBy("media_id", "frame_idx")
    }),

    // Header-level image "decode" with no codec: synthesize
    // deterministic PNG / JPEG / garbage payloads from doc fields (the
    // container ships no image fixtures — the byte LAYOUT is the real
    // formats'), then parse width/height back out with
    // `Multimodal.imageDims`' byte expressions. The oracle recomputes
    // the injected dims directly, so the key verifies the synthesize→
    // parse round trip end-to-end; MultimodalSpec pins the parser
    // against REAL fixture bytes (valid-CRC PNG, Exif JPEG with decoy
    // SOF bytes inside the APP1 payload).
    "multimodal_dims" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = (lit(16) + pmod(col("n_chars"), lit(2032))).cast("long")
      val h = (lit(16) + pmod(col("doc_id") * 7, lit(1512))).cast("long")
      def be(c: Column, n: Int) = unhex(lpad(hex(c), 2 * n, "0"))
      val png = concat(
        unhex(lit("89504E470D0A1A0A0000000D49484452")), // sig + len + IHDR
        be(w, 4), be(h, 4),
        unhex(lit("0806000000")), // depth 8, RGBA, deflate/adaptive/none
        unhex(lit("DEADBEEF")),   // CRC placeholder (parser ignores it)
        encode(substring(col("text"), 1, 32), "UTF-8"))
      // APP0 length varies per doc so the SOF offset is NOT fixed —
      // the parser must actually walk the segment chain.
      val app0Len = (lit(16) + pmod(col("doc_id"), lit(8))).cast("int")
      val sof = when(pmod(col("doc_id"), lit(2)) === 0, lit("FFC0"))
        .otherwise(lit("FFC2"))
      val jpeg = concat(
        unhex(lit("FFD8FFE0")), be(app0Len, 2),
        encode(repeat(lit("J"), app0Len - 2), "UTF-8"),
        unhex(sof), unhex(lit("001108")), be(h, 2), be(w, 2),
        unhex(lit("03010011000211010311")), // 3 components
        unhex(lit("FFDA")), encode(substring(col("text"), 1, 32), "UTF-8"),
        unhex(lit("FFD9")))
      val payload = when(pmod(col("doc_id"), lit(3)) === 0, png)
        .when(pmod(col("doc_id"), lit(3)) === 1, jpeg)
        .otherwise(concat(unhex(lit("00")),
          encode(col("text"), "UTF-8"))) // NUL prefix: no magic can match
      // projection barriers (the r10 plan-size lesson): synthesize the
      // payload once, emit the parse struct ONCE, then read fields off
      // the struct ATTRIBUTE — `getField` on the Column would duplicate
      // the whole walk tree per field and Catalyst re-optimizes the
      // multiplied tree on every run
      d.select(col("doc_id").as("media_id"), payload.as("payload"))
        .select(col("media_id"),
          Multimodal.imageDims(col("payload")).as("dims"))
        .select(col("media_id"), col("dims.format").as("format"),
          col("dims.width").as("width"), col("dims.height").as("height"))
        .orderBy("media_id")
    }),

    // A/V container metadata (r10): WAV/MP4 headers synthesized
    // in-engine from deterministic doc properties (so DuckDB can
    // predict every field without parsing bytes), then parsed back by
    // Multimodal.avMeta's bounded chunk/box walks. Both walks are
    // REAL: the WAV fmt chunk sits behind a variable-length LIST
    // chunk, and the MP4 moov behind a variable-length free box, so
    // fixed-offset peeking cannot pass. Same codegen'd-byte-expression
    // contract as multimodal_dims — per-row cost independent of
    // payload size.
    "multimodal_av_meta" -> ((s, dir) => {
      val d = docs(s, dir)
      def be(c: Column, n: Int) = unhex(lpad(hex(c), 2 * n, "0"))
      def le(c: Column, n: Int) = concat((0 until n).map(i =>
        unhex(lpad(hex(pmod(shiftright(c.cast("long"), 8 * i),
          lit(256))), 2, "0"))): _*)
      def zeros(n: Int) = unhex(lit("00" * n))
      // WAV: LIST junk chunk (variable even length) precedes fmt
      val sr = (lit(8000) + pmod(col("doc_id") * 37, lit(40000))).cast("long")
      val br = sr * 2
      val ds = (col("n_chars") * 4).cast("long")
      val junkLen = (lit(10) + pmod(col("doc_id"), lit(4)) * 2).cast("long")
      val wav = concat(
        lit("RIFF").cast("binary"), le(lit(36L) + junkLen, 4),
        lit("WAVE").cast("binary"),
        lit("LIST").cast("binary"), le(junkLen, 4),
        encode(repeat(lit("x"), junkLen.cast("int")), "UTF-8"),
        lit("fmt ").cast("binary"), le(lit(16L), 4),
        le(lit(1L), 2), le(lit(1L), 2), le(sr, 4), le(br, 4),
        le(lit(2L), 2), le(lit(16L), 2),
        lit("data").cast("binary"), le(ds, 4),
        encode(substring(col("text"), 1, 16), "UTF-8"))
      // MP4: ftyp + variable free + moov{mvhd v0, trak{tkhd v0}}
      val w = (lit(16) + pmod(col("n_chars"), lit(2032))).cast("long")
      val h = (lit(16) + pmod(col("doc_id") * 11, lit(1512))).cast("long")
      val ts = (lit(1000) + pmod(col("doc_id"), lit(9000))).cast("long")
      val dt = (col("n_chars") * 50).cast("long")
      val freeLen = (lit(8) + pmod(col("doc_id"), lit(16))).cast("long")
      val mvhd = concat(be(lit(108L), 4), lit("mvhd").cast("binary"),
        zeros(4), zeros(8), be(ts, 4), be(dt, 4), zeros(80))
      val tkhd = concat(be(lit(92L), 4), lit("tkhd").cast("binary"),
        zeros(76), be(w, 2), zeros(2), be(h, 2), zeros(2))
      val mp4 = concat(
        be(lit(16L), 4), lit("ftypisom").cast("binary"), zeros(4),
        be(freeLen, 4), lit("free").cast("binary"),
        encode(repeat(lit("f"), (freeLen - 8).cast("int")), "UTF-8"),
        be(lit(216L), 4), lit("moov").cast("binary"), mvhd,
        concat(be(lit(100L), 4), lit("trak").cast("binary"), tkhd))
      val payload = when(pmod(col("doc_id"), lit(3)) === 0, wav)
        .when(pmod(col("doc_id"), lit(3)) === 1, mp4)
        .otherwise(concat(unhex(lit("00")),
          encode(col("text"), "UTF-8"))) // NUL prefix: no magic can match
      // same projection-barrier discipline as multimodal_dims: ONE
      // avMeta struct emission, fields read from the attribute
      d.select(col("doc_id").as("media_id"), payload.as("payload"))
        .select(col("media_id"),
          Multimodal.avMeta(col("payload")).as("av"))
        .select(col("media_id"), col("av.format").as("format"),
          col("av.sample_rate").as("sample_rate"),
          col("av.duration_ms").as("duration_ms"),
          col("av.width").as("width"), col("av.height").as("height"))
        .orderBy("media_id")
    }),

    "similar_topk_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.topK(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", col("qvec"), 10)
    }),

    // Radius search: every vector within the cosine threshold of the
    // query (the recall-set variant of top-k).
    "similar_range_search" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.rangeSearch(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", col("qvec"), minSim = 0.1)
    }),

    // Inverted index: token → document-frequency + the FIRST 1,000
    // doc_ids of the posting list + an overflow count. The cap closes
    // the r11 ledger residual: a stop-word's posting row was O(corpus)
    // in ONE output row (and one collect buffer) — a task/row OOM at
    // 100 TB. Now the per-token state is bounded BEFORE aggregation: a
    // sort-based (spillable) window ranks postings per token, only the
    // first `cap` reach the collect, and `df`/`n_overflow` carry the
    // true totals from the same window pass. One shuffle on token; the
    // groupBy reuses the window's hash partitioning.
    "doc_inverted_index" -> ((s, dir) => {
      val cap = 1000
      import org.apache.spark.sql.expressions.Window
      val t = docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("token"))
      t.withColumn("df",
          count(lit(1)).over(Window.partitionBy("token")))
        .filter(col("df") >= 3)
        .withColumn("rn",
          row_number().over(Window.partitionBy("token").orderBy("doc_id")))
        .filter(col("rn") <= cap)
        .groupBy("token", "df")
        .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
        .select(col("token"), col("df"), col("postings"),
          greatest(col("df") - lit(cap.toLong), lit(0L)).as("n_overflow"))
        .orderBy("token")
    }),

    "similar_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.annTopK(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", col("qvec"), Planes, Dim, 5)
    }),

    // Multi-probe ANN: the query bucket + every 1-bit-flip bucket.
    "similar_ann_multiprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      Similarity.annTopKMultiProbe(
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", col("qvec"), Planes, Dim, 5)
    }),

    // SOFT dedup — per-doc loss weight 1/cluster_size over the exact
    // content-hash clusters (train on everything, downweight repeats:
    // the data-weighting alternative to dropping duplicates, so one
    // viral doc pasted 10k times contributes ~one doc of gradient).
    // ONE hash-partitioned window computes size and canonical together
    // — no self-join of the hash table, one shuffle total.
    "dedup_loss_weights" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ch")
      docs(s, dir)
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("ch"))
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
          (col("doc_id") === col("canonical_id")).as("is_canonical"),
          TextStats.trunc6(lit(1d) / col("cluster_size")).as("loss_weight"))
        .orderBy("doc_id")
    }),

    // Embedding OOD score — distance-to-fitted-centroid outlier audit
    // (the curation pass that catches garbage/off-distribution vectors
    // before they seed dedup cells or ANN probes): 1 − best cosine
    // against the k-means centroids, top-20 outliers. Rides the
    // memoized fitted-centroid table; the only distance math is one
    // broadcast-centroid argmax pass; top-20 is TakeOrdered.
    "similar_ood_score" -> ((s, dir) => {
      val cents = kmeansCentsOf(s, dir)
      emb(s, dir).crossJoin(broadcast(cents))
        .groupBy("vec_id")
        .agg(max(Similarity.cosine(col("embedding"), col("cvec")))
          .as("best"))
        .select(col("vec_id"),
          round(lit(1d) - col("best"), 6).as("ood"))
        .orderBy(col("ood").desc, col("vec_id"))
        .limit(20)
    }),

    // Interpolated bigram-LM scoring (Jelinek–Mercer λ=0.8): per doc,
    // total and mean ln(0.8·P(w₂|w₁) + 0.2·P(w₂)) over its bigram
    // positions — the next-step-up perplexity proxy after
    // doc_unigram_logprob (unseen-bigram docs stay finite through the
    // unigram back-off term; here every corpus bigram is in-vocabulary
    // by construction). Three count aggregations (bigram, unigram,
    // total) feed vocabulary-scale size-gated joins; each log is one
    // fixed-shape float expression and the cross-row sum routes
    // through DECIMAL(38,18) so accumulation order can't move it.
    "doc_bigram_logprob" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val uni = toks.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val nTok = toks.select(explode(col("w")).as("t"))
        .agg(count(lit(1)).as("n_tok"))
      val bigrams = toks.filter(size(col("w")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("w")) - 2),
            i => struct(element_at(col("w"), i + 1).as("w1"),
              element_at(col("w"), i + 2).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val bcount = bigrams.groupBy("w1", "w2")
        .agg(count(lit(1)).as("c12"))
        .localCheckpoint(false)
      // r17 (guide §2.3 "shuffle fewer bytes" / §1.2): the per-bigram
      // log-probability is a pure function of (c12, c1, c2, n_tok) —
      // all VOCABULARY-grain — so score once on the bigram-count
      // table (two bounded-side joins + the 1-row total) and join the
      // corpus-scale bigram STREAM exactly once on (w1, w2), instead
      // of dragging the stream through three joins. Identical float
      // expression over identical inputs per (w1, w2) ⇒ identical lp
      // on every stream row ⇒ identical DECIMAL sums.
      val scored = bcount
        .join(TextStats.lazyGatedBroadcast(
          uni.select(col("t").as("w1"), col("c").as("c1"))), Seq("w1"))
        .join(TextStats.lazyGatedBroadcast(
          uni.select(col("t").as("w2"), col("c").as("c2"))), Seq("w2"))
        .crossJoin(broadcast(nTok))
        .select(col("w1"), col("w2"),
          log(lit(0.8d) * col("c12").cast("double") / col("c1").cast("double")
            + lit(0.2d) * col("c2").cast("double") / col("n_tok").cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("lp"))
        .localCheckpoint(false) // the gate's count + the probe share it
      bigrams
        .join(TextStats.gatedBroadcast(scored), Seq("w1", "w2"))
        .select(col("doc_id"), col("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lps"))
        .select(col("doc_id"), col("n_bigrams"),
          TextStats.trunc6(col("lps").cast("double")).as("sum_logprob"),
          TextStats.trunc6(col("lps").cast("double") / col("n_bigrams"))
            .as("mean_logprob"))
        .orderBy("doc_id")
    }),

    // Kneser–Ney smoothed bigram probabilities (absolute discount
    // D=0.75, continuation back-off) for the corpus's top-20 bigrams —
    // the modern-LM smoothing companion to doc_bigram_logprob's
    // Jelinek–Mercer interpolation (JM backs off to raw unigram
    // frequency; KN backs off to how many CONTEXTS a word completes).
    // Everything derives from the ONE bigram count table: left/right
    // continuation censuses are vocab-scale re-aggregations of it,
    // size-gated broadcast back; the type total is a broadcast scalar.
    // Each probability is one fixed-shape per-row float expression —
    // no cross-row float accumulation at all.
    "text_kneser_ney" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val toks = docs(s, dir)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
      val bcount = toks
        .select(explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => struct(element_at(col("w"), i + 1).as("w1"),
            element_at(col("w"), i + 2).as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(false) // censuses + final scan share one build
      val left = bcount.groupBy("w1")
        .agg(sum(col("c12")).as("c1tot"), count(lit(1)).as("n1_left"))
      val right = bcount.groupBy("w2")
        .agg(count(lit(1)).as("n1_right"))
      val btypes = bcount.agg(count(lit(1)).as("b_types"))
      bcount
        .join(TextStats.lazyGatedBroadcast(left), Seq("w1"))
        .join(TextStats.lazyGatedBroadcast(right), Seq("w2"))
        .crossJoin(broadcast(btypes))
        .select(col("w1"), col("w2"), col("c12"),
          t6(col("c12").cast("double") / col("c1tot")).as("p_mle"),
          t6(greatest(col("c12").cast("double") - lit(0.75d), lit(0d)) /
            col("c1tot") +
            lit(0.75d) * col("n1_left") / col("c1tot") *
              col("n1_right") / col("b_types")).as("p_kn"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Metadata-FILTERED ANN — the vector-DB serving pattern (filtered
    // search): top-k cosine among vectors satisfying a structured
    // predicate (label ≡ 0 mod 2), through the IVF cell probe. The
    // filter applies BEFORE any distance math (pre-filter: cell
    // assignment is per-vector, so filtering commutes with it — the
    // probe never scores a vector the predicate would discard, where
    // post-filtering k results after the cut can return < k). One
    // extra probed cell (3 vs the unfiltered key's 2) compensates the
    // thinner cells.
    "similar_filtered_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      val filt = e.filter(col("label") % 2 === 0)
      val assigned = Similarity.ivfAssign(filt, "vec_id", "embedding",
        cents, "cent_id", "cvec")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val qcells = cents.crossJoin(broadcast(q))
        .withColumn("qsim", Similarity.cosine(col("cvec"), col("qvec")))
        .orderBy(col("qsim").desc, col("cent_id"))
        .limit(3).select(col("cent_id").as("cell"))
      assigned.join(broadcast(qcells), "cell")
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    }),

    "similar_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
        cents, "cent_id", "cvec")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      // probe the 2 cells whose centroids best match the query
      val qcells = cents.crossJoin(broadcast(q))
        .withColumn("qsim", Similarity.cosine(col("cvec"), col("qvec")))
        .orderBy(col("qsim").desc, col("cent_id"))
        .limit(2).select(col("cent_id").as("cell"))
      assigned.join(broadcast(qcells), "cell")
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    }),

    "text_stats" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(TextStats.wsTokens(col("text")).cast("long")).as("sum_words"),
        // floor(x*1e6)/1e6 in BOTH engines: Spark round() rounds the
        // shortest decimal string, DuckDB rounds the binary double —
        // they diverge on .5-at-the-digit; floor of the same double is
        // deterministic in both (see spark4 gotchas).
        (floor(sum(col("n_chars")) * lit(1e6) / count(lit(1))) / lit(1e6))
          .as("avg_chars"))
        .orderBy("lang")),

    "token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.wsTokens(col("text")).cast("long").as("ws_tokens"),
        TextStats.bpeTokens(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")),

    "quality_score" -> ((s, dir) =>
      TextStats.qualityColumns(docs(s, dir), "doc_id", "text")
        .withColumn("n_chars", col("n_chars").cast("long"))
        .withColumn("n_words", col("n_words").cast("long"))
        .orderBy("doc_id")),

    "lang_id" -> ((s, dir) =>
      TextStats.langId(docs(s, dir), "doc_id", "text", "lang")
        .orderBy("doc_id")),

    // Confusion matrix of the n-gram language classifier against the
    // labeled lang column — the measured-accuracy audit every
    // production classifier ships with (the langId analog of the ANN
    // recall keys): per (true, predicted) counts plus the per-cell
    // share of the true language's documents.
    "lang_id_confusion" -> ((s, dir) => {
      val pred = TextStats.langId(docs(s, dir), "doc_id", "text", "lang")
        .select(col("doc_id"), col("pred_lang"))
      docs(s, dir).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("lang_total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))))
        .select(col("lang"), col("pred_lang"), col("n"),
          TextStats.trunc6(col("n") / col("lang_total")).as("share"))
        .orderBy("lang", "pred_lang")
    }),

    // TF-IDF keyword per document (smoothed idf, sort-free argmax).
    "doc_top_tfidf" -> ((s, dir) =>
      TextStats.topTfidfTerm(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // BM25 retrieval (Robertson/Spärck Jones; the Lucene-form idf
    // ln((N−df+0.5)/(df+0.5)+1), k1=1.2, b=0.75): top-10 docs for a
    // fixed query — the canonical lexical-retrieval scorer next to the
    // embedding top-k family. Scale shape: the score probes the
    // PERSISTED inverted-index artifact (TextStats.bm25FromIndex —
    // the query terms' postings are a row-group-pruned parquet read,
    // the corpus text is never re-tokenized; r12 ask #1), with the
    // one-pass corpus scan as the routed fallback; df and the
    // (N, Σlen) scalars are broadcast; top-10 is TakeOrdered. Per-doc
    // scores sum in DECIMAL so the 3-term fold is order-exact.
    "doc_bm25_topk" -> ((s, dir) =>
      bm25Of(s, dir)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)),

    // Hybrid retrieval — reciprocal-rank fusion (Cormack/Clarke/
    // Büttcher, k=60) of the BM25 lexical top-20 and the cosine vector
    // top-20 for the same query intent (the fixed 3-term query; vec 0
    // as the query vector; doc 0 excluded on both sides as the query
    // doc). The standard RAG serving shape: two independent bounded
    // retrievals, fused on rank alone — scores never need calibrating
    // against each other. Both rank frames are ≤20 rows, so the rank
    // windows and the outer join are driver-trivial at ANY corpus
    // size; the heavy lifting is the two retrievals, each already
    // scale-shaped (BM25 above; cosine = one codegen'd ArrayDot scan +
    // TakeOrdered).
    "similar_hybrid_rrf" -> ((s, dir) =>
      Similarity.rrfFuse(hybridLexOf(s, dir), hybridVecOf(s, dir),
          "doc_id", kR = 60)
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)),

    // The audit beside the fusion heuristic (the board's rule: every
    // approximate path carries a measured companion): how different
    // the two retrievals actually are on this corpus and what the
    // fused cut is made of — top-20 overlap between the lexical and
    // vector lists, the fused top-10's source composition
    // (both/lex-only/vec-only), and whether fusion kept BOTH heads
    // (each retrieval's top-3 surviving into the fused 10). All
    // integer outputs over the same bounded 20-row frames.
    "similar_hybrid_audit" -> ((s, dir) => {
      val lex = hybridLexOf(s, dir)
      val vec = hybridVecOf(s, dir)
      val fused = Similarity.rrfFuse(lex, vec, "doc_id", kR = 60)
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
        .localCheckpoint(false) // 10 rows; all audit counts read it
      val ov = lex.join(vec, Seq("doc_id"))
        .agg(count(lit(1)).as("top20_overlap"))
      fused.crossJoin(broadcast(ov)).agg(
          first(col("top20_overlap")).as("top20_overlap"),
          count(when(col("r_lex").isNotNull && col("r_vec").isNotNull, 1))
            .as("fused_from_both"),
          count(when(col("r_lex").isNotNull && col("r_vec").isNull, 1))
            .as("fused_lex_only"),
          count(when(col("r_lex").isNull && col("r_vec").isNotNull, 1))
            .as("fused_vec_only"),
          count(when(col("r_lex") <= 3, 1)).as("lex_top3_kept"),
          count(when(col("r_vec") <= 3, 1)).as("vec_top3_kept"))
    }),

    // Retrieval evaluation harness — precision@10 / recall@10 / MRR /
    // binary nDCG@10 of the FUSED hybrid top-10 scored against the
    // vector top-20 as the relevance set ("how much vector relevance
    // survives fusion" — the standard IR metrics a retrieval stack
    // reports, next to the composition audit; the fused list always
    // carries ≥4 vector docs by construction, so the metrics are
    // non-trivial at every SF where the raw lex∩vec overlap is 0).
    // Everything computes over the two memoized ≤20-row rank frames —
    // constant cost at any corpus size; DCG terms sum in DECIMAL so
    // the fold is order-exact, and the ideal DCG is the same
    // range-fold both engines compute.
    "retrieval_eval_metrics" -> ((s, dir) => {
      val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val t6 = TextStats.trunc6 _
      val fused = Similarity.rrfFuse(hybridLexOf(s, dir),
        hybridVecOf(s, dir), "doc_id", kR = 60)
      val sys = Similarity.rankTopK(fused, "doc_id", "rrf", 10, "r_sys")
        .join(hybridVecOf(s, dir), Seq("doc_id"), "left")
        .localCheckpoint(false) // ≤10 rows; all aggregates read it
      val log2 = (c: Column) => log(c) / log(lit(2.0))
      val dcgTerm = when(col("r_vec").isNotNull,
        lit(1.0) / log2(col("r_sys") + lit(1.0))).otherwise(lit(0.0))
      val idcg = s.range(1, 11).select(
        sum((lit(1.0) / log2(col("id") + lit(1.0))).cast(d12)).as("idcg"))
      // recall denominator = the ACTUAL relevance-set size (count of
      // the vec rank frame), not the nominal 20 — on a corpus with
      // <20 non-query docs the cut is smaller and a fixed 20 would
      // understate recall (ADVICE r13). ≤20 at any corpus size.
      val nRel = hybridVecOf(s, dir)
        .agg(count(lit(1)).cast("double").as("n_rel"))
      sys.agg(
          count(when(col("r_vec").isNotNull, 1)).as("n_rel_in_10"),
          sum(dcgTerm.cast(d12)).as("dcg"),
          min(when(col("r_vec").isNotNull, col("r_sys"))).as("first_rel"))
        .crossJoin(broadcast(idcg))
        .crossJoin(broadcast(nRel))
        .select(col("n_rel_in_10"),
          t6(col("n_rel_in_10") / lit(10.0)).as("precision10"),
          t6(col("n_rel_in_10") / col("n_rel")).as("recall10"),
          t6(coalesce(lit(1.0) / col("first_rel"), lit(0.0))).as("mrr"),
          t6(col("dcg").cast("double") / col("idcg").cast("double"))
            .as("ndcg10"))
    }),

    // MMR diversification (Carbonell & Goldstein 1998; λ=0.7, k=5) of
    // the cosine top-20 for the fixed query — the rerank pass a RAG
    // stack runs after retrieval. Scale shape: ONE corpus scan +
    // TakeOrdered produces the 20-row candidate cut CARRYING its
    // vectors (no second scan to re-fetch them); the n² pairwise table
    // and the k greedy argmax steps then touch only those 20 rows —
    // constant cost at any corpus size (Similarity.mmrRerank). The
    // candidate cut and the selection are memoized — the audit key
    // reads the same frames.
    "similar_mmr_rerank" -> ((s, dir) =>
      mmrSelOf(s, dir)
        .select(col("sel_rank"), col("vec_id"), col("rel"), col("mmr"))
        .orderBy("sel_rank")),

    // Exact two-word phrase retrieval ("stream spark") over the
    // POSITIONAL payload of the shared persisted index (r13 ask #3) —
    // the most common lexical need after bag-of-words. Probe shape:
    // the two terms' postings read with the term filter pushed into
    // each parquet scan (row-group pruned — the corpus text is never
    // touched), joined on doc, adjacency counted by positional
    // intersection (p+1 of 'stream' present in 'spark's positions),
    // the phrase BM25-scored as a unit. Routed through the same
    // complete+fresh gate as bag-of-words BM25, scan fallback
    // bit-identical (RetrievalSpec pins it).
    "retrieval_phrase_topk" -> ((s, dir) =>
      TextStats.phraseBm25Routed(s, docs(s, dir), "doc_id", "text",
        Seq("stream", "spark"), Some(bm25IndexOf(s, dir)),
        k1 = 1.2, b = 0.75, topN = 10, expectedVersion = Some(1L))),

    // THREE-word exact phrase ("big order scan") through the n-ary
    // positional intersection (r14 ask #3): the probe reads exactly
    // the three terms' postings (term filters pushed, corpus never
    // touched), 3-way joins on doc, and counts start positions whose
    // p+1/p+2 continue the phrase. Same routing gate, same scan
    // fallback, same unit scoring as the two-word key.
    "retrieval_phrase3_topk" -> ((s, dir) =>
      TextStats.phraseBm25Routed(s, docs(s, dir), "doc_id", "text",
        Seq("big", "order", "scan"), Some(bm25IndexOf(s, dir)),
        k1 = 1.2, b = 0.75, topN = 10, expectedVersion = Some(1L))),

    // MIXED query — bag-of-words terms PLUS a quoted phrase (r15 ask
    // #6): per doc, the sum of the QTerms bag BM25 and the
    // "stream spark" phrase-unit BM25, each the already-pinned
    // 6-dec-truncated component, re-truncated after a fixed
    // left-to-right double sum. Probe side reads ONLY the referenced
    // terms' postings (bag: 3 term scans; phrase: 2 positional
    // scans) — the corpus text is never touched on the routed path.
    "retrieval_mixed_topk" -> ((s, dir) =>
      TextStats.mixedBm25Routed(s, docs(s, dir), "doc_id", "text",
        QTerms, Seq(Seq("stream", "spark")),
        Some(bm25IndexOf(s, dir)), expectedVersion = Some(1L))),

    // The audit beside the MMR heuristic (the board's rule: every
    // approximate/heuristic path carries a measured companion): what
    // diversity did the rerank BUY and what relevance did it PAY —
    // mean query-relevance and mean pairwise similarity of the MMR-5
    // vs the plain top-5, plus how many picks the two lists share.
    // All over the memoized ≤20-row frames; sums route through
    // DECIMAL so the 5- and 10-term folds are order-exact.
    "similar_mmr_audit" -> ((s, dir) => {
      val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val t6 = TextStats.trunc6 _
      val cands = mmrCandsOf(s, dir)
      val top5 = cands.orderBy(col("rel").desc, col("vec_id")).limit(5)
        .localCheckpoint(false) // rel mean + pair mean + overlap read it
      val mmr5 = mmrSelOf(s, dir)
        .join(cands.select("vec_id", "embedding"), Seq("vec_id"))
        .localCheckpoint(false)
      def meanRel(df: DataFrame, name: String) = broadcast(df.agg(
        (sum(col("rel").cast(d12)).cast("double") / count(lit(1)))
          .as(name)))
      def meanPairSim(df: DataFrame, name: String) = broadcast {
        val a = df.select(col("vec_id").as("pa"), col("embedding").as("va"))
        val b = df.select(col("vec_id").as("pb"), col("embedding").as("vb"))
        a.join(broadcast(b), col("pa") < col("pb"))
          .select(round(Similarity.cosine(col("va"), col("vb")), 6)
            .as("ps"))
          .agg((sum(col("ps").cast(d12)).cast("double") / count(lit(1)))
            .as(name))
      }
      top5.select(col("vec_id"))
        .join(mmr5.select(col("vec_id")), Seq("vec_id"))
        .agg(count(lit(1)).as("n_common"))
        .crossJoin(meanRel(top5, "rt"))
        .crossJoin(meanRel(mmr5, "rm"))
        .crossJoin(meanPairSim(top5, "pt"))
        .crossJoin(meanPairSim(mmr5, "pm"))
        .select(col("n_common"),
          t6(col("rt")).as("mean_rel_top"),
          t6(col("rm")).as("mean_rel_mmr"),
          t6(col("pt")).as("mean_pairsim_top"),
          t6(col("pm")).as("mean_pairsim_mmr"))
    }),

    // Per-row-rate (length-weighted) deterministic sampling: longer
    // docs keep with higher probability; pure narrow filter.
    "sample_weighted" -> ((s, dir) =>
      Sampling.weighted(
        docs(s, dir).withColumn("rate",
          least(lit(1.0), size(split(col("text"), " ")) / lit(100.0))),
        "doc_id", col("rate"))
        .select("doc_id", "lang", "rate", "sample_u")
        .orderBy("doc_id")),

    // Exactly-k-per-stratum reproducible sample (hash-ranked).
    "sample_topk_per_stratum" -> ((s, dir) =>
      Sampling.topKPerStratum(docs(s, dir), "doc_id", "lang", k = 20)
        .select(col("doc_id"), col("lang"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("lang", "sample_rank")),

    // Overlapping token-window chunking (RAG/embedding prep): 32-word
    // chunks, stride 24 (8-word overlap). Pure narrow explode.
    "text_chunk_windows" -> ((s, dir) =>
      TextStats.chunkWindows(docs(s, dir), "doc_id", "text",
          size = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),

    // Data-mixture resampling: hash-gated downsample of over-
    // represented languages toward the uniform share (en keeps ~46%
    // on this corpus, the rest keep everything).
    "corpus_mix_resample" -> ((s, dir) =>
      Sampling.mixToUniform(docs(s, dir), "doc_id", "lang")
        .select("doc_id", "lang", "n_source", "rate", "sample_u")
        .orderBy("doc_id")),

    // Temperature-α mixture resampling (α=0.5): expected counts
    // ∝ n_lang^0.5 — the partial flattening multilingual LM training
    // actually uses (full uniform over-weights tiny languages). Rate
    // goes through sqrt, so it is bit-identical across engines.
    "corpus_mix_alpha" -> ((s, dir) =>
      Sampling.mixAlpha(docs(s, dir), "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang", "n_source", "rate", "sample_u")
        .orderBy("doc_id")),

    // SemDeDup (Abbas et al. 2023): semantic dedup in embedding space
    // over a FITTED two-level index with a corpus-scaled cell count —
    // target cell size 32, so k = ⌈n/32⌉ anchor cells grow with the
    // corpus and the pair stage stays ≈ 32·n (linear), never
    // quadratic; assignment is coarse ⌈√k⌉ sample-fit k-means then an
    // anchor argmax within the coarse cell (n·O(√k), not n·k); id-order
    // sub cap 128 bounds the pair join under any k-means skew. Pairs
    // at cosine ≥ 0.40 collapse to the lowest id; per-row verdict so
    // curation joins on it directly.
    // (r11) the fit rides the memoized index — same params, same
    // deterministic result as Dedup.semanticFitted(..., 32, 0.40, 1);
    // steady-state passes now measure assignment+collapse, not re-fit
    "dedup_semantic" -> ((s, dir) => {
      val (coarse, anchors) = semFitOf(s, dir)
      Dedup.semanticFittedWith(emb(s, dir), "vec_id", "embedding",
        coarse, anchors, tau = 0.40, maxCellSize = 128).orderBy("vec_id")
    }),

    // SemDeDup recall audit on a BOUNDED sample (500 vectors): the
    // fraction of true above-τ pairs the cell split retains — the
    // measured price of Σ cell² vs corpus². The all-pairs stage is
    // quadratic in the SAMPLE only (the audit shape you'd run at
    // 100 TB); the production dedup itself never goes all-pairs.
    "dedup_semantic_recall" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"))
      // the EXACT split dedup_semantic ships (two-level fitted cells,
      // target 32, 1 Lloyd iteration, sub cap 128), applied to the
      // bounded audit sample — the recall measured is the price of
      // the shipped partition, cap included
      val cells = Dedup.capCells(
          Dedup.fittedCells(e, "vec_id", "embedding",
            targetCellSize = 32, iters = 1),
          "vec_id", cap = 128)
        .localCheckpoint(false)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("avec"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("bvec"))
      val globalPairs = a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .filter(round(Similarity.cosine(col("avec"), col("bvec")), 6)
          >= 0.40)
        .agg(count(lit(1)).as("n_pairs_exact"))
      val ca = cells.select(col("cell"), col("sub"),
        col("vec_id").as("a_id"), col("embedding").as("avec"))
      val cb = cells.select(col("cell"), col("sub"),
        col("vec_id").as("b_id"), col("embedding").as("bvec"))
      val cellPairs = ca.join(cb, Seq("cell", "sub"))
        .filter(col("a_id") < col("b_id"))
        .filter(round(Similarity.cosine(col("avec"), col("bvec")), 6)
          >= 0.40)
        .agg(count(lit(1)).as("n_pairs_cell"))
      globalPairs.crossJoin(cellPairs)
        .select(col("n_pairs_exact"), col("n_pairs_cell"),
          when(col("n_pairs_exact") > 0,
            TextStats.trunc6(col("n_pairs_cell") / col("n_pairs_exact")))
            .as("recall"))
    }),

    // Embedding-quality audit: label agreement of the top-3 cosine
    // neighbors for 32 sampled probes — the kNN eval a pipeline runs
    // before trusting an embedding column for semantic dedup or
    // retrieval (low agreement on a weakly clustered corpus is itself
    // the signal). Probes broadcast (bounded sample); corpus scanned
    // once; no n² stage.
    "similar_knn_accuracy" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 32)
        .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
          col("label").cast("long").as("q_label"))
      val scored = e.join(broadcast(qs), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"),
          col("label").cast("long").as("label"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6)
            .as("sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .groupBy(col("q_id"), col("q_label"))
        .agg(sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
          .as("n_top3_same"),
          max(when(col("rn") === 1,
            (col("label") === col("q_label")).cast("long"))).as("top1_match"))
        .orderBy("q_id")
    }),

    "doc_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.rollingFingerprint(col("text"), 64).as("fp"))
        .orderBy("doc_id")),

    "multimodal_schema" -> ((s, dir) =>
      emb(s, dir).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("e0"),
        col("label").cast("long").as("label"))
        .orderBy("vec_id")),

    "json_props_extract" -> ((s, dir) =>
      Tables.load(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    "multimodal_pipeline" -> ((s, dir) =>
      Multimodal.decodeStub(Multimodal.asMedia(docs(s, dir), "doc_id", "text"))
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("first_byte").cast("long").as("first_byte"), col("n_frames"))
        .orderBy("media_id")),

    "dedup_cluster" -> ((s, dir) =>
      Dedup.connectedComponents(candsOf(s, dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")),

    // Cluster COLLAPSE — the materialization step after clustering:
    // every doc gets its canonical (min reachable id; itself when
    // unclustered), a keep verdict (canonical holder survives), and
    // the cluster size. What a curation pipeline actually writes out
    // when near-dups are folded. Doc-scale joins over the shared
    // memoized candidate index; the label table is cluster-member-
    // scale, AQE broadcasts it at will.
    "dedup_collapse" -> ((s, dir) => {
      val clusters = Dedup.connectedComponents(candsOf(s, dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
      val full = docs(s, dir).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
      val sizes = full.groupBy("canonical_id")
        .agg(count(lit(1)).as("n_members"))
      full.join(sizes, Seq("canonical_id"))
        .select(col("doc_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("kept"),
          col("n_members"))
        .orderBy("doc_id")
    }),

    // Lloyd's k-means (k=4, 2 iterations, deterministic first-k init,
    // decimal-routed means): the real IVF-centroid fit. The oracle
    // unrolls both iterations as CTEs with the byte-identical
    // construction.
    "kmeans_fit_assign" -> ((s, dir) =>
      Similarity.assignToCentroids(emb(s, dir), "vec_id", "embedding",
          kmeansCentsOf(s, dir))
        .select(col("vec_id"), col("cluster"))
        .orderBy("vec_id")),

    // End-to-end IVF ANN over FITTED centroids: k-means index build →
    // cell assignment → probe the query's 2 best cells → exact re-rank.
    // The plan is the same as similar_ivf_topk (broadcast cents +
    // broadcast probed cells), just with learned cells.
    "similar_ivf_kmeans" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = kmeansCentsOf(s, dir)
      val assigned = Similarity.assignToCentroids(e, "vec_id", "embedding",
        cents)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val qcells = cents.crossJoin(broadcast(q))
        .withColumn("qsim", Similarity.cosine(col("cvec"), col("qvec")))
        .orderBy(col("qsim").desc, col("cluster"))
        .limit(2).select("cluster")
      assigned.join(broadcast(qcells), "cluster")
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    }),

    // top-k tokens per language — the vocabulary-histogram pass of a
    // corpus-analysis pipeline: one agg shuffle + a bounded window.
    "text_token_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = docs(s, dir).select(col("lang"),
        explode(split(col("text"), " ")).as("w"))
      val counts = tok.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val win = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("w"))
      counts.withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("w").as("token"), col("c"),
          col("rank").cast("long").as("rank"))
        .orderBy("lang", "rank")
    }),

    // MinHash-band decontamination — the sketch-index counterpart of
    // decontaminate_ngram for when exact gram joins are too wide: a
    // train doc is dropped when ANY of its LSH bands collides with an
    // eval doc's band. Reuses the SAME memoized corpus minhash index
    // the dedup family probes (one signature build, N consumers); the
    // eval band list is benchmark-sized and rides a size-gated
    // broadcast semi-join — the corpus band stream never shuffles on
    // the band key. Band collision over-flags (that is the LSH
    // contract) — decontamination WANTS one-sided error toward
    // dropping, never leaking.
    "decontaminate_minhash" -> ((s, dir) => {
      val benchMod = PipeQueries.BenchMod
      val bands = Dedup.bands(minhashOf(s, dir), "doc_id", NumHashes, 1)
      val evalBands = bands.filter(col("doc_id") % benchMod === 0)
        .select("band", "band_key").distinct()
      val bad = bands.filter(col("doc_id") % benchMod =!= 0)
        .join(TextStats.gatedBroadcast(evalBands),
          Seq("band", "band_key"), "left_semi")
        .select("doc_id").distinct()
      docs(s, dir).filter(col("doc_id") % benchMod =!= 0)
        .join(bad, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // Gopher-style rule bundle (Rae et al. 2021 §A1.1 flavor) — the
    // rules quality_rules does NOT cover: minimum stopword evidence,
    // alphabetic-word fraction, symbol density. One narrow projection
    // per doc (array lambdas inside codegen, no explode, no shuffle).
    "quality_gopher" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val R = GopherRules
      docs(s, dir).select(col("doc_id"),
          size(R.words).cast("long").as("n_words"),
          R.nStop.as("n_stop"),
          R.alphaFrac.as("af"),
          R.symbolFrac.as("sf"))
        .select(col("doc_id"), col("n_words"), col("n_stop"),
          t6(col("af")).as("alpha_frac"),
          t6(col("sf")).as("symbol_frac"),
          (col("n_stop") >= R.StopMin).as("r_stop"),
          (col("af") >= R.AlphaMin).as("r_alpha"),
          (col("sf") <= R.SymbolMax).as("r_symbol"),
          (col("n_stop") >= R.StopMin && col("af") >= R.AlphaMin &&
            col("sf") <= R.SymbolMax).as("gopher_pass"))
        .orderBy("doc_id")
    }),

    // Lexical-complexity profile per document: mean word length, mean
    // syllables per word (vowel-group count — the Flesch-style proxy
    // that needs no dictionary), share of 3+-syllable words, and
    // type-token ratio. The readability/diversity gauge a curator
    // reads next to quality_gopher (rules say "is it text"; this says
    // "how HARD is the text"). Everything is per-row array lambdas
    // inside codegen — no explode, no shuffle beyond the output sort;
    // the per-doc sums are exact integers, so only the final ratios
    // are floats (truncated at 6 dp).
    "quality_lexical_complexity" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val w = split(col("text"), " ")
      // vowel-group count: split on runs of vowels leaves (groups+1)
      // pieces; a vowel-free token still counts one syllable
      def syl(t: Column): Column =
        greatest(lit(1), size(split(t, "[aeiou]+")) - 1)
      docs(s, dir).select(col("doc_id"),
          size(w).cast("long").as("n_words"),
          aggregate(w, lit(0L), (acc, t) => acc + length(t))
            .as("n_chars_w"),
          aggregate(w, lit(0L), (acc, t) => acc + syl(t))
            .as("n_syllables"),
          size(filter(w, t => syl(t) >= 3)).cast("long").as("n_poly"),
          size(array_distinct(w)).cast("long").as("n_types"))
        .select(col("doc_id"), col("n_words"), col("n_syllables"),
          t6(col("n_chars_w").cast("double") / col("n_words"))
            .as("avg_word_len"),
          t6(col("n_syllables").cast("double") / col("n_words"))
            .as("avg_syllables"),
          t6(col("n_poly").cast("double") / col("n_words"))
            .as("poly_frac"),
          t6(col("n_types").cast("double") / col("n_words"))
            .as("type_token_ratio"))
        .orderBy("doc_id")
    }),

    // Reliability diagram of the hashed-linear quality score against
    // the Gopher rule label: decile-bucket the score's sigmoid, and
    // per bucket compare mean predicted probability with the observed
    // pass rate — the calibration audit a curator runs before trusting
    // a learned filter's threshold. Shares the EXACT score construction
    // with quality_linear_score (word weights are multiples of 2⁻¹¹,
    // so the double sum is exact and associative) and the rule bundle
    // with quality_gopher (one GopherRules definition). One exploded
    // agg + one per-row pass + a doc-grain id join, then a 10-row agg.
    "quality_calibration" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val R = GopherRules
      val score = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"),
          ((conv(substring(md5(col("w")), 1, 3), 16, 10).cast("long")
            - 2048).cast("double") / 2048d).as("wt"))
        .groupBy("doc_id").agg(sum(col("wt")).as("score"))
      val gop = docs(s, dir).select(col("doc_id"),
        (R.nStop >= R.StopMin && R.alphaFrac >= R.AlphaMin &&
          R.symbolFrac <= R.SymbolMax).as("pass"))
      score.join(gop, "doc_id")
        .withColumn("prob",
          lit(1d) / (lit(1d) + exp(-col("score") / lit(8d))))
        .withColumn("decile", floor(col("prob") * 10).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("prob").cast(dec18)).as("psum"),
          count(when(col("pass"), 1)).as("n_pass"))
        .select(col("decile"), col("n_docs"),
          t6(col("psum").cast("double") / col("n_docs")).as("avg_prob"),
          t6(col("n_pass").cast("double") / col("n_docs")).as("pass_rate"),
          t6(abs(col("psum").cast("double") / col("n_docs") -
            col("n_pass").cast("double") / col("n_docs"))).as("calib_gap"))
        .orderBy("decile")
    }),

    // Per-doc unigram Shannon entropy (nats) + the type-normalized
    // variant — the token-diversity quality signal. H = ln n −
    // (Σ c·ln c)/n so the only cross-row float sum is Σ c·ln c, routed
    // through DECIMAL(38,18) exactly like the logprob keys
    // (accumulation order cannot change it). Two hash aggregates,
    // nothing else.
    "doc_ngram_entropy" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val tc = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val ent = log(col("n_tokens").cast("double")) -
        col("clc").cast("double") / col("n_tokens")
      tc.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum((col("c").cast("double") * log(col("c").cast("double")))
            .cast(dec18)).as("clc"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          t6(ent).as("entropy_nats"),
          when(col("n_types") > 1,
            t6(ent / log(col("n_types").cast("double"))))
            .as("entropy_norm"))
        .orderBy("doc_id")
    }),

    // Cross-source shared-opening audit: clusters keyed on the
    // first-5-word fingerprint (boilerplate headers, syndicated leads)
    // that span more than one source are provenance leaks — the
    // observability view a corpus owner checks before blaming a single
    // feed. One map-side-combinable hash aggregate over a narrow
    // fingerprint projection (the fingerprint is a prefix slice, not a
    // full-text hash, so the scan stays column-pruned and cheap).
    "dedup_cross_source" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          md5(array_join(slice(split(col("text"), " "), 1, 5), " "))
            .as("ch"))
        .groupBy("ch")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("canonical_id"))
        .filter(col("n_docs") >= 2)
        .select(col("ch"), col("canonical_id"), col("n_docs"),
          col("n_sources"), (col("n_sources") >= 2).as("cross_source"))
        .orderBy("canonical_id")),

    // Greedy token-budget allocation across sources: sources ranked by
    // mean quality (distinct-token ratio), filled best-first until the
    // budget (half the corpus tokens) runs out; the boundary source
    // gets a fractional take. The rank AND the cumulative sum come
    // from one triangular join over the |sources|-row table (no
    // unpartitioned window anywhere) — the source table is bounded by
    // construction, the fact is touched once.
    "corpus_token_budget" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val w = split(col("text"), " ")
      val src = docs(s, dir)
        .select(col("source"), size(w).cast("long").as("toks"),
          (size(array_distinct(w)).cast("double") / size(w)).as("q"))
        .groupBy("source")
        .agg(sum(col("toks")).as("tokens"),
          (sum(col("q").cast(dec12)).cast("double") / count(lit(1)))
            .as("mq"))
        .localCheckpoint(false) // budget scalar + triangular join share
      val budget = src.agg(expr("sum(tokens) div 2").as("budget"))
      val b = src.select(col("source").as("b_source"),
        col("tokens").as("b_tokens"), col("mq").as("b_mq"))
      src.join(broadcast(b),
          col("b_mq") > col("mq") ||
            (col("b_mq") === col("mq") && col("b_source") <= col("source")))
        .groupBy("source", "tokens", "mq")
        .agg(count(lit(1)).as("src_rank"), sum(col("b_tokens")).as("cum_tokens"))
        .crossJoin(broadcast(budget))
        .select(col("source"), col("src_rank"), col("tokens"),
          col("cum_tokens"),
          when(col("cum_tokens") - col("tokens") >= col("budget"),
            lit(0.0))
            .when(col("cum_tokens") <= col("budget"), lit(1.0))
            .otherwise(t6(
              (col("budget") - (col("cum_tokens") - col("tokens")))
                .cast("double") / col("tokens"))).as("take_frac"))
        .orderBy("src_rank")
    }),

    // Hill tail-index MLE over token frequencies per language — the
    // estimator companion to doc_zipf_alpha's log-log OLS (the two
    // disagreeing is itself the diagnostic: OLS fits the body, Hill
    // the tail a tokenizer's long-tail budget actually depends on).
    // α̂ = 1 + n / Σ ln(c_i / c_min) over tokens with count ≥ c_min;
    // counts are exact integers, the only float sum routes through
    // DECIMAL(38,18) like every log-family key. Two hash aggregates.
    "doc_hill_tail" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val cmin = 5.0
      val tail = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .filter(col("c") >= cmin)
      tail.groupBy("lang")
        .agg(count(lit(1)).as("n_tail"),
          sum(log(col("c").cast("double") / cmin).cast(dec18)).as("sl"))
        .select(col("lang"), col("n_tail"),
          when(col("sl") > 0,
            t6(lit(1.0) + col("n_tail").cast("double") /
              col("sl").cast("double"))).as("hill_alpha"))
        .orderBy("lang")
    }),

    // Cluster-label purity of the fitted k-means cells — the audit a
    // pipeline runs before trusting an IVF index or SemDeDup cells:
    // low purity on a weakly clustered corpus is itself the signal.
    // One broadcast-centroid assignment pass (shared construction with
    // kmeans_fit_assign), then windows over the bounded k×labels
    // count table only.
    "similar_cluster_purity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t6 = TextStats.trunc6 _
      val assigned = Similarity.assignToCentroids(emb(s, dir), "vec_id",
        "embedding", kmeansCentsOf(s, dir))
      val cl = assigned
        .join(emb(s, dir).select(col("vec_id"),
          col("label").cast("long").as("label")), "vec_id")
        .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      val wTot = Window.partitionBy("cluster")
      val wTop = Window.partitionBy("cluster")
        .orderBy(col("n").desc, col("label"))
      cl.withColumn("n_vecs", sum(col("n")).over(wTot))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("n_vecs"),
          col("label").as("top_label"),
          t6(col("n").cast("double") / col("n_vecs")).as("purity"))
        .orderBy("cluster")
    }),

    // Source-level vocabulary overlap matrix: per-pair Jaccard of the
    // DISTINCT token sets — the corpus-mixing diagnostic ("are these
    // feeds the same crawl?"). The join is TOKEN-bucketed over the
    // (source, token) distinct table (vocab-scale, never doc-pair);
    // per token at most |sources|² pair rows exist, and |sources| is
    // bounded, so the pair stage is vocab × a constant.
    "doc_jaccard_sources" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val sv = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .distinct()
        .localCheckpoint(false) // sizes + pair join share the distinct
      val sizes = sv.groupBy("source").agg(count(lit(1)).as("n"))
      val a = sv.select(col("source").as("a_source"), col("w"))
      val b = sv.select(col("source").as("b_source"), col("w"))
      a.join(b, "w").filter(col("a_source") < col("b_source"))
        .groupBy("a_source", "b_source").agg(count(lit(1)).as("n_inter"))
        .join(broadcast(sizes.select(col("source").as("a_source"),
          col("n").as("na"))), "a_source")
        .join(broadcast(sizes.select(col("source").as("b_source"),
          col("n").as("nb"))), "b_source")
        .select(col("a_source"), col("b_source"), col("n_inter"),
          t6(col("n_inter").cast("double") /
            (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
        .orderBy("a_source", "b_source")
    }),

    // Dedup threshold sweep: how many near-dup pairs (and docs) a
    // given Jaccard cut removes — the knob-tuning curve a curator
    // reads before committing a threshold. Rides the memoized
    // candidate/shingle-set index; the curve itself is a broadcast of
    // 4 threshold rows against the candidate-scale pair table.
    "dedup_threshold_curve" -> ((s, dir) => {
      import s.implicits._
      val j = jaccardOf(s, dir)
      val tdf = Seq(0.5, 0.7, 0.8, 0.9).toDF("threshold")
      j.crossJoin(broadcast(tdf))
        .filter(col("jaccard") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_docs_dropped"))
        .orderBy("threshold")
    }),

    // Per-source unigram KL divergence vs the corpus mixture — the
    // distribution-shift diagnostic a curator reads next to
    // doc_jaccard_sources (vocab overlap says "same words"; KL says
    // "same FREQUENCIES"). One fact pass builds the (source, word)
    // count table; the corpus marginal re-aggregates THAT table
    // (vocab-scale, never the fact), the per-source totals broadcast
    // back, and the log-weighted sum routes through DECIMAL(38,18)
    // like every log-family key so accumulation order can't move it.
    "doc_source_kl" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val sw = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // marginal + totals + terms share one pass
      val corpus = sw.groupBy("w").agg(sum(col("c")).as("cw"))
      val totals = sw.groupBy("source").agg(sum(col("c")).as("n_src"))
      val corpusTotal = corpus.agg(sum(col("cw")).as("n_corpus"))
      val ps = col("c").cast("double") / col("n_src")
      val pc = col("cw").cast("double") / col("n_corpus")
      sw.join(corpus, "w")
        .join(broadcast(totals), "source")
        .crossJoin(broadcast(corpusTotal))
        .groupBy("source", "n_src")
        .agg(count(lit(1)).as("vocab_src"),
          sum((ps * log(ps / pc)).cast(dec18)).as("klsum"))
        .select(col("source"), col("n_src").as("n_tokens"),
          col("vocab_src"),
          t6(col("klsum").cast("double")).as("kl_nats"))
        .orderBy("source")
    }),

    // Pairwise Jensen–Shannon divergence between source unigram
    // distributions — the symmetric, bounded ([0, ln 2]) companion to
    // doc_source_kl (KL vs the mixture says "how far from average";
    // JSD says which PAIRS of feeds differ). Identity used:
    //   JSD(a,b) = Σ_∩ −m·ln m − ½Σ_∩ −p_a·ln p_a − ½Σ_∩ −p_b·ln p_b
    //            + ½·ln 2·(2 − Σ_∩ p_a − Σ_∩ p_b),   m = (p_a+p_b)/2
    // — every sum runs over the INTERSECTION vocabulary only (words a
    // source alone holds contribute exactly ½p·ln 2, folded into the
    // mass-deficit term), so the join is the token-bucketed inner
    // self-join doc_jaccard_sources already proved out: vocab-scale ×
    // a bounded |sources|² pair fanout, never doc-pair, never outer.
    // All four sums route through DECIMAL(38,18).
    "doc_js_divergence" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val ln2 = math.log(2.0)
      val sw = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // totals + both join sides share the pass
      val totals = sw.groupBy("source").agg(sum(col("c")).as("n"))
      val a = sw.join(broadcast(totals), "source")
        .select(col("source").as("a_source"), col("w"),
          (col("c").cast("double") / col("n")).as("pa"))
      val b = sw.join(broadcast(totals), "source")
        .select(col("source").as("b_source"), col("w"),
          (col("c").cast("double") / col("n")).as("pb"))
      val m = (col("pa") + col("pb")) / 2
      a.join(b, "w").filter(col("a_source") < col("b_source"))
        .groupBy("a_source", "b_source")
        .agg(count(lit(1)).as("n_inter"),
          sum((-m * log(m)).cast(dec18)).as("hm"),
          sum((-col("pa") * log(col("pa"))).cast(dec18)).as("ha"),
          sum((-col("pb") * log(col("pb"))).cast(dec18)).as("hb"),
          sum(col("pa").cast(dec18)).as("pamass"),
          sum(col("pb").cast(dec18)).as("pbmass"))
        .select(col("a_source"), col("b_source"), col("n_inter"),
          t6(col("hm").cast("double") -
            col("ha").cast("double") / 2 -
            col("hb").cast("double") / 2 +
            lit(ln2 / 2) * (lit(2.0) - col("pamass").cast("double") -
              col("pbmass").cast("double"))).as("jsd_nats"))
        .orderBy("a_source", "b_source")
    }),

    // Hash-shard balance audit: the shard assignment a distributed
    // training job would use (first md5 nibble of the doc id → 16
    // shards), with per-shard token mass and the skew ratio vs the
    // ideal 1/16 share. One map-side-combinable hash aggregate over a
    // narrow projection; the 16-row shard table gets its total via a
    // broadcast scalar, not a window.
    "corpus_shard_balance" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val shards = docs(s, dir)
        .select(substring(md5(col("doc_id").cast("string")), 1, 1)
            .as("shard"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .localCheckpoint(false) // total + per-shard rows share one pass
      val total = shards.agg(sum(col("n_tokens")).as("tot"))
      shards.crossJoin(broadcast(total))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          t6(col("n_tokens").cast("double") / col("tot")).as("token_share"),
          t6(col("n_tokens").cast("double") * 16 / col("tot")).as("skew"))
        .orderBy("shard")
    }),

    // Deterministic train/val/test split assignment: two md5 hex chars
    // of (doc_id || 'split') partition [0,256) into ~80/10/10 by
    // lexicographic hex compare — the split is a pure function of the
    // id, so re-running the pipeline (or adding documents) never moves
    // an existing document across splits. Output is the per-(source,
    // split) census with within-source shares; the per-source totals
    // ride a broadcast of the |sources|-row table.
    "corpus_split_assign" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val h2 = substring(md5(concat(col("doc_id").cast("string"),
        lit("split"))), 1, 2)
      val assigned = docs(s, dir)
        .select(col("source"),
          when(h2 < "cd", "train").when(h2 < "e6", "val")
            .otherwise("test").as("split"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .localCheckpoint(false) // census + per-source totals share a pass
      val srcTot = assigned.groupBy("source")
        .agg(sum(col("n_docs")).as("src_docs"))
      assigned.join(broadcast(srcTot), "source")
        .select(col("source"), col("split"), col("n_docs"),
          col("n_tokens"),
          t6(col("n_docs").cast("double") / col("src_docs"))
            .as("doc_share"))
        .orderBy("source", "split")
    }),

    // Heaps'-law vocabulary growth curve: distinct-type count and
    // token mass of the corpus prefix at 10 id-range checkpoints.
    // Scale shape: the curve needs NO global rank — each word's
    // FIRST doc id (a vocab-scale aggregate) is compared against a
    // broadcast 10-row checkpoint table, so the fact is touched twice
    // (types pass + token pass), each a plain hash aggregate, and the
    // checkpoint fanout is a fixed 10× of vocab-/doc-grain rows —
    // the events_dau_wau contribution-expansion shape.
    "doc_vocab_growth" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val d = docs(s, dir)
      val bounds = d.agg(min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
      val cuts = bounds
        .select(explode(sequence(lit(1), lit(10))).as("decile"),
          col("lo"), col("hi"))
        .select(col("decile"),
          expr("lo - 1 + ((hi - lo + 1) * decile) div 10").as("cutoff"))
        // 10-row table referenced by BOTH passes: checkpoint so the
        // min/max bounds scan of the fact runs once, not once per use
        .localCheckpoint(false)
      val firstDoc = d
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(min(col("doc_id")).as("fd"))
      val vocabAt = firstDoc.crossJoin(broadcast(cuts))
        .filter(col("fd") <= col("cutoff"))
        .groupBy("decile", "cutoff").agg(count(lit(1)).as("vocab"))
      val toksAt = d
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .crossJoin(broadcast(cuts))
        .filter(col("doc_id") <= col("cutoff"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      vocabAt.join(toksAt, "decile")
        .select(col("decile"), col("cutoff"), col("n_docs"),
          col("n_tokens"), col("vocab"),
          when(col("n_tokens") > 1,
            t6(log(col("vocab").cast("double")) /
              log(col("n_tokens").cast("double")))).as("heaps_ratio"))
        .orderBy("decile")
    }),

    // ---- r11 additions ----------------------------------------------

    // Matryoshka (MRL) truncated-dimension ANN: coarse top-40 by
    // cosine over the FIRST 16 of 64 dims (the pass that reads 4×
    // fewer floats at 100 TB — the nesting property MRL training
    // gives), exact full-dim re-rank to top-10. Both scores kept so
    // the truncation error is visible in (sim_head vs sim).
    "similar_matryoshka_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"),
          slice(col("embedding"), 1, 16).as("qhead"))
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .withColumn("sim_head",
          round(Similarity.cosine(slice(col("embedding"), 1, 16),
            col("qhead")), 6))
        .orderBy(col("sim_head").desc, col("vec_id")).limit(40)
        .select(col("vec_id"), col("sim_head"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6)
            .as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
    }),

    // Recall audit for the matryoshka coarse pass (the sq_recall
    // methodology): how many exact full-dim top-5 survive into the
    // head-dim top-40 — the truncated-dim rerank factor is MEASURED.
    "similar_matryoshka_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"),
          slice(col("embedding"), 1, 16).as("qhead"))
      val corpus = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .localCheckpoint(false) // coarse + exact arms share one scan
      val coarse = corpus
        .select(col("vec_id"),
          round(Similarity.cosine(slice(col("embedding"), 1, 16),
            col("qhead")), 6).as("sim_head"))
        .orderBy(col("sim_head").desc, col("vec_id")).limit(40)
      val exact = corpus
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6)
            .as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
      exact.join(coarse, Seq("vec_id"), "left")
        .agg(count(lit(1)).as("k_exact"),
          count(col("sim_head")).as("n_in_coarse"))
        .select(col("k_exact"), col("n_in_coarse"),
          TextStats.trunc6(col("n_in_coarse") / col("k_exact"))
            .as("recall"))
    }),

    // Position-weighted 4-gram NOVELTY curve (the memorization-risk
    // diagnostic): per doc, the fraction of its word-4-gram POSITIONS
    // whose gram first appears in THIS doc (first = min doc_id over
    // the corpus). Scale shape: one (doc, gram) count table feeds both
    // the first-doc aggregate and the probe — gram-key joins only,
    // no window, no doc-pair stage. Docs under 4 words have no grams
    // and drop out (same rule as the span-dedup family).
    "text_ngram_novelty" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val w4 = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("w")) - 4),
            i => concat_ws(" ", element_at(col("w"), i + 1),
              element_at(col("w"), i + 2), element_at(col("w"), i + 3),
              element_at(col("w"), i + 4)))).as("gram"))
      // r17 (guide §2.4): the first-doc-per-gram table used to come
      // from a second aggregation joined back onto the (doc, gram)
      // counts — two more Exchanges (groupBy gram + the join's
      // re-hash) and a checkpoint. One explicit repartition on the
      // gram key now serves the (doc_id, gram) count (hash(gram)
      // co-locates every (doc_id, gram) group), and first_doc is a
      // min-over-gram WINDOW on that same partitioning — plan: 4
      // Exchanges → 2, no join, no checkpoint. min(doc_id) over the
      // gram partition is exactly the old groupBy(gram).min joined
      // back — identical values.
      val pos = w4.repartition(col("gram"))
        .groupBy("doc_id", "gram")
        .agg(count(lit(1)).as("positions"))
        .withColumn("first_doc", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))))
      pos
        .groupBy("doc_id")
        .agg(sum(col("positions")).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), col("positions"))
            .otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          t6(col("n_novel").cast("double") / col("n_grams")).as("novelty"))
        .orderBy("doc_id")
    }),

    // Fixed-offset image formats (GIF / BMP / WebP-VP8X) synthesized
    // from doc fields and parsed back by Multimodal.imageDimsExt —
    // widening the header-decode family to the formats whose dims sit
    // at spec-pinned offsets (no walk). Same projection-barrier
    // consumption + PlanSpec node-count budget as the walk parsers.
    "multimodal_image_formats" -> ((s, dir) => {
      val d = docs(s, dir)
      def le(c: Column, n: Int) = concat((0 until n).map(i =>
        unhex(lpad(hex(pmod(shiftright(c.cast("long"), 8 * i),
          lit(256))), 2, "0"))): _*)
      def zeros(n: Int) = unhex(lit("00" * n))
      val w = (lit(8) + pmod(col("n_chars") * 3, lit(4000))).cast("long")
      val h = (lit(8) + pmod(col("doc_id") * 13, lit(3000))).cast("long")
      val gif = concat(lit("GIF89a").cast("binary"), le(w, 2), le(h, 2),
        zeros(3), encode(substring(col("text"), 1, 8), "UTF-8"))
      val bmp = concat(lit("BM").cast("binary"), le(lit(122L), 4),
        zeros(4), le(lit(54L), 4), le(lit(40L), 4), le(w, 4), le(h, 4),
        zeros(8))
      val webp = concat(lit("RIFF").cast("binary"), le(lit(30L), 4),
        lit("WEBPVP8X").cast("binary"), le(lit(10L), 4), zeros(4),
        le(w - 1, 3), le(h - 1, 3))
      val payload = when(pmod(col("doc_id"), lit(4)) === 0, gif)
        .when(pmod(col("doc_id"), lit(4)) === 1, bmp)
        .when(pmod(col("doc_id"), lit(4)) === 2, webp)
        .otherwise(concat(unhex(lit("00")),
          encode(col("text"), "UTF-8"))) // NUL prefix: no magic can match
      d.select(col("doc_id").as("media_id"), payload.as("payload"))
        .select(col("media_id"),
          Multimodal.imageDimsExt(col("payload")).as("dims"))
        .select(col("media_id"), col("dims.format").as("format"),
          col("dims.width").as("width"), col("dims.height").as("height"))
        .orderBy("media_id")
    }),

    // EXACT-substring decontamination — the final verify mode of the
    // decontamination family (exact-gram → overlap-fraction → minhash
    // → THIS): drop corpus docs that contain a benchmark fragment
    // verbatim (here the eval docs' 20-char openings). Scale shape:
    // the benchmark suite is KBs by construction, so the fragment set
    // BROADCASTS and the corpus pays one linear scan with a bounded
    // per-row contains budget — the corpus never shuffles, never
    // self-joins (production composes this after the gram prefilter
    // when even the fragment set is too wide).
    "decontaminate_substring" -> ((s, dir) => {
      val d = docs(s, dir)
      val frags = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(substring(col("text"), 1, 20).as("frag"))
        .filter(length(col("frag")) >= 20)
        .distinct() // boilerplate openings repeat; each probe once
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val bad = corpus.crossJoin(broadcast(frags))
        .filter(col("text").contains(col("frag")))
        .select(col("doc_id")).distinct()
      corpus.join(broadcast(bad), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Normalization-aware exact dedup — the pipeline step between raw
    // exact dedup and near-dup: case-fold, strip non-alphanumerics to
    // spaces, collapse whitespace runs, then hash-group the canonical
    // form. Catches the re-encoded / re-punctuated copies exact dedup
    // misses and MinHash would spend candidate budget on. The probe
    // set is a deterministic 1/101 sample re-encoded (upper-cased,
    // punctuation appended) and unioned in — exactly the variants this
    // operator exists to collapse and byte-level dedup cannot. ONE
    // projection into ONE map-side-combinable hash agg; only the
    // 32-char md5 of the canonical form ever shuffles, never the text.
    "dedup_normalized" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = d.filter(pmod(col("doc_id"), lit(101)) === 0)
        // 1e9 offset: disjoint from MakeBigSf's replica namespace
        // (replica i = doc_id + i*1e7), so variant ids never alias a
        // real document on the 10x fixture
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(upper(col("text")), lit(" ~~ ")).as("text"))
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      d.unionByName(variants)
        .select(col("doc_id"), md5(norm).as("h"))
        .groupBy("h")
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
        .orderBy("canonical_id")
    }),

    // Embedding health audit — the first check a training pipeline
    // runs on a new embedding dump: per label, the L2-norm
    // distribution (catches zero/degenerate vectors and un-normalized
    // models) and the norm of the MEAN vector relative to the mean
    // norm (anisotropy: ~0 for an isotropic cloud, →1 when the cloud
    // collapses toward one direction). Per-row norms are one native
    // codegen'd arraydot; every cross-row float sum is truncated then
    // DECIMAL-routed (order-independent). The mean vector is an
    // explode→(label,pos) aggregation — the fanout is rows×dim with
    // dim a CONSTANT, map-side combined into a labels×dim table, so
    // at 100 TB it is one linear pass, no window, no fact join; the
    // two per-label aggregates meet in a broadcast join.
    "embedding_norm_stats" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val e = emb(s, dir)
      val st = e
        .select(col("label"),
          t6(Similarity.norm(col("embedding"))).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(col("nrm").cast(dec)).cast("double").as("s"),
          sum((col("nrm") * col("nrm")).cast(d12)).cast("double").as("ss"))
      val mv = e
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos"),
          t6(col("col").cast("double")).as("v"))
        .groupBy("label", "pos")
        .agg(sum(col("v").cast(dec)).cast("double").as("sv"),
          count(lit(1)).as("nv"))
        .select(col("label"), t6(col("sv") / col("nv")).as("mval"))
      val mvn = mv.groupBy("label")
        .agg(sqrt(sum((col("mval") * col("mval")).cast(d12)).cast("double"))
          .as("mvn_raw"))
      st.join(broadcast(mvn), "label")
        .select(col("label"), col("n"),
          t6(col("s") / col("n")).as("mean_norm"),
          t6(sqrt(greatest(
            col("ss") / col("n") - (col("s") / col("n")) * (col("s") / col("n")),
            lit(0.0)))).as("sd_norm"),
          t6(col("mvn_raw")).as("mean_vec_norm"),
          t6(col("mvn_raw") / (col("s") / col("n"))).as("anisotropy"))
        .orderBy("label")
    }),

    // Per-dimension clipping audit: exact p01/p99 of every embedding
    // coordinate plus how many values a clip at those bounds would
    // touch — the preprocessing decision (clip? rescale? drop the
    // dim?) a pipeline owner makes before quantizing vectors (the SQ
    // codec in similar_sq_int8 assumes per-dim ranges; this key is
    // the audit that VALIDATES that assumption against outliers). One
    // posexplode pass shared by the percentile build and the count
    // pass via checkpoint; the 64-row percentile table broadcasts
    // back. Exact `percentile` (not approx) so both engines
    // interpolate the same order statistics.
    "embedding_clip_audit" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val ex = emb(s, dir)
        .select(posexplode(col("embedding")))
        .select(col("pos").cast("long").as("dim"),
          col("col").cast("double").as("v"))
        .localCheckpoint(false) // percentile build + count pass share it
      val pct = ex.groupBy("dim")
        .agg(percentile(col("v"), lit(0.01)).as("p01"),
          percentile(col("v"), lit(0.99)).as("p99"))
      ex.join(broadcast(pct), "dim")
        .groupBy("dim", "p01", "p99")
        .agg(count(lit(1)).as("n"),
          count(when(col("v") < col("p01"), 1)).as("n_below"),
          count(when(col("v") > col("p99"), 1)).as("n_above"))
        .select(col("dim"), col("n"),
          t6(col("p01")).as("p01"), t6(col("p99")).as("p99"),
          col("n_below"), col("n_above"),
          t6((col("n_below") + col("n_above")).cast("double") /
            col("n")).as("clip_frac"))
        .orderBy("dim")
    }),

    // Epoch/repetition schedule for a token budget (Muennighoff et
    // al. 2023: up to ~4 epochs of repeated data train ≈ like fresh
    // data; beyond that returns decay fast): per source, available
    // whitespace tokens, the α=0.5 temperature-smoothed mixture
    // weight (same smoothing family as corpus_mix_alpha, applied to
    // token mass), the share of a 2×-corpus token budget that weight
    // demands, and the implied epochs over the source with an
    // over-repetition flag at 4. ONE agg over the docs fact × a
    // broadcast 1-row totals frame — no window, fact touched once.
    "corpus_epoch_schedule" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val src = docs(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source").agg(sum(col("toks")).as("n_tokens"))
        .localCheckpoint(false) // totals scalar + per-source rows share
      val tot = src.agg(sum(col("n_tokens")).as("t_total"),
        sum(sqrt(col("n_tokens").cast("double")).cast(d12))
          .cast("double").as("sw"))
      val w = sqrt(col("n_tokens").cast("double")) / col("sw")
      val epochs = w * (lit(2L) * col("t_total")) / col("n_tokens")
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          t6(w).as("weight"), t6(epochs).as("epochs"),
          (epochs > lit(4.0)).as("over_repeated"))
        .orderBy("source")
    }),

    // SEMANTIC decontamination — the embedding-space member of the
    // decontaminate family (exact-gram / minhash / substring catch
    // verbatim and shingled overlap; paraphrased benchmark items need
    // cosine). The benchmark side is a deterministic 1/97 sample
    // re-embedded with a small alternating-sign perturbation
    // (ε = 2⁻⁷, dyadic so both engines parse the identical double) —
    // exactly the "same item, slightly different embedding run" case
    // this operator exists for; natural cross-split cosine tops out
    // ≈0.50 on this corpus so the 0.99 cut can never false-flag. At
    // 100 TB the benchmark set is constant-size → broadcast NLJ probe
    // over ONE linear corpus pass (native arraydot cosine), flagged
    // ids broadcast back as an anti join — the corpus never shuffles.
    "decontaminate_semantic" -> ((s, dir) => {
      val e = emb(s, dir)
      val eps = 0.0078125 // 2^-7: exactly representable
      val bench = e.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("b_id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") + when(pmod(i, lit(2)) === 0, lit(eps))
              .otherwise(lit(-eps))).as("b_emb"))
      val bad = e.crossJoin(broadcast(bench))
        .filter(round(Similarity.cosine(col("embedding"), col("b_emb")), 6)
          >= lit(0.99))
        .select(col("vec_id")).distinct()
      e.join(broadcast(bad), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),

    // DSIR-style importance weights (Xie et al. 2023: data selection
    // by importance resampling): score every doc by how much more
    // likely its unigrams are under a target domain (here lang='en')
    // than under the raw corpus — mean log p_tgt(w)/p_raw(w) with
    // add-1 smoothing over the raw vocabulary. Both count columns come
    // from ONE vocab-scale aggregation (c_raw and c_tgt side by side,
    // checkpointed); the per-word log-ratio is a fixed-shape float
    // expression computed once at vocab grain, then joined to the
    // token stream (size-gated broadcast) and DECIMAL(38,18)-routed
    // into per-doc means, reported per source with the would-select
    // rate (weight > 0). At 100 TB: two linear passes over the fact,
    // one vocab-grain table, no window, no fact-fact join.
    "corpus_dsir_weights" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      val tok = docs(s, dir)
        .select(col("doc_id"), col("source"),
          (col("lang") === "en").as("tgt"),
          explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w")
        .agg(count(lit(1)).as("c_raw"),
          count(when(col("tgt"), 1)).as("c_tgt"))
        .localCheckpoint(false) // totals + log-ratio table share it
      val totals = vocab.agg(sum(col("c_raw")).as("n_raw"),
        sum(col("c_tgt")).as("n_tgt"), count(lit(1)).as("v"))
      val lr = vocab.crossJoin(broadcast(totals))
        .select(col("w"),
          (log((col("c_tgt") + 1).cast("double") /
            (col("n_tgt") + col("v")).cast("double")) -
           log((col("c_raw") + 1).cast("double") /
            (col("n_raw") + col("v")).cast("double"))).as("lr"))
      val perDoc = tok
        .join(TextStats.gatedBroadcast(lr), Seq("w"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lr").cast(dec18)).as("lr_sum"))
        .select(col("source"),
          t6(col("lr_sum").cast("double") / col("n_tokens")).as("dw"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          t6(sum(col("dw").cast(dec)).cast("double") / count(lit(1)))
            .as("mean_weight"),
          t6(count(when(col("dw") > 0, 1)).cast("double") /
            count(lit(1))).as("sel_rate"))
        .orderBy("source")
    }),

    // Method-agreement audit across the decontamination family — the
    // observability readout a curation team checks before trusting any
    // one method: pairwise flagged-set overlap (n-gram hit vs minhash
    // band collision vs exact-substring) as counts + Jaccard. Each
    // method's flagged ids are computed exactly as its own key
    // computes them (same 1/97 split, same shared minhash index), the
    // three small id sets union into ONE lazily-checkpointed frame
    // consumed by both the per-method census and the pair join, and
    // the 3-row pair skeleton is a literal so a method that flags
    // nothing still reports its zero row. All meeting joins are
    // broadcasts of flagged-set-sized frames.
    "decontaminate_agreement" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val bench = d.filter(pmod(col("doc_id"), lit(97)) === 0)
      val fNg = Dedup.shingles(corpus, "doc_id", "text", 5)
        .join(TextStats.gatedBroadcast(
          Dedup.shingles(bench, "doc_id", "text", 5)
            .select("shingle").distinct()),
          Seq("shingle"), "left_semi")
        .select("doc_id").distinct()
        .select(lit("ngram").as("method"), col("doc_id"))
      val bands = Dedup.bands(minhashOf(s, dir), "doc_id", NumHashes, 1)
      val fMh = bands.filter(col("doc_id") % 97 =!= 0)
        .join(TextStats.gatedBroadcast(
          bands.filter(col("doc_id") % 97 === 0)
            .select("band", "band_key").distinct()),
          Seq("band", "band_key"), "left_semi")
        .select("doc_id").distinct()
        .select(lit("minhash").as("method"), col("doc_id"))
      val frags = bench.select(substring(col("text"), 1, 20).as("frag"))
        .filter(length(col("frag")) >= 20)
        .distinct() // boilerplate openings repeat; each probe once
      val fSub = corpus.crossJoin(broadcast(frags))
        .filter(col("text").contains(col("frag")))
        .select("doc_id").distinct()
        .select(lit("substring").as("method"), col("doc_id"))
      val fl = fNg.unionByName(fMh).unionByName(fSub)
        .localCheckpoint(false) // census + pair join share one build
      val cnt = fl.groupBy("method").agg(count(lit(1)).as("n"))
      val pr = fl.select(col("method").as("method_a"), col("doc_id"))
        .join(fl.select(col("method").as("method_b"), col("doc_id")),
          Seq("doc_id"))
        .filter(col("method_a") < col("method_b"))
        .groupBy("method_a", "method_b").agg(count(lit(1)).as("n_both"))
      val sk = s.range(1).select(explode(array(
          struct(lit("minhash").as("method_a"), lit("ngram").as("method_b")),
          struct(lit("minhash").as("method_a"), lit("substring").as("method_b")),
          struct(lit("ngram").as("method_a"), lit("substring").as("method_b"))))
          .as("p"))
        .select(col("p.method_a"), col("p.method_b"))
      sk.join(broadcast(cnt.select(col("method").as("method_a"),
          col("n").as("n_a0"))), Seq("method_a"), "left")
        .join(broadcast(cnt.select(col("method").as("method_b"),
          col("n").as("n_b0"))), Seq("method_b"), "left")
        .join(broadcast(pr), Seq("method_a", "method_b"), "left")
        .select(col("method_a"), col("method_b"),
          coalesce(col("n_a0"), lit(0L)).as("n_a"),
          coalesce(col("n_b0"), lit(0L)).as("n_b"),
          coalesce(col("n_both"), lit(0L)).as("nb"))
        .select(col("method_a"), col("method_b"), col("n_a"), col("n_b"),
          col("nb").as("n_both"),
          when(col("n_a") + col("n_b") - col("nb") > 0,
            TextStats.trunc6(col("nb").cast("double") /
              (col("n_a") + col("n_b") - col("nb")))).as("jaccard"))
        .orderBy("method_a", "method_b")
    }),

    // Hard-negative mining for contrastive training — for each query
    // vector (deterministic 1/41 sample), the most-similar vector of a
    // DIFFERENT label: the "looks alike, isn't" example an embedding
    // trainer pairs with each anchor. The query side is constant-size
    // → broadcast; the corpus streams ONCE through a codegen'd cosine
    // and reduces via a map-side-combinable struct-min argmax (key =
    // 1−sim so min() = best, vec_id tie-break) — no window over the
    // corpus-sized candidate stream, no shuffle of the fact, output
    // grain = queries.
    "similar_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(pmod(col("vec_id"), lit(41)) === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"))
      val sim = round(Similarity.cosine(col("embedding"), col("q_emb")), 6)
      e.crossJoin(broadcast(q))
        .filter(col("label") =!= col("q_label"))
        .select(col("q_id"), col("q_label"),
          struct((lit(1.0) - sim).as("k"),
            col("vec_id").as("hard_neg_id"),
            col("label").as("neg_label"),
            sim.as("sim")).as("c"))
        .groupBy("q_id", "q_label")
        .agg(min(col("c")).as("best"))
        .select(col("q_id"), col("q_label"),
          col("best.hard_neg_id").as("hard_neg_id"),
          col("best.neg_label").as("neg_label"),
          col("best.sim").as("sim"))
        .orderBy("q_id")
    }),

    // Docs↔embeddings coverage audit — the referential-integrity check
    // before any semantic stage runs: per source, how many documents
    // actually have an embedding row. At 100 TB both sides are
    // fact-scale, so the join keys on the id both tables are bucketed
    // by at rest (store.BucketedIndex layout) — co-located, no
    // broadcast needed; here the left join + one hash agg states the
    // plan and AQE picks the physical join for the SF.
    "corpus_embedding_coverage" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val e = emb(s, dir).select(col("vec_id").as("doc_id"),
        lit(1).as("has"))
      d.join(e, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("has")).as("n_embedded"))
        .select(col("source"), col("n_docs"), col("n_embedded"),
          TextStats.trunc6(col("n_embedded").cast("double") /
            col("n_docs")).as("coverage"))
        .orderBy("source")
    }),

    // Token-mass duplication inflation — the budget question exact
    // dedup answers by doc count, answered by TOKEN count: per source,
    // how much of the token budget is spent on byte-identical copies
    // (everything in a hash group beyond its canonical doc). The
    // pipeline is ONE hash-group on md5(text) (the dedup_exact key)
    // joined back to the token-weighted fact on the hash — at 100 TB
    // both sides hash-partition on the 32-char digest, never the text.
    "corpus_dup_inflation" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        md5(col("text")).as("h"))
      val canon = d.groupBy("h").agg(min(col("doc_id")).as("cid"))
      d.join(TextStats.gatedBroadcast(canon), Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          count(when(col("doc_id") =!= col("cid"), 1)).as("n_dup_docs"),
          sum(when(col("doc_id") =!= col("cid"), col("toks")))
            .as("dup0"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("n_dup_docs"),
          coalesce(col("dup0"), lit(0L)).as("dup_tokens"),
          t6(coalesce(col("dup0"), lit(0L)).cast("double") /
            col("total_tokens")).as("dup_token_frac"))
        .orderBy("source")
    }),

    // Filter-impact attribution — the readout that tells a curator
    // what each quality rule actually COSTS: per rule (min-length 50,
    // ≥2 stopwords, alpha-fraction ≥0.8, symbol-fraction ≤0.1 — the
    // quality_gopher bundle plus the length gate), failing docs,
    // tokens those docs carry, the failure rate, and the docs failing
    // ONLY that rule (the marginal cost — a doc three rules reject is
    // nobody's marginal loss). One narrow per-doc verdict projection
    // → a constant ×4 rule explode → ONE hash agg; no join, no
    // window, rule verdicts never leave the row until the 4-row
    // output.
    "quality_rule_impact" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val R = GopherRules
      val v = docs(s, dir).select(
        size(R.words).cast("long").as("toks"),
        (size(R.words) >= R.LenMin).as("r_len"),
        (R.nStop >= R.StopMin).as("r_stop"),
        (R.alphaFrac >= R.AlphaMin).as("r_alpha"),
        (R.symbolFrac <= R.SymbolMax).as("r_symbol"))
      val nf = (!col("r_len")).cast("int") + (!col("r_stop")).cast("int") +
        (!col("r_alpha")).cast("int") + (!col("r_symbol")).cast("int")
      v.select(col("toks"), nf.as("nf"),
          explode(array(
            struct(lit("alpha_frac").as("rule"), (!col("r_alpha")).as("fail")),
            struct(lit("min_length").as("rule"), (!col("r_len")).as("fail")),
            struct(lit("stopword").as("rule"), (!col("r_stop")).as("fail")),
            struct(lit("symbol_frac").as("rule"), (!col("r_symbol")).as("fail"))))
            .as("e"))
        .select(col("toks"), col("nf"), col("e.rule").as("rule"),
          col("e.fail").as("fail"))
        .groupBy("rule")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("fail"), 1)).as("n_fail"),
          sum(when(col("fail"), col("toks"))).as("lost0"),
          count(when(col("fail") && col("nf") === 1, 1)).as("n_only_fail"))
        .select(col("rule"), col("n_docs"), col("n_fail"),
          coalesce(col("lost0"), lit(0L)).as("tokens_lost"),
          col("n_only_fail"),
          t6(col("n_fail").cast("double") / col("n_docs")).as("fail_rate"))
        .orderBy("rule")
    }),

    // Boilerplate-prefix detection — the cheap template scan a curator
    // runs before near-dup: per source, the most common 5-word prefix
    // and the share of (≥5-word) docs that start with it. A high share
    // means a scraped template (cookie banners, license headers) that
    // span-dedup should strip. One prefix projection → one hash agg →
    // a source-grain struct-min argmax (count desc, prefix asc) — no
    // window anywhere, nothing text-sized shuffles except the 5-word
    // prefix itself.
    "doc_boilerplate_prefix" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val w = split(col("text"), " ")
      val p = docs(s, dir).filter(size(w) >= 5)
        .select(col("source"), array_join(slice(w, 1, 5), " ").as("prefix"))
      p.groupBy("source", "prefix").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_docs"),
          min(struct((-col("c")).as("nc"), col("prefix").as("top_prefix"),
            col("c").as("n_top"))).as("best"))
        .select(col("source"), col("n_docs"),
          col("best.top_prefix").as("top_prefix"),
          col("best.n_top").as("n_top"),
          t6(col("best.n_top").cast("double") / col("n_docs"))
            .as("top_share"))
        .orderBy("source")
    }),

    // IVF nprobe tuning curve — the ANN-side companion of
    // dedup_band_tuning: measured recall@10 of the fitted-centroid IVF
    // probe at nprobe ∈ {1, 2, 4}, against the exact top-10. The
    // operational read-out for "how many cells must I probe": at
    // 100 TB the probe cost is nprobe/k of the corpus, and this curve
    // prices that knob with MEASURED recall, not hope. Rides the
    // memoized centroid fit; exact top-10 and the cell assignment are
    // lazily checkpointed and reused by all three arms.
    "similar_ivf_probe_curve" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val e = emb(s, dir)
      val cents = kmeansCentsOf(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
        .localCheckpoint(false) // 1 row, referenced by every arm
      val assigned = Similarity.assignToCentroids(e, "vec_id",
          "embedding", cents)
        .localCheckpoint(false) // three probe arms share the pass
      val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6)
            .as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .localCheckpoint(false) // 10 rows, reused by all arms
      Seq(1, 2, 4).map { np =>
        val qcells = cents.crossJoin(broadcast(q))
          .withColumn("qsim",
            Similarity.cosine(col("cvec"), col("qvec")))
          .orderBy(col("qsim").desc, col("cluster")).limit(np)
          .select("cluster")
        val ivf = assigned.join(broadcast(qcells), "cluster")
          .crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            round(Similarity.cosine(col("embedding"), col("qvec")), 6)
              .as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
        exact.join(ivf.select(col("vec_id"), lit(1).as("hit")),
            Seq("vec_id"), "left")
          .agg(count(lit(1)).as("k_exact"), count(col("hit")).as("n_hit"))
          .select(lit(np).as("nprobe"), col("k_exact"), col("n_hit"),
            t6(col("n_hit") / col("k_exact")).as("recall"))
      }.reduce(_ union _).orderBy("nprobe")
    }),

    // LSH band-count tuning forecast: for each (bands, rows) split of
    // the 16-hash minhash budget, the EXPECTED candidate volume and
    // expected recall of the ≥0.8 pairs, integrated over the MEASURED
    // jaccard distribution via the S-curve P(cand|s) = 1−(1−sʳ)ᵇ —
    // the number a dedup owner reads before re-banding a 100 TB index
    // (companion to dedup_threshold_curve, which prices the τ choice;
    // this prices the (b, r) choice). Four one-row aggregates over the
    // memoized pair table; every power is an EXPLICIT squaring chain
    // (s², s⁴, s⁸ …) so both engines evaluate the identical IEEE tree
    // — no libm pow anywhere; sums route through DECIMAL(38,18).
    "dedup_band_tuning" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec18 = org.apache.spark.sql.types.DecimalType(38, 18)
      val j = jaccardOf(s, dir)
      def sq(c: Column): Column = c * c
      def powChain(c: Column, e: Int): Column = e match {
        case 1 => c
        case n => sq(powChain(c, n / 2)) // n ∈ {2,4,8,16}
      }
      def pCand(b: Int, r: Int): Column =
        lit(1d) - powChain(lit(1d) - powChain(col("jaccard"), r), b)
      Seq((2, 8), (4, 4), (8, 2), (16, 1)).map { case (b, r) =>
        val p = pCand(b, r)
        j.agg(count(lit(1)).as("n_pairs"),
            sum(p.cast(dec18)).as("ec"),
            count(when(col("jaccard") >= 0.8, lit(1))).as("n_high"),
            sum(when(col("jaccard") >= 0.8, p).cast(dec18)).as("eh"))
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("n_pairs"),
            t6(col("ec").cast("double")).as("exp_candidates"),
            col("n_high"),
            when(col("n_high") > 0,
              t6(col("eh").cast("double") / col("n_high")))
              .as("exp_recall_high"))
      }.reduce(_ union _).orderBy("bands")
    }),

    // Hashed-linear quality scoring — the fastText-classifier SHAPE
    // (hash word → bucket, sum learned bucket weights, sigmoid) with
    // deterministic stand-in weights, since no model ships in this
    // environment: bucket = first 3 md5 nibbles (0..4095), weight =
    // (bucket − 2048)/2048. Weights are exact multiples of 2⁻¹¹ and
    // |Σ| < 2¹³, so the double sum is EXACT regardless of
    // accumulation order — no decimal routing needed for the score;
    // the sigmoid is one libm call on an identical double. One
    // word-grain projection + one map-side-combinable agg; swapping
    // in real trained weights = a broadcast join on `bucket`.
    "quality_linear_score" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val words = docs(s, dir)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
      val bucket = conv(substring(md5(col("w")), 1, 3), 16, 10)
        .cast("long")
      words
        .select(col("doc_id"),
          ((bucket - 2048).cast("double") / 2048d).as("wt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("wt")).as("score"))
        .select(col("doc_id"), col("n_words"), t6(col("score")).as("score"),
          t6(lit(1d) / (lit(1d) + exp(-col("score") / lit(8d))))
            .as("prob"),
          (col("score") > 0).as("keep"))
        .orderBy("doc_id")
    }),

    // Sequence-packing waste audit: for each candidate context length,
    // the chunk count and pad fraction if every doc is split into
    // ceil(tokens/ctx) chunks — the number a pipeline owner reads
    // before picking a context length. One narrow projection × a
    // broadcast 3-row length table, then a map-side-combinable agg.
    "corpus_pack_waste" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val toks = docs(s, dir)
        .select(size(split(col("text"), " ")).cast("long").as("toks"))
      val lens = toks.sparkSession.range(1)
        .select(explode(array(lit(512L), lit(1024L), lit(2048L)))
          .as("ctx_len"))
      toks.crossJoin(broadcast(lens))
        .withColumn("chunks",
          expr("(toks + ctx_len - 1) div ctx_len"))
        .groupBy("ctx_len")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
          sum(col("chunks")).as("n_chunks"))
        .select(col("ctx_len"), col("n_docs"), col("n_tokens"),
          col("n_chunks"),
          t6(lit(1d) - col("n_tokens").cast("double") /
            (col("n_chunks") * col("ctx_len"))).as("pad_frac"))
        .orderBy("ctx_len")
    }),

    // Per-source document-length distribution: exact p10/p50/p90 of
    // token counts plus mean — the packing/chunking input
    // corpus_pack_waste assumes (its pad fraction depends on THIS
    // shape), and the first histogram a curator reads per feed. One
    // narrow tokenize projection → one hash aggregate; exact
    // `percentile` (both engines interpolate the same order
    // statistics), mean through DECIMAL.
    "corpus_length_percentiles" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      docs(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks").cast(dec)).as("tsum"),
          percentile(col("toks"), lit(0.1)).as("p10"),
          percentile(col("toks"), lit(0.5)).as("p50"),
          percentile(col("toks"), lit(0.9)).as("p90"))
        .select(col("source"), col("n_docs"),
          t6(col("tsum").cast("double") / col("n_docs")).as("mean_toks"),
          t6(col("p10")).as("p10"), t6(col("p50")).as("p50"),
          t6(col("p90")).as("p90"))
        .orderBy("source")
    }),

    // Corpus-balance Gini: how unequally tokens (and docs) spread
    // across sources — the one-number imbalance summary next to
    // corpus_shard_balance's per-shard census. Sorted-rank formula
    // G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over the per-source totals; the
    // fact collapses to |sources| rows in one map-side-combinable agg,
    // and both ranks run as broadcast before-or-equal self-joins on
    // that tiny frame (the doc_zipf_alpha recipe — no global window).
    "corpus_source_gini" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      val t6 = TextStats.trunc6 _
      val per = docs(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks").cast(dec)).cast("long").as("n_toks"))
        .localCheckpoint(false) // one fact pass; both ranks read the stub
      val bt = broadcast(per.select(col("n_toks").as("b_toks"),
        col("source").as("b_src")))
      val rankTok = per.join(bt,
          col("b_toks") < col("n_toks") ||
            (col("b_toks") === col("n_toks") &&
              col("b_src") <= col("source")))
        .groupBy("source", "n_toks")
        .agg(count(lit(1)).as("rk"))
        .agg(count(lit(1)).as("n_sources"),
          sum(col("n_toks")).as("total_tokens"),
          sum(col("rk") * col("n_toks")).as("rx"))
        .select(col("n_sources"), col("total_tokens"),
          t6(lit(2.0) * col("rx") /
            (col("n_sources") * col("total_tokens")) -
            (col("n_sources") + lit(1.0)) / col("n_sources"))
            .as("gini_tokens"))
      val bd = broadcast(per.select(col("n_docs").as("b_docs"),
        col("source").as("b_src")))
      val rankDoc = per.join(bd,
          col("b_docs") < col("n_docs") ||
            (col("b_docs") === col("n_docs") &&
              col("b_src") <= col("source")))
        .groupBy("source", "n_docs")
        .agg(count(lit(1)).as("rk"))
        .agg(sum(col("n_docs")).as("total_docs"),
          sum(col("rk") * col("n_docs")).as("rx"),
          count(lit(1)).as("nn"))
        .select(col("total_docs"),
          t6(lit(2.0) * col("rx") / (col("nn") * col("total_docs")) -
            (col("nn") + lit(1.0)) / col("nn")).as("gini_docs"))
      rankTok.crossJoin(broadcast(rankDoc))
        .select(col("n_sources"), col("total_docs"), col("total_tokens"),
          col("gini_docs"), col("gini_tokens"))
    }),

    // Chi-square discriminative terms per source: which words are
    // statistically over-represented in each source's documents (2×2
    // doc-frequency contingency per word×source) — the classic feature
    // selection / domain-signature pass a mixture-aware pipeline runs
    // to characterize sources. The word×source census and the per-word
    // marginal are vocab-scale and join co-partitioned on `word`; the
    // per-source marginal and N broadcast. Top-5 per source via a
    // rank-filtered window that Spark pushes down as a map-side
    // WindowGroupLimit (the events_top_paths shape).
    "doc_chi2_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t6 = TextStats.trunc6 _
      val minDf = 5L
      val wdf = docs(s, dir)
        .select(col("source"),
          explode(array_distinct(split(col("text"), " "))).as("word"))
        .groupBy("word", "source").agg(count(lit(1)).as("a"))
        .localCheckpoint(false) // census feeds both the marginal + join
      val wt = wdf.groupBy("word").agg(sum(col("a")).as("wt"))
      val sd = docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("sd"))
        .localCheckpoint(false) // |sources| rows; N derives from it
      val nTot = sd.agg(sum(col("sd")).as("n_total"))
      val j = wdf.join(wt, "word").filter(col("wt") >= minDf)
        .join(broadcast(sd), "source")
        .crossJoin(broadcast(nTot))
      // every product routes through double BEFORE multiplying: the
      // 2x2 margins are corpus-scale, so long products would overflow
      // at 100 TB (the differences stay long — each is <= N, exact)
      val ad = col("a").cast("double") *
        (col("n_total") - col("wt") - col("sd") + col("a")).cast("double")
      val bc = (col("wt") - col("a")).cast("double") *
        (col("sd") - col("a")).cast("double")
      val chi2 = col("n_total").cast("double") * (ad - bc) * (ad - bc) /
        (col("wt").cast("double") *
          (col("n_total") - col("wt")).cast("double") *
          col("sd").cast("double") *
          (col("n_total") - col("sd")).cast("double"))
      val scored = j.select(col("source"), col("word"),
        col("a").as("df_in"), col("wt").as("df_total"),
        chi2.as("chi2_raw"))
      val w = Window.partitionBy("source")
        .orderBy(col("chi2_raw").desc, col("word"))
      scored.withColumn("term_rank", row_number().over(w))
        .filter(col("term_rank") <= 5)
        .select(col("source"), col("term_rank"), col("word"),
          col("df_in"), col("df_total"), t6(col("chi2_raw")).as("chi2"))
        .orderBy("source", "term_rank")
    }),

    // Quality-aware canonical selection: within each near-dup cluster,
    // keep the HIGHEST-QUALITY member (most words, ties to the lower
    // doc_id) instead of dedup_collapse's arbitrary min-id — the
    // selection rule a curation pipeline actually wants when near-dups
    // differ (one is truncated, one is clean). Reuses the memoized LSH
    // candidate graph; per-cluster argmax is ONE struct-max aggregate.
    "dedup_canonical_quality" -> ((s, dir) => {
      val members = Dedup.connectedComponents(candsOf(s, dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .join(docs(s, dir).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words")),
          "doc_id")
      members.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          min(col("doc_id")).as("canonical_naive"),
          max(struct(col("n_words").as("w"), (-col("doc_id")).as("ni")))
            .as("best"))
        .select(col("cluster_id"), col("n_members"),
          col("canonical_naive"),
          (-col("best.ni")).as("canonical_quality"),
          col("best.w").as("canonical_words"),
          (col("canonical_naive") =!= -col("best.ni")).as("differs"))
        .orderBy("cluster_id")
    }),

    // Cross-dimension correlation audit of the embedding space: the
    // top-10 |corr| off-diagonal pairs — highly correlated coordinates
    // mean the space wastes capacity and PQ/SQ codebooks train on
    // redundant axes (the check run before choosing a whitening / PCA
    // step). ONE corpus pass: a fixed-size TypedImperativeAggregate
    // ([[graft.expr.GramStats]]) folds per-dim moments AND the full
    // d(d−1)/2 Gram triangle into a constant ~55 KB buffer per task —
    // no posexplode, no d²-rows-per-vector materialization (the r11
    // formulation exploded 2,016 product rows per vector and was the
    // board's slowest key); the shuffle is one buffer per partition.
    "embedding_corr_audit" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dim = 64
      val e = emb(s, dir).select(col("embedding"))
      val g = e.agg(graft.expr.GramStats.gram_stats(col("embedding"), dim)
          .as("g"))
        .localCheckpoint(false) // 1 row; dims and cells both read it
      val dims = g.select(explode(col("g.dims")).as("t"))
        .select(col("t.d").as("d"), col("t.n").as("n"),
          col("t.sx").cast("double").as("sx"),
          col("t.sxx").cast("double").as("sxx"))
        .select(col("d"), col("n"), (col("sx") / col("n")).as("mu"),
          sqrt(greatest(col("sxx") / col("n") -
            (col("sx") / col("n")) * (col("sx") / col("n")), lit(0.0)))
            .as("sd"))
      val cells = g.select(explode(col("g.cells")).as("t"))
        .select(col("t.di").as("di"), col("t.dj").as("dj"),
          col("t.n_vecs").as("n_vecs"),
          col("t.sxy").cast("double").as("sxy"))
      val da = broadcast(dims.select(col("d").as("di"),
        col("mu").as("mu_i"), col("sd").as("sd_i")))
      val db = broadcast(dims.select(col("d").as("dj"),
        col("mu").as("mu_j"), col("sd").as("sd_j")))
      val cov = col("sxy") / col("n_vecs") - col("mu_i") * col("mu_j")
      val corr = when(col("sd_i") > 0 && col("sd_j") > 0,
        cov / (col("sd_i") * col("sd_j")))
      cells.join(da, "di").join(db, "dj")
        .select(col("di"), col("dj"), col("n_vecs"),
          t6(cov).as("cov"), t6(corr).as("corr"),
          abs(corr).as("__a"))
        .orderBy(col("__a").desc, col("di"), col("dj"))
        .limit(10)
        .drop("__a")
    }),

    // Tokens-per-word histogram of the trained BPE vocabulary (census
    // at 1/2/3/4/5+ tokens, word-type and occurrence-weighted shares)
    // — the "how much longer must training run / how big must the
    // vocab grow" readout next to bpe_fertility's per-language means.
    // Same train+encode chain as bpe_encode_count; the census is one
    // vocab-scale agg + broadcast totals.
    "bpe_token_length_hist" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val d = docs(s, dir)
      val words = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
      val merges = bpeMergesOf(s, dir) // fit memoized; see bpe_train_merges
      val hist = graft.ext.Bpe.encode(words, "w", merges)
        .select(least(col("n_tokens"), lit(5L)).as("token_len"),
          col("c"))
        .groupBy("token_len")
        .agg(count(lit(1)).as("n_words"), sum(col("c")).as("n_occ"))
        .localCheckpoint(false) // ≤5 rows; totals broadcast back
      val tot = broadcast(hist.agg(sum(col("n_words")).as("tw"),
        sum(col("n_occ")).as("to")))
      hist.crossJoin(tot)
        .select(col("token_len"), col("n_words"), col("n_occ"),
          t6(col("n_words").cast("double") / col("tw"))
            .as("word_share"),
          t6(col("n_occ").cast("double") / col("to")).as("occ_share"))
        .orderBy("token_len")
    }),

    // Unigram-LM (SentencePiece-style) tokenizer training — the OTHER
    // standard subword vocabulary learner beside BPE: substring-count
    // seed (chars + top-40), two EM iterations (Viterbi E-step as a
    // native O(L·P) DP with the score table riding as a bounded map
    // literal; exact-integer M-step with add-one smoothing), zero-usage
    // prune after the first. The oracle re-derives BOTH E-steps as
    // recursive-CTE dynamic programs with the tie-break composite
    // packed into one BIGINT — an independent derivation, not an echo.
    "unigram_train_vocab" -> ((s, dir) =>
      // the EM fit IS this key's declared computation → FRESH here
      // (r17 verdict ask #2); the encode key keeps the shared artifact
      unigramVocabBuild(s, dir).withColumnRenamed("usage", "n_usage")),

    // ENCODE with the trained unigram vocab — the apply half of the
    // unigram lifecycle, mirroring bpe_encode_count: the shipped
    // (piece, llq) artifact drives ONE narrow Viterbi projection over
    // the DISTINCT-word table (no join, no shuffle on the words side),
    // then per-word token counts join back onto per-doc word counts
    // for the corpus token budget. The word→tokens join is vocab-
    // scale, so no broadcast hint — AQE broadcasts when it fits.
    "unigram_encode_count" -> ((s, dir) => {
      val d = docs(s, dir)
      val words = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // encode's own tokenize, cut from the plan
      val wordTok = graft.ext.Unigram.encode(words, "w",
          unigramVocabOf(s, dir)) // fit memoized; shared with the train key
        .select(col("w"), col("n_tokens"))
      val docWords = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      docWords.join(wordTok, Seq("w"))
        .groupBy("doc_id")
        .agg(sum(col("n")).cast("long").as("n_words"),
          sum(col("n") * col("n_tokens")).cast("long").as("n_tokens_uni"))
        .orderBy("doc_id")
    }),

    // Quality-vs-quantity tradeoff curve: rank the corpus by the cheap
    // quality score, cut into global deciles, and report each decile's
    // token mass and mean quality plus the cumulative token share —
    // the "keep the top X%, lose how many tokens?" table every
    // curation budget decision reads. Global decile via bucketedRank
    // (fixed score grid — no single-task window over the corpus);
    // the cumulative share is a broadcast before-or-equal self-join on
    // the 10-row decile frame.
    "corpus_quality_tradeoff" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      val scored = TextStats.qualityColumns(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_words").cast("long").as("toks"),
          col("quality"), negate(col("quality")).as("negq"))
      val ranked = graft.operators.Quantiles.bucketedRank(
        scored, Seq.empty, "negq", "doc_id", range = Some((-1.0, 0.0)))
      val byDec = ranked
        .withColumn("decile", graft.operators.Quantiles
          .ntileFromRank(col("__rank"), col("__n"), 10))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("d_toks"),
          sum(col("quality").cast(dec)).as("qsum"))
        .localCheckpoint(false) // 10 rows; cum + total read the stub
      val bSide = broadcast(byDec.select(col("decile").as("b_dec"),
        col("d_toks").as("b_toks")))
      val tot = broadcast(byDec.agg(sum(col("d_toks")).as("t_toks")))
      byDec.join(bSide, col("b_dec") <= col("decile"))
        .groupBy("decile", "n_docs", "d_toks", "qsum")
        .agg(sum(col("b_toks")).as("cum_toks"))
        .crossJoin(tot)
        .select(col("decile"), col("n_docs"),
          t6(col("qsum").cast("double") / col("n_docs"))
            .as("mean_quality"),
          t6(col("d_toks").cast("double") / col("t_toks"))
            .as("token_share"),
          t6(col("cum_toks").cast("double") / col("t_toks"))
            .as("cum_token_share"))
        .orderBy("decile")
    }),

    // Robust per-source length outliers (median ± 3·1.4826·MAD): the
    // screen that catches truncated/concatenated ingestion defects a
    // mean±σ rule misses when the defect itself inflates σ. Both the
    // median and the MAD come from the pinned-shape interpByRank (the
    // engine-portable interpolation), each over the checkpointed token
    // frame; the flags are one final broadcast-join pass.
    "corpus_length_outliers" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val toks = docs(s, dir)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .localCheckpoint(false) // one tokenize; med, dev, flags share it
      val med = graft.operators.Quantiles.interpByRank(
        toks, Seq("source"), "toks", "doc_id", Seq(50))
        .select(col("source"), col("q50").as("med"))
      val dev = toks.join(broadcast(med), "source")
        .select(col("source"), col("doc_id"),
          abs(col("toks") - col("med")).as("d"))
      val mad = graft.operators.Quantiles.interpByRank(
        dev, Seq("source"), "d", "doc_id", Seq(50))
        .select(col("source"), col("q50").as("mad"))
      val cut = lit(3.0) * lit(1.4826)
      toks.join(broadcast(med), "source").join(broadcast(mad), "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          max(col("med")).as("med_raw"), max(col("mad")).as("mad_raw"),
          count(when(abs(col("toks") - col("med")) > cut * col("mad"),
            lit(1))).as("n_outliers"))
        .select(col("source"), col("n_docs"),
          t6(col("med_raw")).as("median_toks"),
          t6(col("mad_raw")).as("mad_toks"), col("n_outliers"),
          t6(col("n_outliers").cast("double") / col("n_docs"))
            .as("outlier_frac"))
        .orderBy("source")
    }),

    // Embedding drift by label: each label group's centroid norm and
    // its cosine to the global centroid — the model-monitoring readout
    // that catches a label subpopulation drifting away from the
    // training distribution. The per-(label, dim) moment sums come
    // from ONE grouped GramStats pass (diag mode) — a constant-size
    // O(d) buffer per label, exact scale-12 sums, no n×64 posexplode
    // row blow-up (the r13 ask #5 port; the corr-audit treatment,
    // label edition). The bounded labels×64 dims frame unrolls AFTER
    // the aggregate; the global centroid is a per-dim window over that
    // same bounded frame (exact decimal sums), so the corpus is
    // scanned exactly once and nothing re-aggregates it.
    "embedding_label_drift" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("pos")
      emb(s, dir)
        .groupBy("label")
        .agg(graft.expr.GramStats.gram_diag(col("embedding"), 64).as("g"))
        .select(col("label"), explode(col("g.dims")).as("d"))
        .select(col("label"), col("d.d").as("pos"), col("d.n").as("n"),
          col("d.sx").as("sx"))
        .select(col("label"), col("pos"), col("n"),
          (col("sx").cast("double") / col("n")).as("c"),
          (sum(col("sx")).over(w).cast("double") / sum(col("n")).over(w))
            .as("g"))
        .groupBy("label")
        .agg(max(col("n")).as("n_vecs"),
          sum((col("c") * col("c")).cast(d12)).cast("double").as("cc"),
          sum((col("g") * col("g")).cast(d12)).cast("double").as("gg"),
          sum((col("c") * col("g")).cast(d12)).cast("double").as("cg"))
        .select(col("label"), col("n_vecs"),
          t6(sqrt(col("cc"))).as("centroid_norm"),
          t6(when(col("cc") > 0 && col("gg") > 0,
            col("cg") / (sqrt(col("cc")) * sqrt(col("gg")))))
            .as("cos_to_global"))
        .orderBy("label")
    }),

    // PCM16 audio RMS/peak from synthesized WAV payloads — the DATA
    // PLANE companion of multimodal_av_meta (which reads only chunk
    // sizes): the sample words themselves are decoded and reduced by
    // one bounded fold. The WAV layout is real (a variable-length LIST
    // chunk precedes data, so the chunk walk must follow declared
    // sizes), samples are a deterministic function of doc_id (so the
    // oracle predicts the answer without parsing bytes), and every
    // 7th payload is truncated to exercise the null guards. Same
    // projection-barrier discipline as av_meta.
    "multimodal_audio_rms" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val nS = 64
      def le(c: Column, n: Int) = concat((0 until n).map(i =>
        unhex(lpad(hex(pmod(shiftright(c.cast("long"), 8 * i),
          lit(256))), 2, "0"))): _*)
      val sampleBytes = concat((0 until nS).map(i =>
        le(pmod(col("doc_id") * 31 + lit(i * 17), lit(4096)), 2)): _*)
      val padLen = (lit(10) + pmod(col("doc_id"), lit(7)) * 2).cast("int")
      val wav = concat(
        encode(lit("RIFF"), "UTF-8"), le(lit(1000L), 4),
        encode(lit("WAVE"), "UTF-8"),
        encode(lit("LIST"), "UTF-8"), le(padLen, 4),
        encode(repeat(lit("x"), padLen), "UTF-8"),
        encode(lit("fmt "), "UTF-8"), le(lit(16L), 4),
        le(lit(1L), 2), le(lit(1L), 2), le(lit(8000L), 4),
        le(lit(16000L), 4), le(lit(2L), 2), le(lit(16L), 2),
        encode(lit("data"), "UTF-8"), le(lit(nS * 2L), 4), sampleBytes)
      val payload = when(pmod(col("doc_id"), lit(7)) === 0,
        wav.substr(lit(1), lit(20))).otherwise(wav)
      docs(s, dir)
        .select(col("doc_id").as("media_id"), payload.as("payload"))
        // HARD plan cut between fixture synthesis and parsing (the r10
        // av_meta prescription): the fold references the payload many
        // times, and any optimizer merge would re-inline the whole
        // byte-synthesis tree per reference — interpreted per fold
        // step, that turned a seconds-pass into a 17-minute one
        .localCheckpoint(false)
        .select(col("media_id"),
          Multimodal.audioRms(col("payload")).as("a"))
        .select(col("media_id"),
          col("a.n_samples").as("n_samples"),
          t6(sqrt(col("a.sum_sq").cast("double") / col("a.n_samples")))
            .as("rms"),
          col("a.peak").as("peak"))
        .orderBy("media_id")
    }),

    // Duplication × quality cross-census: are near-dups lower quality
    // than unique docs? (If yes, dedup doubles as a quality filter and
    // the curation order matters.) Joins the memoized LSH components
    // against the shared rule bundle; output is a 2×2 census with
    // within-group and overall shares.
    "dedup_quality_cross" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val dupIds = Dedup.connectedComponents(candsOf(s, dir))
        .select(col("id").as("doc_id")).distinct()
        .withColumn("isd", lit(true))
      val q = graft.ext.Pipeline.qualityRules(docs(s, dir), "text")
        .select(col("doc_id"), col("pass").as("q_pass"))
      val cls = q.join(dupIds, Seq("doc_id"), "left")
        .select(col("q_pass"),
          coalesce(col("isd"), lit(false)).as("is_dup"))
        .groupBy("is_dup", "q_pass").agg(count(lit(1)).as("n_docs"))
        .localCheckpoint(false) // 4 rows; group + overall totals share
      val gt = cls.groupBy("is_dup").agg(sum(col("n_docs")).as("gn"))
      val tot = broadcast(cls.agg(sum(col("n_docs")).as("tn")))
      cls.join(broadcast(gt), "is_dup").crossJoin(tot)
        .select(col("is_dup"), col("q_pass"), col("n_docs"),
          t6(col("n_docs").cast("double") / col("gn")).as("group_share"),
          t6(col("n_docs").cast("double") / col("tn"))
            .as("overall_share"))
        .orderBy("is_dup", "q_pass")
    }),

    // Language mix per source: distribution entropy + majority-lang
    // share — the multilingual-balance census a mixture-aware sampler
    // reads next to corpus_source_gini. One (source, lang) agg (grain
    // bounded by sources × langs); the majority pick is a rank-1
    // window over that bounded table, entropy terms DECIMAL-routed.
    "corpus_lang_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t6 = TextStats.trunc6 _
      val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val g = docs(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false) // bounded census; totals + rank share
      val tot = g.groupBy("source").agg(sum(col("n")).as("sn"))
      val j = g.join(broadcast(tot), "source")
        .withColumn("p", col("n").cast("double") / col("sn"))
      val w = Window.partitionBy("source")
        .orderBy(col("n").desc, col("lang"))
      j.withColumn("rk", row_number().over(w))
        .groupBy("source")
        .agg(max(col("sn")).as("n_docs"),
          count(lit(1)).as("n_langs"),
          max(when(col("rk") === 1, col("lang"))).as("majority_lang"),
          max(when(col("rk") === 1, col("p"))).as("mp"),
          sum((-col("p") * log(col("p"))).cast(d12)).cast("double")
            .as("h"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("majority_lang"), t6(col("mp")).as("majority_share"),
          t6(col("h")).as("lang_entropy"))
        .orderBy("source")
    }),

    // Within-source redundancy: the expected pairwise Jaccard of two
    // random docs in a source, ESTIMATED from the shared MinHash index
    // (for one hash, P[collision] = E[Jaccard]; averaging the 8 hashes'
    // collision rates gives the estimator) — the "how much of this
    // source is self-similar filler" diversity readout, priced at one
    // re-aggregation of the memoized signature table instead of any
    // pair join. Collision mass Σc(c−1) per (source, hash, value) is
    // exact integer arithmetic.
    "corpus_source_diversity" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      val joined = minhashOf(s, dir).join(src, "doc_id")
        .localCheckpoint(false) // signature join once; census + n share
      val longSig = joined.select(col("source"),
        explode(array((0 until NumHashes).map(h =>
          struct(lit(h).as("h"), col(s"mh$h").as("v"))): _*)).as("e"))
        .select(col("source"), col("e.h").as("h"), col("e.v").as("v"))
      val cc = longSig.groupBy("source", "h", "v")
        .agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c") * (col("c") - 1)).as("tcc"))
      val n = joined.groupBy("source").agg(count(lit(1)).as("nd"))
      cc.join(broadcast(n), "source")
        .select(col("source"), col("nd").as("n_docs_sig"),
          t6(when(col("nd") > 1, col("tcc").cast("double") /
            (lit(NumHashes.toDouble) * col("nd") * (col("nd") - 1))))
            .as("est_pairwise_jaccard"))
        .orderBy("source")
    }),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    // algorithm): hash every 5-word gram, then in each sliding window
    // of 4 gram hashes keep the RIGHTMOST MINIMUM — the selection with
    // the guarantee that any match of ≥ w+k−1 words shares a
    // fingerprint, at expected density 2/(w+1). The document-
    // fingerprinting scheme plagiarism/near-dup indexes actually
    // deploy (doc_fingerprint's rolling hash has no window guarantee).
    // Per-row array lambdas only; the gram array is checkpointed so
    // the fingerprint fold reads an attribute, never a re-synthesized
    // tree (the audio_rms lesson).
    "doc_winnowing" -> ((s, dir) => {
      val t6 = TextStats.trunc6 _
      val w = 4
      // ONE native pass per row (expr/Winnow.scala): k-gram md5
      // prefixes + the rightmost-min w-window selection + distinct
      // selected positions, as a flat byte loop. Values identical to
      // the composable transform/aggregate-fold formulation (the
      // distinct "hash:pos" census equals the distinct selected
      // positions — pos determines its hash; WinnowSpec pins the
      // equivalence, the DuckDB oracle pins the numbers), but the
      // interpreted per-element HOF dispatch — the board's #2 steady
      // cost at sf0.1 — is gone. NULL = fewer than w grams (the old
      // size(g) >= w pre-filter).
      val base = docs(s, dir)
        .select(col("doc_id"),
          graft.expr.Winnow.winnow_stats(col("text"), 5, w).as("ws"))
        .filter(col("ws").isNotNull)
        .localCheckpoint(false) // one eval; both field reads are attrs
      base
        .select(col("doc_id"), col("ws.n_grams").as("n_grams"),
          (col("ws.n_grams") - lit(w - 1)).as("n_windows"),
          col("ws.n_fingerprints").as("n_fingerprints"),
          t6(col("ws.n_fingerprints").cast("double") /
            (col("ws.n_grams") - lit(w - 1))).as("density"))
        .orderBy("doc_id")
    }),

    // Near-dup cluster size histogram: how duplication mass distributes
    // across cluster sizes (many pairs vs few giant clusters decides
    // whether collapse or per-cluster sampling is the right removal
    // strategy). One agg over the memoized components; output is
    // bounded by the largest cluster size.
    "dedup_cluster_stats" -> ((s, dir) => {
      Dedup.connectedComponents(candsOf(s, dir))
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          col("n_docs").cast("long").as("n_docs"),
          (col("n_docs") - col("n_clusters")).cast("long")
            .as("n_removable"))
        .orderBy("cluster_size")
    }),
  )

  // ---- oracles -------------------------------------------------------

  def oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS content_hash,
        |  min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY content_hash ORDER BY doc_id""".stripMargin,

    "similar_batch_ann" ->
      s"""WITH sigs AS (
         |  SELECT vec_id, embedding, ${lshSql("embedding")} AS sig
         |  FROM embeddings
         |), qs AS (
         |  SELECT vec_id AS q_id, embedding AS qvec, sig FROM sigs
         |  WHERE vec_id < 8
         |), cands AS (
         |  SELECT q.q_id, s.vec_id,
         |    round(${cosineSql("s.embedding", "q.qvec")}, 6) AS sim
         |  FROM sigs s JOIN qs q ON s.sig = q.sig AND s.vec_id <> q.q_id
         |), ranked AS (
         |  SELECT q_id, vec_id, sim,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY sim DESC, vec_id) AS rank
         |  FROM cands
         |)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, sim
         |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    "dedup_stats_by_source" ->
      s"""$ShingleCtes, h AS (
         |  SELECT doc_id, source, md5(lower(trim(text))) AS ch
         |  FROM documents
         |), gn AS (
         |  SELECT ch, count(*) AS n FROM h GROUP BY ch
         |), near AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT a_id AS doc_id FROM cand
         |    UNION ALL
         |    SELECT b_id AS doc_id FROM cand)
         |)
         |SELECT h.source, count(*) AS n_docs,
         |  count(CASE WHEN gn.n > 1 THEN 1 END) AS n_exact_dup,
         |  count(near.doc_id) AS n_near_cand
         |FROM h
         |JOIN gn USING (ch)
         |LEFT JOIN near USING (doc_id)
         |GROUP BY h.source ORDER BY h.source""".stripMargin,

    "graph_pagerank" -> {
      val sc = graft.operators.Graph.Scale
      def iter(i: Int, prev: String) =
        s"""c$i AS (
           |  SELECT e.dst AS doc_id, CAST(sum(r.r // od.outd) AS BIGINT) AS s
           |  FROM e
           |  JOIN $prev r ON r.doc_id = e.src
           |  JOIN od ON od.src = e.src
           |  GROUP BY e.dst
           |), r$i AS (
           |  SELECT d.doc_id,
           |    ($sc * 15) // (100 * (SELECT n FROM nn))
           |      + (coalesce(c$i.s, 0) * 85) // 100 AS r
           |  FROM documents d LEFT JOIN c$i USING (doc_id)
           |)""".stripMargin
      s"""$ShingleCtes, e AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION ALL
         |  SELECT b_id AS src, a_id AS dst FROM cand
         |), nn AS (SELECT count(*) AS n FROM documents
         |), od AS (SELECT src, count(*) AS outd FROM e GROUP BY src
         |), r0 AS (
         |  SELECT doc_id, $sc // (SELECT n FROM nn) AS r
         |  FROM documents
         |), ${iter(1, "r0")}, ${iter(2, "r1")}
         |SELECT doc_id, CAST(r AS BIGINT) AS rank_fp,
         |  CAST(r AS DOUBLE) / CAST($sc AS DOUBLE) AS rank
         |FROM r2 ORDER BY doc_id""".stripMargin
    },

    "bpe_train_merges" -> {
      // one (pairs → best → next segmentation) block per unrolled step
      val stepCtes = (1 to 3).map { i =>
        s"""p$i AS (
           |  SELECT sy[i] AS s1, sy[i+1] AS s2, CAST(sum(c) AS BIGINT) AS pc
           |  FROM (SELECT c, string_split(seg, ' ') AS sy FROM seg$i) q,
           |       unnest(range(1, len(sy))) AS t(i)
           |  GROUP BY s1, s2
           |), b$i AS (
           |  SELECT s1, s2, pc,
           |    '·' || replace(s1, '·', '') || replace(s2, '·', '') || '·' AS m
           |  FROM p$i ORDER BY pc DESC, s1, s2 LIMIT 1
           |), seg${i + 1} AS (
           |  SELECT c, replace(seg, (SELECT s1 || ' ' || s2 FROM b$i),
           |                    (SELECT m FROM b$i)) AS seg
           |  FROM seg$i
           |)""".stripMargin
      }.mkString(", ")
      val unionAll = (1 to 3).map { i =>
        s"""SELECT $i AS step, s1 AS left_sym, s2 AS right_sym,
           |       m AS merged, pc AS pair_count FROM b$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH words AS (
         |  SELECT w, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY w
         |), seg1 AS (
         |  SELECT c, array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> '·' || w[i] || '·'), ' ') AS seg
         |  FROM words
         |), $stepCtes
         |$unionAll
         |ORDER BY step""".stripMargin
    },

    "bpe_encode_count" -> {
      // the training chain again, but carrying the word through the
      // segmentation CTEs so the final segmentation encodes the vocab
      val stepCtes = (1 to 3).map { i =>
        s"""p$i AS (
           |  SELECT sy[i] AS s1, sy[i+1] AS s2, CAST(sum(c) AS BIGINT) AS pc
           |  FROM (SELECT c, string_split(seg, ' ') AS sy FROM seg$i) q,
           |       unnest(range(1, len(sy))) AS t(i)
           |  GROUP BY s1, s2
           |), b$i AS (
           |  SELECT s1, s2, pc,
           |    '·' || replace(s1, '·', '') || replace(s2, '·', '') || '·' AS m
           |  FROM p$i ORDER BY pc DESC, s1, s2 LIMIT 1
           |), seg${i + 1} AS (
           |  SELECT w, c, replace(seg, (SELECT s1 || ' ' || s2 FROM b$i),
           |                       (SELECT m FROM b$i)) AS seg
           |  FROM seg$i
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH words AS (
         |  SELECT w, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY w
         |), seg1 AS (
         |  SELECT w, c, array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> '·' || w[i] || '·'), ' ') AS seg
         |  FROM words
         |), $stepCtes, wt AS (
         |  SELECT w, len(string_split(seg, ' ')) AS t FROM seg4
         |), dw AS (
         |  SELECT doc_id, w, count(*) AS n FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE length(w) > 0 GROUP BY doc_id, w
         |)
         |SELECT dw.doc_id,
         |  CAST(sum(dw.n) AS BIGINT) AS n_words,
         |  CAST(sum(dw.n * wt.t) AS BIGINT) AS n_tokens_bpe
         |FROM dw JOIN wt USING (w)
         |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
    },

    "bpe_fertility" -> {
      // same train+encode chain as bpe_encode_count, rolled up to the
      // language grain with char totals
      val stepCtes = (1 to 3).map { i =>
        s"""p$i AS (
           |  SELECT sy[i] AS s1, sy[i+1] AS s2, CAST(sum(c) AS BIGINT) AS pc
           |  FROM (SELECT c, string_split(seg, ' ') AS sy FROM seg$i) q,
           |       unnest(range(1, len(sy))) AS t(i)
           |  GROUP BY s1, s2
           |), b$i AS (
           |  SELECT s1, s2, pc,
           |    '·' || replace(s1, '·', '') || replace(s2, '·', '') || '·' AS m
           |  FROM p$i ORDER BY pc DESC, s1, s2 LIMIT 1
           |), seg${i + 1} AS (
           |  SELECT w, c, replace(seg, (SELECT s1 || ' ' || s2 FROM b$i),
           |                       (SELECT m FROM b$i)) AS seg
           |  FROM seg$i
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH words AS (
         |  SELECT w, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY w
         |), seg1 AS (
         |  SELECT w, c, array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> '·' || w[i] || '·'), ' ') AS seg
         |  FROM words
         |), $stepCtes, wt AS (
         |  SELECT w, len(string_split(seg, ' ')) AS t FROM seg4
         |), lw AS (
         |  SELECT lang, w, count(*) AS n FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE length(w) > 0 GROUP BY lang, w
         |), g AS (
         |  SELECT lang,
         |    CAST(sum(lw.n) AS BIGINT) AS n_words,
         |    CAST(sum(lw.n * wt.t) AS BIGINT) AS n_tokens_bpe,
         |    CAST(sum(lw.n * length(lw.w)) AS BIGINT) AS n_chars
         |  FROM lw JOIN wt USING (w) GROUP BY lang
         |)
         |SELECT lang, n_words, n_tokens_bpe,
         |  floor(CAST(n_tokens_bpe AS DOUBLE) / n_words * 1000000) / 1000000
         |    AS fertility,
         |  floor(CAST(n_chars AS DOUBLE) / n_tokens_bpe * 1000000) / 1000000
         |    AS chars_per_token
         |FROM g ORDER BY lang""".stripMargin
    },

    "unigram_train_vocab" ->
      s"""$unigramTrainCtesSql
         |SELECT piece, CAST(n_usage AS BIGINT) AS n_usage,
         |  CAST(floor(1e6 * ln(CAST(n_usage + 1 AS DOUBLE) /
         |    (SELECT CAST(t AS DOUBLE) FROM tot3))) AS BIGINT) AS llq
         |FROM outv ORDER BY piece""".stripMargin,

    "unigram_encode_count" -> {
      // the training chain again, then the shipped-score E-step; the
      // per-word token counts join back onto per-doc word counts
      s"""$unigramEncodeCtesSql, dw AS (
         |  SELECT doc_id, w, count(*) AS n FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE length(w) > 0 GROUP BY doc_id, w
         |)
         |SELECT dw.doc_id,
         |  CAST(sum(dw.n) AS BIGINT) AS n_words,
         |  CAST(sum(dw.n * wt.t) AS BIGINT) AS n_tokens_uni
         |FROM dw JOIN wt USING (w)
         |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
    },

    "unigram_fertility" -> {
      // the encode chain rolled up per language — the bpe_fertility
      // readout under the unigram vocab
      s"""$unigramEncodeCtesSql, lw AS (
         |  SELECT lang, w, count(*) AS n FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE length(w) > 0 GROUP BY lang, w
         |), g AS (
         |  SELECT lang,
         |    CAST(sum(lw.n) AS BIGINT) AS n_words,
         |    CAST(sum(lw.n * wt.t) AS BIGINT) AS n_tokens_uni,
         |    CAST(sum(lw.n * length(lw.w)) AS BIGINT) AS n_chars
         |  FROM lw JOIN wt USING (w) GROUP BY lang
         |)
         |SELECT lang, n_words, n_tokens_uni,
         |  floor(CAST(n_tokens_uni AS DOUBLE) / n_words * 1000000) / 1000000
         |    AS fertility,
         |  floor(CAST(n_chars AS DOUBLE) / n_tokens_uni * 1000000) / 1000000
         |    AS chars_per_token
         |FROM g ORDER BY lang""".stripMargin
    },

    "dedup_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS content_hash
        |  FROM documents WHERE doc_id % 7 = 3
        |), ci AS (
        |  SELECT md5(lower(trim(text))) AS content_hash,
        |         min(doc_id) AS corpus_id
        |  FROM documents WHERE doc_id % 7 <> 3 GROUP BY content_hash
        |), bf AS (
        |  SELECT content_hash, min(doc_id) AS batch_first
        |  FROM batch GROUP BY content_hash
        |)
        |SELECT b.doc_id, b.content_hash,
        |  CASE WHEN ci.corpus_id IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN bf.batch_first < b.doc_id THEN 'dup_in_batch'
        |       ELSE 'new' END AS verdict,
        |  CASE WHEN ci.corpus_id IS NOT NULL THEN ci.corpus_id
        |       WHEN bf.batch_first < b.doc_id THEN bf.batch_first
        |       ELSE b.doc_id END AS canonical_id
        |FROM batch b
        |JOIN bf USING (content_hash)
        |LEFT JOIN ci USING (content_hash)
        |ORDER BY b.doc_id""".stripMargin,

    // independent formulation (window-min over the batch, not the
    // bf-join the dedup_incremental oracle uses) — the engine-side
    // result must nonetheless equal dedup_incremental's exactly, since
    // the ingested store's corpus is the same % 7 <> 3 slice
    "docstore_ingest_dedup" ->
      """WITH b AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS content_hash,
        |    min(doc_id) OVER (PARTITION BY md5(lower(trim(text))))
        |      AS batch_first
        |  FROM documents WHERE doc_id % 7 = 3
        |), cm AS (
        |  SELECT md5(lower(trim(text))) AS content_hash,
        |    min(doc_id) AS cid
        |  FROM documents WHERE doc_id % 7 <> 3
        |  GROUP BY 1
        |)
        |SELECT b.doc_id, b.content_hash,
        |  CASE WHEN cm.cid IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN b.batch_first < b.doc_id THEN 'dup_in_batch'
        |       ELSE 'new' END AS verdict,
        |  CASE WHEN cm.cid IS NOT NULL THEN cm.cid
        |       WHEN b.batch_first < b.doc_id THEN b.batch_first
        |       ELSE b.doc_id END AS canonical_id
        |FROM b LEFT JOIN cm USING (content_hash)
        |ORDER BY b.doc_id""".stripMargin,

    "docstore_delete_dedup" ->
      """WITH b AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS content_hash,
        |    min(doc_id) OVER (PARTITION BY md5(lower(trim(text))))
        |      AS batch_first
        |  FROM documents WHERE doc_id % 7 = 3
        |), cm AS (
        |  SELECT md5(lower(trim(text))) AS content_hash,
        |    min(doc_id) AS cid
        |  FROM documents WHERE doc_id % 7 <> 3 AND doc_id % 7 <> 6
        |  GROUP BY 1
        |)
        |SELECT b.doc_id, b.content_hash,
        |  CASE WHEN cm.cid IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN b.batch_first < b.doc_id THEN 'dup_in_batch'
        |       ELSE 'new' END AS verdict,
        |  CASE WHEN cm.cid IS NOT NULL THEN cm.cid
        |       WHEN b.batch_first < b.doc_id THEN b.batch_first
        |       ELSE b.doc_id END AS canonical_id
        |FROM b LEFT JOIN cm USING (content_hash)
        |ORDER BY b.doc_id""".stripMargin,

    "dedup_incremental_near" ->
      s"""$ShingleCtes, bb AS (
         |  SELECT doc_id, band, band_key FROM bd WHERE doc_id % 7 = 3
         |), cb AS (
         |  SELECT doc_id AS corpus_id, band, band_key FROM bd
         |  WHERE doc_id % 7 <> 3
         |), ch AS (
         |  SELECT b.doc_id, min(c.corpus_id) AS corpus_nn
         |  FROM bb b JOIN cb c USING (band, band_key) GROUP BY b.doc_id
         |), bh AS (
         |  SELECT b2.doc_id, min(b1.doc_id) AS batch_first
         |  FROM bb b1 JOIN bb b2 USING (band, band_key)
         |  WHERE b1.doc_id < b2.doc_id GROUP BY b2.doc_id
         |)
         |SELECT d.doc_id,
         |  CASE WHEN ch.corpus_nn IS NOT NULL THEN 'near_dup_of_corpus'
         |       WHEN bh.batch_first IS NOT NULL THEN 'near_dup_in_batch'
         |       ELSE 'new' END AS verdict,
         |  coalesce(ch.corpus_nn, bh.batch_first, d.doc_id) AS canonical_id
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) d
         |LEFT JOIN ch USING (doc_id)
         |LEFT JOIN bh USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "similar_sq_recall" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), ex AS (
         |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM corp, unnest(range(1, len(embedding) + 1)) AS t(i)
         |), rg AS (
         |  SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i
         |), rec AS (
         |  SELECT vec_id, list(CASE WHEN mx > mn THEN
         |      mn + ((least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
         |              floor(((v - mn) / (mx - mn)) * 255))) + 0.5)
         |            / 256.0) * (mx - mn)
         |    ELSE mn END ORDER BY i) AS rvec
         |  FROM ex JOIN rg USING (i) GROUP BY vec_id
         |), coarse AS (
         |  SELECT vec_id, round(${cosineSql("rvec", "qvec")}, 6) AS sim_sq
         |  FROM rec CROSS JOIN q
         |  ORDER BY sim_sq DESC, vec_id LIMIT 20
         |), exact AS (
         |  SELECT vec_id, round(${cosineSql("embedding", "qvec")}, 6) AS sim
         |  FROM corp CROSS JOIN q
         |  ORDER BY sim DESC, vec_id LIMIT 5
         |)
         |SELECT count(*) AS k_exact,
         |  count(c.sim_sq) AS n_in_coarse,
         |  floor((count(c.sim_sq) / count(*)) * 1000000) / 1000000 AS recall
         |FROM exact e LEFT JOIN coarse c USING (vec_id)""".stripMargin,

    "similar_pq_topk" ->
      s"""$PqCoarseCtes
         |SELECT c.vec_id, c.sim_pq,
         |  round(${cosineSql("n.raw", "q.raw")}, 6) AS sim
         |FROM (SELECT vec_id, sim_pq FROM adcsum
         |      ORDER BY sim_pq DESC, vec_id LIMIT 20) c
         |JOIN nv n USING (vec_id) CROSS JOIN qn q
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "similar_ivfpq_topk" -> {
      val prior =
        s"""cents AS (
           |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
           |  WHERE vec_id < 8
           |), q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |assign AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cosineSql("e.embedding", "c.cvec")} DESC, c.cent_id) AS rn
           |    FROM embeddings e CROSS JOIN cents c) t
           |  WHERE rn = 1
           |), qcells AS (
           |  SELECT cent_id AS cell FROM cents CROSS JOIN q
           |  ORDER BY ${cosineSql("cvec", "qvec")} DESC, cent_id LIMIT 2
           |)""".stripMargin
      val probedSrc = "SELECT a.vec_id, a.embedding FROM assign a " +
        "JOIN qcells ON a.cell = qcells.cell WHERE a.vec_id <> 0"
      s"""${pqCoarseCtes(prior, probedSrc)}
         |SELECT c.vec_id, c.sim_pq,
         |  round(${cosineSql("n.raw", "qn.raw")}, 6) AS sim
         |FROM (SELECT vec_id, sim_pq FROM adcsum
         |      ORDER BY sim_pq DESC, vec_id LIMIT 20) c
         |JOIN nv n USING (vec_id) CROSS JOIN qn
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
    },

    "similar_pq_recall" ->
      s"""$PqCoarseCtes, coarse AS (
         |  SELECT vec_id, sim_pq FROM adcsum
         |  ORDER BY sim_pq DESC, vec_id LIMIT 20
         |), exact AS (
         |  SELECT n.vec_id, round(${cosineSql("n.raw", "q.raw")}, 6) AS sim
         |  FROM nv n CROSS JOIN qn q
         |  ORDER BY sim DESC, vec_id LIMIT 5
         |)
         |SELECT count(*) AS k_exact, count(c.sim_pq) AS n_in_coarse,
         |  floor((count(c.sim_pq) / count(*)) * 1000000) / 1000000 AS recall
         |FROM exact e LEFT JOIN coarse c USING (vec_id)""".stripMargin,

    "similar_rp_topk" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), prj AS (
         |  SELECT vec_id, ${rpSql("embedding")} AS rvec FROM corp
         |), qp AS (
         |  SELECT ${rpSql("qvec")} AS qproj FROM q
         |), coarse AS (
         |  SELECT vec_id, round(${cosineSql("rvec", "qproj")}, 6) AS sim_rp
         |  FROM prj CROSS JOIN qp
         |  ORDER BY sim_rp DESC, vec_id LIMIT 20
         |)
         |SELECT c.vec_id, c.sim_rp,
         |  round(${cosineSql("embedding", "qvec")}, 6) AS sim
         |FROM coarse c JOIN corp USING (vec_id) CROSS JOIN q
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "similar_rp_recall" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), prj AS (
         |  SELECT vec_id, ${rpSql("embedding")} AS rvec FROM corp
         |), qp AS (
         |  SELECT ${rpSql("qvec")} AS qproj FROM q
         |), coarse AS (
         |  SELECT vec_id, round(${cosineSql("rvec", "qproj")}, 6) AS sim_rp
         |  FROM prj CROSS JOIN qp
         |  ORDER BY sim_rp DESC, vec_id LIMIT 20
         |), exact AS (
         |  SELECT vec_id, round(${cosineSql("embedding", "qvec")}, 6) AS sim
         |  FROM corp CROSS JOIN q
         |  ORDER BY sim DESC, vec_id LIMIT 5
         |)
         |SELECT count(*) AS k_exact,
         |  count(c.sim_rp) AS n_in_coarse,
         |  floor((count(c.sim_rp) / count(*)) * 1000000) / 1000000 AS recall
         |FROM exact e LEFT JOIN coarse c USING (vec_id)""".stripMargin,

    "similar_rp_sq_topk" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), prj AS (
         |  SELECT vec_id, ${rpSql("embedding")} AS pvec FROM corp
         |), qp AS (
         |  SELECT ${rpSql("qvec")} AS pq FROM q
         |), ex AS (
         |  SELECT vec_id, i, CAST(pvec[i] AS DOUBLE) AS v
         |  FROM prj, unnest(range(1, len(pvec) + 1)) AS t(i)
         |), rg AS (
         |  SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i
         |), rec AS (
         |  SELECT vec_id, list(CASE WHEN mx > mn THEN
         |      mn + ((least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
         |              floor(((v - mn) / (mx - mn)) * 255))) + 0.5)
         |            / 256.0) * (mx - mn)
         |    ELSE mn END ORDER BY i) AS rvec
         |  FROM ex JOIN rg USING (i) GROUP BY vec_id
         |), coarse AS (
         |  SELECT vec_id, round(${cosineSql("rvec", "pq")}, 6) AS sim_rpsq
         |  FROM rec CROSS JOIN qp
         |  ORDER BY sim_rpsq DESC, vec_id LIMIT 20
         |)
         |SELECT c.vec_id, c.sim_rpsq,
         |  round(${cosineSql("embedding", "qvec")}, 6) AS sim
         |FROM coarse c JOIN corp USING (vec_id) CROSS JOIN q
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "dedup_span_ngram" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 6),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |           w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
        |           w[i+6] || ' ' || w[i+7])) AS gram
        |  FROM w WHERE len(w) >= 8
        |), pos AS (
        |  SELECT doc_id, gram, count(*) AS positions
        |  FROM g GROUP BY doc_id, gram
        |), dupg AS (
        |  SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2
        |), dup AS (
        |  SELECT doc_id, CAST(sum(positions) AS BIGINT) AS n_dup
        |  FROM pos JOIN dupg USING (gram) GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, CAST(sum(positions) AS BIGINT) AS n_grams
        |  FROM pos GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(t.n_grams, 0) AS n_grams,
        |  coalesce(u.n_dup, 0) AS n_dup_grams,
        |  CASE WHEN t.n_grams IS NOT NULL THEN
        |    floor(coalesce(u.n_dup, 0) / t.n_grams * 1000000) / 1000000
        |  END AS dup_frac,
        |  (t.n_grams IS NULL OR
        |   floor(coalesce(u.n_dup, 0) / t.n_grams * 1000000) / 1000000 <= 0.5)
        |    AS keep
        |FROM documents d
        |LEFT JOIN tot t USING (doc_id)
        |LEFT JOIN dup u USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_substring_runs" -> {
      val leads = (1 until 8).map(j => s"lead(word, $j) OVER win").mkString(",\n        |      ")
      s"""WITH pos0 AS (
         |  SELECT doc_id, u['i'] - 1 AS i, u['word'] AS word
         |  FROM (SELECT doc_id,
         |      unnest(list_transform(range(1, len(ws) + 1),
         |        i -> {'i': i, 'word': ws[i]})) AS u
         |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |          FROM documents))
         |), pos AS (
         |  SELECT doc_id, i, word,
         |    CAST(coalesce(sum(len(word) + 1) OVER (PARTITION BY doc_id
         |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) AS start_char
         |  FROM pos0
         |), g AS (
         |  SELECT doc_id, i, start_char,
         |    concat_ws(' ', word,
         |      $leads) AS gram,
         |    lead(start_char, 7) OVER win
         |      + len(lead(word, 7) OVER win) AS end_char
         |  FROM pos WINDOW win AS (PARTITION BY doc_id ORDER BY i)
         |), gg AS (
         |  SELECT doc_id, i, start_char, end_char, gram
         |  FROM g WHERE end_char IS NOT NULL
         |), dupg AS (
         |  SELECT gram FROM gg GROUP BY gram HAVING count(*) >= 2
         |), dpos AS (
         |  SELECT doc_id, i, start_char, end_char,
         |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) = 1
         |         THEN 0 ELSE 1 END AS newrun
         |  FROM gg JOIN dupg USING (gram)
         |), runs AS (
         |  SELECT doc_id, i, start_char, end_char,
         |    sum(newrun) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
         |  FROM dpos
         |)
         |SELECT doc_id, CAST(min(i) AS BIGINT) AS start_word,
         |  CAST(max(i) - min(i) + 8 AS BIGINT) AS run_words,
         |  CAST(min(start_char) AS BIGINT) AS start_char,
         |  CAST(max(end_char) AS BIGINT) AS end_char
         |FROM runs GROUP BY doc_id, run_id
         |HAVING max(i) - min(i) + 8 >= 20
         |ORDER BY doc_id, start_word""".stripMargin
    },

    "similar_sq_int8" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), ex AS (
         |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM corp, unnest(range(1, len(embedding) + 1)) AS t(i)
         |), rg AS (
         |  SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i
         |), rec AS (
         |  SELECT vec_id, list(CASE WHEN mx > mn THEN
         |      mn + ((least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
         |              floor(((v - mn) / (mx - mn)) * 255))) + 0.5)
         |            / 256.0) * (mx - mn)
         |    ELSE mn END ORDER BY i) AS rvec
         |  FROM ex JOIN rg USING (i) GROUP BY vec_id
         |), coarse AS (
         |  SELECT vec_id, round(${cosineSql("rvec", "qvec")}, 6) AS sim_sq
         |  FROM rec CROSS JOIN q
         |  ORDER BY sim_sq DESC, vec_id LIMIT 20
         |)
         |SELECT c.vec_id, c.sim_sq,
         |  round(${cosineSql("e.embedding", "qvec")}, 6) AS sim
         |FROM coarse c JOIN corp e USING (vec_id) CROSS JOIN q
         |ORDER BY sim DESC, c.vec_id LIMIT 5""".stripMargin,

    "dedup_near_minhash" ->
      s"""$ShingleCtes SELECT a_id, b_id FROM cand ORDER BY a_id, b_id""",

    "dedup_ngram_jaccard" ->
      s"""$ShingleCtes, sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id
         |)
         |SELECT i.a_id, i.b_id,
         |  floor((n_inter / (na.n + nb.n - n_inter)) * 1000000) / 1000000 AS jaccard
         |FROM inter i
         |JOIN sizes na ON na.doc_id = i.a_id
         |JOIN sizes nb ON nb.doc_id = i.b_id
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_containment" ->
      s"""$ShingleCtes, sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id
         |)
         |SELECT i.a_id, i.b_id, CAST(n_inter AS BIGINT) AS n_inter,
         |  floor((n_inter / na.n) * 1000000) / 1000000 AS containment_a,
         |  floor((n_inter / nb.n) * 1000000) / 1000000 AS containment_b
         |FROM inter i
         |JOIN sizes na ON na.doc_id = i.a_id
         |JOIN sizes nb ON nb.doc_id = i.b_id
         |ORDER BY a_id, b_id""".stripMargin,

    "doc_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), counts AS (
        |  SELECT w, count(*) AS c FROM tok GROUP BY w
        |), total AS (
        |  SELECT count(*) AS n_total FROM tok
        |), lp AS (
        |  SELECT doc_id,
        |    CAST(ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
        |         AS DECIMAL(38,18)) AS lp
        |  FROM tok JOIN counts USING (w) CROSS JOIN total
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor(CAST(sum(lp) AS DOUBLE) * 1000000) / 1000000 AS sum_logprob,
        |  floor((CAST(sum(lp) AS DOUBLE) / count(*)) * 1000000) / 1000000
        |    AS mean_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "quality_ppl_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), counts AS (
        |  SELECT w, count(*) AS c FROM tok GROUP BY w
        |), total AS (
        |  SELECT count(*) AS n_total FROM tok
        |), lp AS (
        |  SELECT doc_id, lang,
        |    floor((CAST(sum(CAST(ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
        |                         AS DECIMAL(38,18))) AS DOUBLE)
        |           / count(*)) * 1000000) / 1000000 AS mean_logprob
        |  FROM tok JOIN counts USING (w) CROSS JOIN total
        |  GROUP BY doc_id, lang
        |), r AS (
        |  SELECT doc_id, lang, mean_logprob,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY mean_logprob, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM lp
        |), a AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = (30 * (n - 1)) // 100 + 1
        |             THEN mean_logprob END) AS lo30,
        |    max(CASE WHEN rn = (30 * (n - 1)) // 100 + 2
        |             THEN mean_logprob END) AS hi30,
        |    max(((30 * (n - 1)) % 100) / CAST(100 AS DOUBLE)) AS f30,
        |    max(CASE WHEN rn = (70 * (n - 1)) // 100 + 1
        |             THEN mean_logprob END) AS lo70,
        |    max(CASE WHEN rn = (70 * (n - 1)) // 100 + 2
        |             THEN mean_logprob END) AS hi70,
        |    max(((70 * (n - 1)) % 100) / CAST(100 AS DOUBLE)) AS f70
        |  FROM r GROUP BY lang
        |), cuts AS (
        |  SELECT lang,
        |    lo30 + (coalesce(hi30, lo30) - lo30) * f30 AS q30,
        |    lo70 + (coalesce(hi70, lo70) - lo70) * f70 AS q70
        |  FROM a
        |)
        |SELECT l.doc_id, l.lang, l.mean_logprob,
        |  CASE WHEN l.mean_logprob >= c.q70 THEN 'head'
        |       WHEN l.mean_logprob < c.q30 THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM lp l JOIN cuts c USING (lang)
        |ORDER BY l.doc_id""".stripMargin,

    "doc_collocations_pmi" ->
      """WITH t0 AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |), uni AS (
        |  SELECT t, count(*) AS c1
        |  FROM (SELECT unnest(w) AS t FROM t0) GROUP BY t
        |), tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM uni
        |), bi AS (
        |  SELECT w1, w2, count(*) AS n_pair FROM (
        |    SELECT w[i] AS w1, w[i + 1] AS w2
        |    FROM t0, unnest(range(1, len(w))) AS u(i)
        |    WHERE len(w) >= 2)
        |  GROUP BY w1, w2
        |), nbi AS (
        |  SELECT CAST(sum(n_pair) AS BIGINT) AS n_bi FROM bi
        |)
        |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
        |  floor(ln(
        |    ((CAST(n_pair AS DOUBLE) * CAST(n_tok AS DOUBLE))
        |      * CAST(n_tok AS DOUBLE)) /
        |    ((CAST(n_bi AS DOUBLE) * CAST(a.c1 AS DOUBLE))
        |      * CAST(b2.c1 AS DOUBLE))) * 1000000) / 1000000 AS pmi
        |FROM bi
        |JOIN uni a ON a.t = bi.w1
        |JOIN uni b2 ON b2.t = bi.w2
        |CROSS JOIN tot CROSS JOIN nbi
        |WHERE n_pair >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    "graph_triangles" ->
      s"""$ShingleCtes, tri AS (
         |  SELECT ab.a_id AS a, ab.b_id AS b, bc.b_id AS c
         |  FROM cand ab
         |  JOIN cand bc ON bc.a_id = ab.b_id
         |  JOIN cand ac ON ac.a_id = ab.a_id AND ac.b_id = bc.b_id
         |), nodes AS (
         |  SELECT a AS doc_id FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri
         |)
         |SELECT doc_id, count(*) AS n_triangles
         |FROM nodes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_minhash_estimate" ->
      s"""$ShingleCtes, sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id
         |), jacc AS (
         |  SELECT i.a_id, i.b_id,
         |    floor((n_inter / (na.n + nb.n - n_inter)) * 1000000) / 1000000
         |      AS jaccard
         |  FROM inter i
         |  JOIN sizes na ON na.doc_id = i.a_id
         |  JOIN sizes nb ON nb.doc_id = i.b_id
         |), est AS (
         |  SELECT c.a_id, c.b_id,
         |    count(CASE WHEN ma.minhash = mb.minhash THEN 1 END) / 8.0
         |      AS est_jaccard
         |  FROM cand c
         |  JOIN mh ma ON ma.doc_id = c.a_id
         |  JOIN mh mb ON mb.doc_id = c.b_id AND mb.h = ma.h
         |  GROUP BY c.a_id, c.b_id
         |)
         |SELECT e.a_id, e.b_id, e.est_jaccard, j.jaccard,
         |  floor(abs(e.est_jaccard - j.jaccard) * 1000000) / 1000000
         |    AS abs_err
         |FROM est e JOIN jacc j ON j.a_id = e.a_id AND j.b_id = e.b_id
         |ORDER BY e.a_id, e.b_id""".stripMargin,

    "dedup_simhash" ->
      s"""$SimhashCtes
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,

    "dedup_simhash_radius" -> {
      val hamming = (1 to 16).map(i =>
        s"CASE WHEN substr(sa, $i, 1) <> substr(sb, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$SimhashCtes, cands AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND
         |    (substr(a.simhash, 1, 8) = substr(b.simhash, 1, 8) OR
         |     substr(a.simhash, 9, 8) = substr(b.simhash, 9, 8))
         |), scored AS (
         |  SELECT a_id, b_id, CAST($hamming AS INTEGER) AS dist FROM cands
         |)
         |SELECT a_id, b_id, dist FROM scored WHERE dist <= 1
         |ORDER BY a_id, b_id""".stripMargin
    },

    "dedup_embedding_cosine" ->
      s"""WITH pairs AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id
         |), ranked AS (
         |  SELECT vec_id, nn_id, sim,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY sim DESC, nn_id) AS rn
         |  FROM pairs)
         |SELECT vec_id, nn_id, sim FROM ranked WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    "dedup_embedding_ann" -> {
      val hamming = (1 to Planes).map(i =>
        s"CASE WHEN substr(a.sig, $i, 1) <> substr(b.sig, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH sigs AS (
         |  SELECT vec_id, label, embedding, ${lshSql("embedding")} AS sig
         |  FROM embeddings
         |), cand AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM sigs a JOIN sigs b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id
         |   AND ($hamming) <= 1
         |), ranked AS (
         |  SELECT vec_id, nn_id, sim,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY sim DESC, nn_id) AS rn
         |  FROM cand)
         |SELECT vec_id, nn_id, sim FROM ranked WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    },

    "dedup_embedding_recall" -> {
      val hamming = (1 to Planes).map(i =>
        s"CASE WHEN substr(a.sig, $i, 1) <> substr(b.sig, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH sigs AS (
         |  SELECT vec_id, label, embedding, ${lshSql("embedding")} AS sig
         |  FROM embeddings
         |), acand AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM sigs a JOIN sigs b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id
         |   AND ($hamming) <= 1
         |), aranked AS (
         |  SELECT vec_id, nn_id,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY sim DESC, nn_id) AS rn
         |  FROM acand
         |), ann AS (SELECT vec_id, nn_id AS ann_nn FROM aranked WHERE rn = 1
         |), epairs AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id
         |), eranked AS (
         |  SELECT vec_id, nn_id,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY sim DESC, nn_id) AS rn
         |  FROM epairs
         |), ex AS (SELECT vec_id, nn_id FROM eranked WHERE rn = 1)
         |SELECT e.label, count(*) AS n_vectors,
         |  count(ann.ann_nn) AS n_ann_answered,
         |  count(CASE WHEN ann.ann_nn = ex.nn_id THEN 1 END) AS n_top1_match
         |FROM embeddings e JOIN ex ON ex.vec_id = e.vec_id
         |LEFT JOIN ann ON ann.vec_id = e.vec_id
         |GROUP BY e.label ORDER BY e.label""".stripMargin
    },

    "similar_topk_cosine" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(${cosineSql("e.embedding", "q.qvec")}, 6) AS sim
         |FROM embeddings e CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "similar_mips_topk" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(${dotSql("e.embedding", "q.qvec")}, 6) AS ip
         |FROM embeddings e CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY ip DESC, vec_id LIMIT 10""".stripMargin,

    "retrieval_eval_metrics" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), dl AS (
         |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
         |), stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
         |    CAST(count(*) AS DOUBLE) AS n
         |  FROM dl
         |), tf AS (
         |  SELECT doc_id, tok AS term, count(*) AS tf FROM toks
         |  WHERE tok IN ('spark', 'merge', 'vector')
         |  GROUP BY doc_id, tok
         |), dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), scored AS (
         |  SELECT tf.doc_id,
         |    ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
         |      * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
         |      / (tf.tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
         |          + 0.75 * dl.dl / (s.sum_dl / s.n))) AS sc
         |  FROM tf JOIN dfreq d ON tf.term = d.term
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN stats s
         |), bm AS (
         |  SELECT doc_id,
         |    floor(CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE)
         |      * 1000000) / 1000000 AS bm25
         |  FROM scored GROUP BY doc_id
         |), lex AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
         |  FROM bm WHERE doc_id <> 0
         |  QUALIFY r_lex <= 20
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), sims AS (
         |  SELECT e.vec_id AS doc_id,
         |    round(${cosineSql("e.embedding", "q.qvec")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |), vec AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec
         |  FROM sims QUALIFY r_vec <= 20
         |), fused AS (
         |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    floor((coalesce(CAST(1 AS DOUBLE) / (60 + l.r_lex),
         |        CAST(0 AS DOUBLE))
         |      + coalesce(CAST(1 AS DOUBLE) / (60 + v.r_vec),
         |        CAST(0 AS DOUBLE))) * 1000000) / 1000000 AS rrf
         |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
         |), sys AS (
         |  SELECT f.doc_id,
         |    row_number() OVER (ORDER BY f.rrf DESC, f.doc_id) AS r_sys,
         |    v.r_vec
         |  FROM fused f LEFT JOIN vec v ON f.doc_id = v.doc_id
         |  QUALIFY r_sys <= 10
         |), idcg AS (
         |  SELECT CAST(sum(CAST(
         |      CAST(1.0 AS DOUBLE) / (ln(i + CAST(1.0 AS DOUBLE))
         |        / ln(CAST(2.0 AS DOUBLE)))
         |    AS DECIMAL(38,12))) AS DOUBLE) AS idcg
         |  FROM range(1, 11) t(i)
         |), agg AS (
         |  SELECT count(CASE WHEN r_vec IS NOT NULL THEN 1 END)
         |      AS n_rel_in_10,
         |    CAST(sum(CAST(CASE WHEN r_vec IS NOT NULL
         |        THEN CAST(1.0 AS DOUBLE) / (ln(r_sys + CAST(1.0 AS DOUBLE))
         |          / ln(CAST(2.0 AS DOUBLE)))
         |        ELSE CAST(0.0 AS DOUBLE) END
         |      AS DECIMAL(38,12))) AS DOUBLE) AS dcg,
         |    min(CASE WHEN r_vec IS NOT NULL THEN r_sys END) AS first_rel
         |  FROM sys)
         |SELECT n_rel_in_10,
         |  floor(n_rel_in_10 / CAST(10.0 AS DOUBLE) * 1000000) / 1000000
         |    AS precision10,
         |  floor(n_rel_in_10 / CAST((SELECT count(*) FROM vec) AS DOUBLE)
         |    * 1000000) / 1000000 AS recall10,
         |  floor(coalesce(CAST(1.0 AS DOUBLE) / first_rel,
         |    CAST(0.0 AS DOUBLE)) * 1000000) / 1000000 AS mrr,
         |  floor(dcg / i.idcg * 1000000) / 1000000 AS ndcg10
         |FROM agg CROSS JOIN idcg i
         |ORDER BY n_rel_in_10""".stripMargin,

    "retrieval_phrase_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), dl AS (
        |  SELECT doc_id, len(l) AS dl FROM toks
        |), stats AS (
        |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM dl
        |), pos AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    unnest(range(1, len(l) + 1)) AS p
        |  FROM toks
        |), hits AS (
        |  SELECT a.doc_id, count(*) AS phrase_tf
        |  FROM pos a JOIN pos b
        |    ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |  WHERE a.tok = 'stream' AND b.tok = 'spark'
        |  GROUP BY a.doc_id
        |), dfreq AS (
        |  SELECT count(*) AS df FROM hits
        |)
        |SELECT h.doc_id, h.phrase_tf,
        |  floor(
        |    ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
        |      * (h.phrase_tf * (CAST(1.2 AS DOUBLE) + 1))
        |      / (h.phrase_tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
        |          + 0.75 * dl.dl / (s.sum_dl / s.n)))
        |    * 1000000) / 1000000 AS bm25
        |FROM hits h JOIN dl ON h.doc_id = dl.doc_id
        |CROSS JOIN stats s CROSS JOIN dfreq d
        |ORDER BY bm25 DESC, h.doc_id LIMIT 10""".stripMargin,

    // mixed = bag-of-words component (doc_bm25_topk's decimal-fold
    // formulation over QTerms) + phrase-unit component (the
    // retrieval_phrase_topk formulation), FULL-OUTER combined per doc
    // with absent components reading 0, re-truncated after the sum
    "retrieval_mixed_topk" ->
      """WITH toks0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), dl AS (
        |  SELECT doc_id, len(l) AS dl FROM toks0
        |), stats AS (
        |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM dl
        |), toks AS (
        |  SELECT doc_id, unnest(l) AS tok FROM toks0
        |), tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'merge', 'vector')
        |  GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), tscored AS (
        |  SELECT tf.doc_id,
        |    ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
        |      * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
        |      / (tf.tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
        |          + 0.75 * dl.dl / (s.sum_dl / s.n))) AS sc
        |  FROM tf JOIN dfreq d ON tf.term = d.term
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats s
        |), tside AS (
        |  SELECT doc_id,
        |    floor(CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE)
        |      * 1000000) / 1000000 AS bm25_terms
        |  FROM tscored GROUP BY doc_id
        |), pos AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    unnest(range(1, len(l) + 1)) AS p
        |  FROM toks0
        |), hits AS (
        |  SELECT a.doc_id, count(*) AS phrase_tf
        |  FROM pos a JOIN pos b
        |    ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |  WHERE a.tok = 'stream' AND b.tok = 'spark'
        |  GROUP BY a.doc_id
        |), pdf AS (
        |  SELECT count(*) AS df FROM hits
        |), pside AS (
        |  SELECT h.doc_id,
        |    floor(
        |      ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
        |        * (h.phrase_tf * (CAST(1.2 AS DOUBLE) + 1))
        |        / (h.phrase_tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
        |            + 0.75 * dl.dl / (s.sum_dl / s.n)))
        |      * 1000000) / 1000000 AS bm25_phrase
        |  FROM hits h JOIN dl ON h.doc_id = dl.doc_id
        |  CROSS JOIN stats s CROSS JOIN pdf d
        |)
        |SELECT COALESCE(t.doc_id, p.doc_id) AS doc_id,
        |  COALESCE(t.bm25_terms, CAST(0 AS DOUBLE)) AS bm25_terms,
        |  COALESCE(p.bm25_phrase, CAST(0 AS DOUBLE)) AS bm25_phrase,
        |  floor((COALESCE(t.bm25_terms, CAST(0 AS DOUBLE))
        |      + COALESCE(p.bm25_phrase, CAST(0 AS DOUBLE)))
        |    * 1000000) / 1000000 AS mixed_bm25
        |FROM tside t FULL OUTER JOIN pside p ON t.doc_id = p.doc_id
        |ORDER BY mixed_bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "retrieval_phrase3_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |), dl AS (
        |  SELECT doc_id, len(l) AS dl FROM toks
        |), stats AS (
        |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM dl
        |), pos AS (
        |  SELECT doc_id, unnest(l) AS tok,
        |    unnest(range(1, len(l) + 1)) AS p
        |  FROM toks
        |), hits AS (
        |  SELECT a.doc_id, count(*) AS phrase_tf
        |  FROM pos a JOIN pos b
        |    ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |  JOIN pos c
        |    ON a.doc_id = c.doc_id AND c.p = a.p + 2
        |  WHERE a.tok = 'big' AND b.tok = 'order' AND c.tok = 'scan'
        |  GROUP BY a.doc_id
        |), dfreq AS (
        |  SELECT count(*) AS df FROM hits
        |)
        |SELECT h.doc_id, h.phrase_tf,
        |  floor(
        |    ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
        |      * (h.phrase_tf * (CAST(1.2 AS DOUBLE) + 1))
        |      / (h.phrase_tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
        |          + 0.75 * dl.dl / (s.sum_dl / s.n)))
        |    * 1000000) / 1000000 AS bm25
        |FROM hits h JOIN dl ON h.doc_id = dl.doc_id
        |CROSS JOIN stats s CROSS JOIN dfreq d
        |ORDER BY bm25 DESC, h.doc_id LIMIT 10""".stripMargin,

    "similar_mmr_rerank" ->
      s"""$mmrCteSql
         |SELECT sel_rank, vec_id, rel,
         |  floor(mmr * 1000000) / 1000000 AS mmr
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         |      UNION ALL SELECT * FROM s5)
         |ORDER BY sel_rank""".stripMargin,

    "similar_mmr_audit" ->
      s"""$mmrCteSql,
         |msel AS (
         |  SELECT vec_id, rel FROM s1 UNION ALL SELECT vec_id, rel FROM s2
         |  UNION ALL SELECT vec_id, rel FROM s3
         |  UNION ALL SELECT vec_id, rel FROM s4
         |  UNION ALL SELECT vec_id, rel FROM s5
         |), top5 AS (
         |  SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 5
         |), trel AS (
         |  SELECT CAST(sum(CAST(rel AS DECIMAL(38,12))) AS DOUBLE)
         |    / count(*) AS v FROM top5
         |), mrel AS (
         |  SELECT CAST(sum(CAST(rel AS DECIMAL(38,12))) AS DOUBLE)
         |    / count(*) AS v FROM msel
         |), tpair AS (
         |  SELECT CAST(sum(CAST(p.ps AS DECIMAL(38,12))) AS DOUBLE)
         |    / count(*) AS v
         |  FROM pair p JOIN top5 x ON p.pa = x.vec_id
         |  JOIN top5 y ON p.pb = y.vec_id WHERE p.pa < p.pb
         |), mpair AS (
         |  SELECT CAST(sum(CAST(p.ps AS DECIMAL(38,12))) AS DOUBLE)
         |    / count(*) AS v
         |  FROM pair p JOIN msel x ON p.pa = x.vec_id
         |  JOIN msel y ON p.pb = y.vec_id WHERE p.pa < p.pb
         |), comm AS (
         |  SELECT count(*) AS n_common
         |  FROM top5 t JOIN msel m ON t.vec_id = m.vec_id)
         |SELECT c.n_common,
         |  floor(trel.v * 1000000) / 1000000 AS mean_rel_top,
         |  floor(mrel.v * 1000000) / 1000000 AS mean_rel_mmr,
         |  floor(tpair.v * 1000000) / 1000000 AS mean_pairsim_top,
         |  floor(mpair.v * 1000000) / 1000000 AS mean_pairsim_mmr
         |FROM comm c CROSS JOIN trel CROSS JOIN mrel
         |CROSS JOIN tpair CROSS JOIN mpair
         |ORDER BY c.n_common""".stripMargin,

    "doc_zipf_alpha" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |), cnt AS (
        |  SELECT w, count(*) AS c FROM tok GROUP BY w
        |), top AS (
        |  SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 1000
        |), rk AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM top
        |), xy AS (
        |  SELECT CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(18,12)) AS x,
        |         CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,12)) AS y
        |  FROM rk
        |), agg AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx
        |  FROM xy
        |)
        |SELECT n,
        |  floor((-((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n AS DOUBLE) * sxx - sx * sx))) * 1000000)
        |    / 1000000 AS alpha
        |FROM agg""".stripMargin,

    "similar_mips_recall" ->
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT max(${dotSql("embedding", "embedding")}) AS m2 FROM corp
         |), augc AS (
         |  SELECT vec_id, list_append(
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |    sqrt(greatest(m2 - (${dotSql("embedding", "embedding")}),
         |      CAST(0.0 AS DOUBLE)))) AS avec
         |  FROM corp CROSS JOIN m
         |), aq AS (
         |  SELECT list_append(list_transform(qvec, x -> CAST(x AS DOUBLE)),
         |    CAST(0.0 AS DOUBLE)) AS aqvec FROM q
         |), ex AS (
         |  SELECT vec_id, i, CAST(avec[i] AS DOUBLE) AS v
         |  FROM augc, unnest(range(1, len(avec) + 1)) AS t(i)
         |), rg AS (
         |  SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i
         |), rec AS (
         |  SELECT vec_id, list(CASE WHEN mx > mn THEN
         |      mn + ((least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
         |              floor(((v - mn) / (mx - mn)) * 255))) + 0.5)
         |            / 256.0) * (mx - mn)
         |    ELSE mn END ORDER BY i) AS rvec
         |  FROM ex JOIN rg USING (i) GROUP BY vec_id
         |), coarse AS (
         |  SELECT vec_id, round(${cosineSql("rvec", "aqvec")}, 6) AS sim_sq
         |  FROM rec CROSS JOIN aq
         |  ORDER BY sim_sq DESC, vec_id LIMIT 20
         |), exact AS (
         |  SELECT vec_id, round(${dotSql("embedding", "qvec")}, 6) AS ip
         |  FROM corp CROSS JOIN q
         |  ORDER BY ip DESC, vec_id LIMIT 5
         |)
         |SELECT count(*) AS k_exact,
         |  count(c.sim_sq) AS n_in_coarse,
         |  floor((count(c.sim_sq) / count(*)) * 1000000) / 1000000 AS recall
         |FROM exact e LEFT JOIN coarse c USING (vec_id)""".stripMargin,

    "multimodal_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    greatest(octet_length(encode(text)), 1) AS len
        |  FROM documents
        |)
        |SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST((i * len) // 4 AS BIGINT) AS offset,
        |  CAST(coalesce(ascii(substr(text,
        |    CAST((i * len) // 4 AS INTEGER) + 1, 1)), 0) AS BIGINT)
        |    AS frame_byte
        |FROM m, unnest(range(0, 4)) AS u(i)
        |ORDER BY media_id, frame_idx""".stripMargin,

    // The oracle recomputes the dims INJECTED into the synthetic
    // headers; a parse bug on the Spark side breaks the round trip.
    "multimodal_dims" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
        |    WHEN 1 THEN 'jpeg' ELSE 'unknown' END AS format,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL
        |    ELSE CAST(16 + n_chars % 2032 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL
        |    ELSE CAST(16 + (doc_id * 7) % 1512 AS BIGINT) END AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "multimodal_av_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'wav'
        |    WHEN 1 THEN 'mp4' ELSE 'unknown' END AS format,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN CAST(8000 + (doc_id * 37) % 40000 AS BIGINT) END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(FLOOR(
        |      (n_chars * 4) * 1000.0 /
        |      ((8000 + (doc_id * 37) % 40000) * 2)) AS BIGINT)
        |    WHEN doc_id % 3 = 1 THEN CAST(FLOOR(
        |      (n_chars * 50) * 1000.0 /
        |      (1000 + doc_id % 9000)) AS BIGINT) END AS duration_ms,
        |  CASE WHEN doc_id % 3 = 1
        |    THEN CAST(16 + n_chars % 2032 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 3 = 1
        |    THEN CAST(16 + (doc_id * 11) % 1512 AS BIGINT) END AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "similar_range_search" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(${cosineSql("e.embedding", "q.qvec")}, 6) AS sim
         |FROM embeddings e CROSS JOIN q
         |WHERE e.vec_id <> 0
         |  AND round(${cosineSql("e.embedding", "q.qvec")}, 6) >= 0.1
         |ORDER BY sim DESC, vec_id""".stripMargin,

    "doc_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), t AS (
        |  SELECT DISTINCT doc_id, token FROM tok
        |), r AS (
        |  SELECT token, doc_id,
        |    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY token) AS df
        |  FROM t
        |)
        |SELECT token, df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    AS postings,
        |  CAST(greatest(df - 1000, 0) AS BIGINT) AS n_overflow
        |FROM r WHERE df >= 3 AND rn <= 1000
        |GROUP BY token, df
        |ORDER BY token""".stripMargin,

    "similar_ann_lsh" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |sigs AS (
         |  SELECT e.vec_id, e.embedding, q.qvec,
         |    ${lshSql("e.embedding")} AS sig,
         |    ${lshSql("q.qvec")} AS qsig
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> 0)
         |SELECT vec_id,
         |  round(${cosineSql("embedding", "qvec")}, 6) AS sim
         |FROM sigs WHERE sig = qsig
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "similar_ann_multiprobe" -> {
      val hamming = (1 to Planes).map(i =>
        s"CASE WHEN substr(sig, $i, 1) <> substr(qsig, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |sigs AS (
         |  SELECT e.vec_id, e.embedding, q.qvec,
         |    ${lshSql("e.embedding")} AS sig,
         |    ${lshSql("q.qvec")} AS qsig
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> 0)
         |SELECT vec_id,
         |  round(${cosineSql("embedding", "qvec")}, 6) AS sim
         |FROM sigs WHERE ($hamming) <= 1
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
    },

    "dedup_loss_weights" ->
      """WITH h AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS ch FROM documents
        |)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY ch) AS canonical_id,
        |  count(*) OVER (PARTITION BY ch) AS cluster_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY ch) AS is_canonical,
        |  floor(CAST(1 AS DOUBLE) / count(*) OVER (PARTITION BY ch)
        |        * 1000000) / 1000000 AS loss_weight
        |FROM h ORDER BY doc_id""".stripMargin,

    "similar_ood_score" ->
      s"""$KmeansCtes
         |SELECT e.vec_id,
         |  round(1 - ${cosineSql("e.embedding", "c2.cvec")}, 6) AS ood
         |FROM embeddings e
         |JOIN a2 ON e.vec_id = a2.vec_id
         |JOIN c2 ON a2.cluster = c2.cluster
         |ORDER BY ood DESC, e.vec_id LIMIT 20""".stripMargin,

    "doc_bigram_logprob" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(w) AS t FROM w
        |), uni AS (
        |  SELECT t, count(*) AS c FROM tok GROUP BY t
        |), total AS (
        |  SELECT count(*) AS n_tok FROM tok
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
        |    unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
        |  FROM w WHERE len(w) >= 2
        |), bc AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
        |), lp AS (
        |  SELECT bg.doc_id,
        |    CAST(ln(0.8 * CAST(c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)
        |          + 0.2 * CAST(u2.c AS DOUBLE) / CAST(n_tok AS DOUBLE))
        |         AS DECIMAL(38,18)) AS lp
        |  FROM bg
        |  JOIN bc USING (w1, w2)
        |  JOIN uni u1 ON bg.w1 = u1.t
        |  JOIN uni u2 ON bg.w2 = u2.t
        |  CROSS JOIN total
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(CAST(sum(lp) AS DOUBLE) * 1000000) / 1000000
        |    AS sum_logprob,
        |  floor((CAST(sum(lp) AS DOUBLE) / count(*)) * 1000000) / 1000000
        |    AS mean_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_kneser_ney" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |), bg AS (
        |  SELECT unnest(w[1:len(w) - 1]) AS w1,
        |    unnest(w[2:len(w)]) AS w2
        |  FROM toks
        |), bcount AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
        |), lft AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1tot,
        |    count(*) AS n1_left
        |  FROM bcount GROUP BY w1
        |), rgt AS (
        |  SELECT w2, count(*) AS n1_right FROM bcount GROUP BY w2
        |), bt AS (SELECT count(*) AS b_types FROM bcount)
        |SELECT b.w1, b.w2, b.c12,
        |  floor(CAST(b.c12 AS DOUBLE) / l.c1tot * 1000000) / 1000000
        |    AS p_mle,
        |  floor((greatest(CAST(b.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE),
        |      CAST(0 AS DOUBLE)) / l.c1tot
        |    + CAST(0.75 AS DOUBLE) * l.n1_left / l.c1tot * r.n1_right
        |      / bt.b_types)
        |    * 1000000) / 1000000 AS p_kn
        |FROM bcount b
        |JOIN lft l ON l.w1 = b.w1
        |JOIN rgt r ON r.w2 = b.w2
        |CROSS JOIN bt
        |ORDER BY b.c12 DESC, b.w1, b.w2 LIMIT 20""".stripMargin,

    "similar_filtered_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
         |  WHERE vec_id < 8
         |), q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cvec")} DESC, c.cent_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c
         |    WHERE e.label % 2 = 0) t
         |  WHERE rn = 1
         |), qcells AS (
         |  SELECT cent_id AS cell FROM cents CROSS JOIN q
         |  ORDER BY ${cosineSql("cvec", "qvec")} DESC, cent_id LIMIT 3
         |)
         |SELECT a.vec_id, round(${cosineSql("a.embedding", "q.qvec")}, 6) AS sim
         |FROM assign a JOIN qcells ON a.cell = qcells.cell CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "similar_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
         |  WHERE vec_id < 8
         |), q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "c.cvec")} DESC, c.cent_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c) t
         |  WHERE rn = 1
         |), qcells AS (
         |  SELECT cent_id AS cell FROM cents CROSS JOIN q
         |  ORDER BY ${cosineSql("cvec", "qvec")} DESC, cent_id LIMIT 2
         |)
         |SELECT a.vec_id, round(${cosineSql("a.embedding", "q.qvec")}, 6) AS sim
         |FROM assign a JOIN qcells ON a.cell = qcells.cell CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
        |  floor(sum(n_chars) * 1000000.0 / count(*)) / 1000000.0 AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the','a','of','and','to','in','is'], x))) AS stop_hits,
        |    (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        |      / len(string_split(text, ' ')) AS mean_wl
        |  FROM documents)
        |SELECT doc_id, n_chars, n_words,
        |  floor((stop_hits * 1.0 / n_words) * 1000000) / 1000000 AS stopword_ratio,
        |  floor(mean_wl * 1000000) / 1000000 AS mean_word_len,
        |  floor((least(1.0, (n_words * 1.0) / 64.0) * 0.5
        |      + least(1.0, (stop_hits * 1.0 / n_words) * 5.0) * 0.25
        |      + least(1.0, mean_wl / 8.0) * 0.25) * 1000000) / 1000000 AS quality
        |FROM f ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), counts AS (
        |  SELECT lang AS model_lang, w, count(*) AS c FROM tok GROUP BY 1, 2
        |), totals AS (
        |  SELECT lang AS model_lang, count(*) AS tot FROM tok GROUP BY 1
        |), vocab AS (SELECT count(DISTINCT w) AS v FROM tok
        |), scores AS (
        |  SELECT t.doc_id, m.model_lang,
        |    round(sum(ln((coalesce(c.c, 0) + 1.0) / (m.tot + m.v))), 6) AS score
        |  FROM (SELECT doc_id, w FROM tok) t
        |  CROSS JOIN (SELECT model_lang, tot, v FROM totals CROSS JOIN vocab) m
        |  LEFT JOIN counts c ON c.model_lang = m.model_lang AND c.w = t.w
        |  GROUP BY t.doc_id, m.model_lang
        |), ranked AS (
        |  SELECT doc_id, model_lang, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, model_lang) AS rn
        |  FROM scores)
        |SELECT doc_id, model_lang AS pred_lang, score FROM ranked
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "lang_id_confusion" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), counts AS (
        |  SELECT lang AS model_lang, w, count(*) AS c FROM tok GROUP BY 1, 2
        |), totals AS (
        |  SELECT lang AS model_lang, count(*) AS tot FROM tok GROUP BY 1
        |), vocab AS (SELECT count(DISTINCT w) AS v FROM tok
        |), scores AS (
        |  SELECT t.doc_id, m.model_lang,
        |    round(sum(ln((coalesce(c.c, 0) + 1.0) / (m.tot + m.v))), 6) AS score
        |  FROM (SELECT doc_id, w FROM tok) t
        |  CROSS JOIN (SELECT model_lang, tot, v FROM totals CROSS JOIN vocab) m
        |  LEFT JOIN counts c ON c.model_lang = m.model_lang AND c.w = t.w
        |  GROUP BY t.doc_id, m.model_lang
        |), ranked AS (
        |  SELECT doc_id, model_lang, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, model_lang) AS rn
        |  FROM scores
        |), pred AS (
        |  SELECT doc_id, model_lang AS pred_lang FROM ranked WHERE rn = 1
        |), cells AS (
        |  SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents d JOIN pred p USING (doc_id)
        |  GROUP BY d.lang, p.pred_lang
        |)
        |SELECT lang, pred_lang, n,
        |  floor((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang))
        |        * 1000000) / 1000000 AS share
        |FROM cells ORDER BY lang, pred_lang""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, len(substr(lower(text), 1, 64)) + 1),
        |      i -> CAST(ascii(substr(substr(lower(text), 1, 64),
        |                             CAST(i AS INT), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_schema" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS e0,
        |  CAST(label AS BIGINT) AS label
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "json_props_extract" ->
      """SELECT event_id,
        |  CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "dedup_cluster" ->
      s"""WITH RECURSIVE $ShingleBody, edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION
         |  SELECT b_id AS src, a_id AS dst FROM cand
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "dedup_collapse" ->
      s"""WITH RECURSIVE $ShingleBody, edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION
         |  SELECT b_id AS src, a_id AS dst FROM cand
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), lab AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), f AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS canonical_id
         |  FROM documents d LEFT JOIN lab l USING (doc_id)
         |), sz AS (
         |  SELECT canonical_id, count(*) AS n_members FROM f
         |  GROUP BY canonical_id
         |)
         |SELECT f.doc_id, f.canonical_id,
         |  f.doc_id = f.canonical_id AS kept, sz.n_members
         |FROM f JOIN sz USING (canonical_id)
         |ORDER BY f.doc_id""".stripMargin,

    "text_token_histogram" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
        |), counts AS (
        |  SELECT lang, w, count(*) AS c FROM tok GROUP BY lang, w
        |), ranked AS (
        |  SELECT lang, w, c,
        |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rank
        |  FROM counts)
        |SELECT lang, w AS token, c, rank FROM ranked WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,

    "multimodal_pipeline" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
        |  CAST(floor(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    "sample_weighted" -> {
      val nib = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(hb, $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    least(CAST(1.0 AS DOUBLE),
         |      len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE)) AS rate,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hb
         |  FROM documents
         |), u AS (
         |  SELECT doc_id, lang, rate,
         |    CAST(($nib) AS DOUBLE) / CAST(65536.0 AS DOUBLE) AS sample_u
         |  FROM h
         |)
         |SELECT doc_id, lang, rate, sample_u FROM u
         |WHERE sample_u < rate ORDER BY doc_id""".stripMargin
    },

    "text_chunk_windows" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |    unnest(range(0, (greatest(len(w) - 32, 0) + 23) // 24 + 1))
        |      AS chunk_idx
        |  FROM w
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT)
        |    AS n_chunk_tokens,
        |  array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "corpus_mix_resample" -> {
      val nib = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(hb, $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""WITH bysrc AS (
         |  SELECT lang, count(*) AS n_source FROM documents GROUP BY lang
         |), tot AS (
         |  SELECT CAST(sum(n_source) AS BIGINT) AS n_total,
         |    count(*) AS n_sources
         |  FROM bysrc
         |), rates AS (
         |  SELECT lang, n_source,
         |    least(CAST(1 AS DOUBLE), n_total / n_sources / n_source) AS rate
         |  FROM bysrc CROSS JOIN tot
         |), h AS (
         |  SELECT d.doc_id, d.lang, r.n_source, r.rate,
         |    substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS hb
         |  FROM documents d JOIN rates r USING (lang)
         |), u AS (
         |  SELECT doc_id, lang, n_source, rate,
         |    CAST(($nib) AS DOUBLE) / CAST(65536.0 AS DOUBLE) AS sample_u
         |  FROM h
         |)
         |SELECT doc_id, lang, n_source, rate, sample_u FROM u
         |WHERE sample_u < rate ORDER BY doc_id""".stripMargin
    },

    "corpus_mix_alpha" -> {
      val nib = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(hb, $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""WITH bysrc AS (
         |  SELECT lang, count(*) AS n_source FROM documents GROUP BY lang
         |), mn AS (
         |  SELECT min(n_source) AS n_min FROM bysrc
         |), rates AS (
         |  SELECT lang, n_source, sqrt(n_min / n_source) AS rate
         |  FROM bysrc CROSS JOIN mn
         |), h AS (
         |  SELECT d.doc_id, d.lang, r.n_source, r.rate,
         |    substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS hb
         |  FROM documents d JOIN rates r USING (lang)
         |), u AS (
         |  SELECT doc_id, lang, n_source, rate,
         |    CAST(($nib) AS DOUBLE) / CAST(65536.0 AS DOUBLE) AS sample_u
         |  FROM h
         |)
         |SELECT doc_id, lang, n_source, rate, sample_u FROM u
         |WHERE sample_u < rate ORDER BY doc_id""".stripMargin
    },

    "dedup_semantic" ->
      s"""WITH ${semanticFittedCtes("embeddings", 32, 128)}, dups AS (
         |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS canonical_id
         |  FROM cl a JOIN cl b
         |    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
         |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.40
         |  GROUP BY b.vec_id
         |)
         |SELECT s.vec_id, s.cell,
         |  CASE WHEN d.canonical_id IS NOT NULL THEN 'dup'
         |       ELSE 'kept' END AS verdict,
         |  coalesce(d.canonical_id, s.vec_id) AS canonical_id
         |FROM cl s LEFT JOIN dups d USING (vec_id)
         |ORDER BY s.vec_id""".stripMargin,

    "dedup_semantic_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
         |), ${semanticFittedCtes("e", 32, 128)}, gp AS (
         |  SELECT count(*) AS n_pairs_exact
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.40
         |), cp AS (
         |  SELECT count(*) AS n_pairs_cell
         |  FROM cl a JOIN cl b
         |    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
         |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.40
         |)
         |SELECT n_pairs_exact, n_pairs_cell,
         |  CASE WHEN n_pairs_exact > 0 THEN
         |    floor((n_pairs_cell * 1.0 / n_pairs_exact) * 1000000) / 1000000
         |  END AS recall
         |FROM gp CROSS JOIN cp""".stripMargin,

    "dedup_incremental_semantic" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 3
         |), batch AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 3
         |), ${fittedIndexCtes("corpus", 32)},
         |${fittedAssignCtes("corpus", "c")},
         |${fittedAssignCtes("batch", "b")}, chit AS (
         |  SELECT b.vec_id AS vec_id, min(c.vec_id) AS corpus_nn
         |  FROM fineb b JOIN finec c ON b.cell = c.cell
         |  WHERE round(${cosineSql("c.embedding", "b.embedding")}, 6) >= 0.40
         |  GROUP BY b.vec_id
         |), bhit AS (
         |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS batch_nn
         |  FROM fineb b JOIN fineb a
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.40
         |  GROUP BY b.vec_id
         |)
         |SELECT b.vec_id, b.cell,
         |  CASE WHEN ch.corpus_nn IS NOT NULL THEN 'dup_of_corpus'
         |       WHEN bh.batch_nn IS NOT NULL THEN 'dup_in_batch'
         |       ELSE 'new' END AS verdict,
         |  coalesce(ch.corpus_nn, bh.batch_nn, b.vec_id) AS canonical_id
         |FROM fineb b
         |LEFT JOIN chit ch USING (vec_id)
         |LEFT JOIN bhit bh USING (vec_id)
         |ORDER BY b.vec_id""".stripMargin,

    "similar_knn_accuracy" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS q_id, embedding AS qvec,
         |    CAST(label AS BIGINT) AS q_label
         |  FROM embeddings WHERE vec_id < 32
         |), scored AS (
         |  SELECT q.q_id, q.q_label, e.vec_id,
         |    CAST(e.label AS BIGINT) AS label,
         |    round(${cosineSql("e.embedding", "q.qvec")}, 6) AS sim
         |  FROM embeddings e JOIN qs q ON e.vec_id <> q.q_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, vec_id) AS rn
         |  FROM scored
         |)
         |SELECT q_id, q_label,
         |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_top3_same,
         |  CAST(max(CASE WHEN rn = 1 AND label = q_label THEN 1
         |               WHEN rn = 1 THEN 0 END) AS BIGINT) AS top1_match
         |FROM ranked WHERE rn <= 3
         |GROUP BY q_id, q_label ORDER BY q_id""".stripMargin,

    "sample_topk_per_stratum" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents)
        |SELECT doc_id, lang, sample_rank FROM ranked
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin,

    "doc_top_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
        |), dl AS (
        |  SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id
        |), dfreq AS (
        |  SELECT w, count(*) AS df FROM tf GROUP BY w
        |), nd AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.w,
        |    (tf.c / dl.len) * ln((nd.n_docs + 1) / (dfreq.df + 1)) AS score
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        |  JOIN dfreq ON tf.w = dfreq.w CROSS JOIN nd
        |), ranked AS (
        |  SELECT doc_id, w, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, w) AS rk
        |  FROM scored)
        |SELECT doc_id, w AS top_term,
        |  floor(score * 1000000) / 1000000 AS tfidf
        |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "doc_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        |), stats AS (
        |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM dl
        |), tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'merge', 'vector')
        |  GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), scored AS (
        |  SELECT tf.doc_id,
        |    ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
        |      * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
        |      / (tf.tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
        |          + 0.75 * dl.dl / (s.sum_dl / s.n))) AS sc
        |  FROM tf JOIN dfreq d ON tf.term = d.term
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats s
        |)
        |SELECT doc_id,
        |  floor(CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE)
        |    * 1000000) / 1000000 AS bm25,
        |  count(*) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "similar_hybrid_rrf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), dl AS (
         |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
         |), stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
         |    CAST(count(*) AS DOUBLE) AS n
         |  FROM dl
         |), tf AS (
         |  SELECT doc_id, tok AS term, count(*) AS tf FROM toks
         |  WHERE tok IN ('spark', 'merge', 'vector')
         |  GROUP BY doc_id, tok
         |), dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), scored AS (
         |  SELECT tf.doc_id,
         |    ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
         |      * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
         |      / (tf.tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
         |          + 0.75 * dl.dl / (s.sum_dl / s.n))) AS sc
         |  FROM tf JOIN dfreq d ON tf.term = d.term
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN stats s
         |), bm AS (
         |  SELECT doc_id,
         |    floor(CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE)
         |      * 1000000) / 1000000 AS bm25
         |  FROM scored GROUP BY doc_id
         |), lex AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
         |  FROM bm WHERE doc_id <> 0
         |  QUALIFY r_lex <= 20
         |), q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), sims AS (
         |  SELECT e.vec_id AS doc_id,
         |    round(${cosineSql("e.embedding", "q.qvec")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |), vec AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec
         |  FROM sims QUALIFY r_vec <= 20
         |)
         |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |  l.r_lex, v.r_vec,
         |  floor((coalesce(CAST(1 AS DOUBLE) / (60 + l.r_lex),
         |      CAST(0 AS DOUBLE))
         |    + coalesce(CAST(1 AS DOUBLE) / (60 + v.r_vec),
         |      CAST(0 AS DOUBLE))) * 1000000) / 1000000 AS rrf
         |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "similar_hybrid_audit" -> {
      val hybridBody =
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          |  FROM documents
          |), dl AS (
          |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
          |), stats AS (
          |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
          |    CAST(count(*) AS DOUBLE) AS n
          |  FROM dl
          |), tf AS (
          |  SELECT doc_id, tok AS term, count(*) AS tf FROM toks
          |  WHERE tok IN ('spark', 'merge', 'vector')
          |  GROUP BY doc_id, tok
          |), dfreq AS (
          |  SELECT term, count(*) AS df FROM tf GROUP BY term
          |), scored AS (
          |  SELECT tf.doc_id,
          |    ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1)
          |      * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
          |      / (tf.tf + CAST(1.2 AS DOUBLE) * ((1 - 0.75)
          |          + 0.75 * dl.dl / (s.sum_dl / s.n))) AS sc
          |  FROM tf JOIN dfreq d ON tf.term = d.term
          |  JOIN dl ON tf.doc_id = dl.doc_id
          |  CROSS JOIN stats s
          |), bm AS (
          |  SELECT doc_id,
          |    floor(CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE)
          |      * 1000000) / 1000000 AS bm25
          |  FROM scored GROUP BY doc_id
          |), lex AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
          |  FROM bm WHERE doc_id <> 0
          |  QUALIFY r_lex <= 20
          |), q AS (
          |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
          |), sims AS (
          |  SELECT e.vec_id AS doc_id,
          |    round(COSINE_SQL, 6) AS sim
          |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
          |), vec AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec
          |  FROM sims QUALIFY r_vec <= 20
          |)""".stripMargin
          .replace("COSINE_SQL", cosineSql("e.embedding", "q.qvec"))
      hybridBody +
        """, fused AS (
          |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
          |    l.r_lex, v.r_vec,
          |    floor((coalesce(CAST(1 AS DOUBLE) / (60 + l.r_lex),
          |        CAST(0 AS DOUBLE))
          |      + coalesce(CAST(1 AS DOUBLE) / (60 + v.r_vec),
          |        CAST(0 AS DOUBLE))) * 1000000) / 1000000 AS rrf
          |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
          |  ORDER BY rrf DESC, doc_id LIMIT 10
          |), ov AS (
          |  SELECT count(*) AS top20_overlap FROM lex JOIN vec USING (doc_id)
          |)
          |SELECT ov.top20_overlap,
          |  count(CASE WHEN r_lex IS NOT NULL AND r_vec IS NOT NULL
          |    THEN 1 END) AS fused_from_both,
          |  count(CASE WHEN r_lex IS NOT NULL AND r_vec IS NULL
          |    THEN 1 END) AS fused_lex_only,
          |  count(CASE WHEN r_lex IS NULL AND r_vec IS NOT NULL
          |    THEN 1 END) AS fused_vec_only,
          |  count(CASE WHEN r_lex <= 3 THEN 1 END) AS lex_top3_kept,
          |  count(CASE WHEN r_vec <= 3 THEN 1 END) AS vec_top3_kept
          |FROM fused CROSS JOIN ov
          |GROUP BY ov.top20_overlap
          |ORDER BY ov.top20_overlap""".stripMargin
    },

    "kmeans_fit_assign" ->
      s"""$KmeansCtes
         |SELECT vec_id, cluster FROM a2 ORDER BY vec_id""".stripMargin,

    "similar_ivf_kmeans" ->
      s"""$KmeansCtes, q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), qc AS (
         |  SELECT cluster FROM c2 CROSS JOIN q
         |  ORDER BY ${cosineSql("c2.cvec", "q.qvec")} DESC, cluster LIMIT 2
         |)
         |SELECT a.vec_id, round(${cosineSql("a.embedding", "q.qvec")}, 6) AS sim
         |FROM a2 a JOIN qc ON a.cluster = qc.cluster CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,

    "decontaminate_minhash" ->
      s"""$ShingleCtes, evalb AS (
         |  SELECT DISTINCT band, band_key FROM bd WHERE doc_id % 97 = 0
         |), bad AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM bd b JOIN evalb e
         |    ON b.band = e.band AND b.band_key = e.band_key
         |  WHERE b.doc_id % 97 <> 0
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id % 97 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin,

    "quality_gopher" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
        |), m AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(w, t -> lower(t) IN
        |      ('the','be','to','of','and','that','have','with')))
        |      AS BIGINT) AS n_stop,
        |    CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
        |      AS DOUBLE) / len(w) AS af,
        |    CAST(length(text) - length(replace(text, '#', ''))
        |      AS DOUBLE) / len(w) AS sf
        |  FROM w
        |)
        |SELECT doc_id, n_words, n_stop,
        |  floor(af * 1000000) / 1000000 AS alpha_frac,
        |  floor(sf * 1000000) / 1000000 AS symbol_frac,
        |  n_stop >= 2 AS r_stop,
        |  af >= 0.8 AS r_alpha,
        |  sf <= 0.1 AS r_symbol,
        |  (n_stop >= 2 AND af >= 0.8 AND sf <= 0.1) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "quality_lexical_complexity" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), syl AS (
        |  SELECT doc_id, w,
        |    list_transform(w, t -> greatest(1,
        |      len(string_split_regex(t, '[aeiou]+')) - 1)) AS sl
        |  FROM w
        |), m AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_aggregate(list_transform(w, t -> length(t)), 'sum')
        |      AS BIGINT) AS n_chars_w,
        |    CAST(list_aggregate(sl, 'sum') AS BIGINT) AS n_syllables,
        |    CAST(len(list_filter(sl, x -> x >= 3)) AS BIGINT) AS n_poly,
        |    CAST(len(list_distinct(w)) AS BIGINT) AS n_types
        |  FROM syl
        |)
        |SELECT doc_id, n_words, n_syllables,
        |  floor(CAST(n_chars_w AS DOUBLE) / n_words * 1000000) / 1000000
        |    AS avg_word_len,
        |  floor(CAST(n_syllables AS DOUBLE) / n_words * 1000000) / 1000000
        |    AS avg_syllables,
        |  floor(CAST(n_poly AS DOUBLE) / n_words * 1000000) / 1000000
        |    AS poly_frac,
        |  floor(CAST(n_types AS DOUBLE) / n_words * 1000000) / 1000000
        |    AS type_token_ratio
        |FROM m ORDER BY doc_id""".stripMargin,

    "quality_calibration" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, sum(
        |    CAST((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1)
        |       - 2048 AS DOUBLE) / 2048) AS score
        |  FROM tok GROUP BY doc_id
        |), gop AS (
        |  SELECT doc_id,
        |    (len(list_filter(string_split(text, ' '), t -> lower(t) IN
        |       ('the','be','to','of','and','that','have','with'))) >= 2
        |     AND CAST(len(list_filter(string_split(text, ' '),
        |       t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |       / len(string_split(text, ' ')) >= 0.8
        |     AND CAST(length(text) - length(replace(text, '#', ''))
        |       AS DOUBLE) / len(string_split(text, ' ')) <= 0.1) AS pass
        |  FROM documents
        |), d AS (
        |  SELECT s.doc_id, g.pass,
        |    1.0 / (1.0 + exp(-s.score / 8)) AS prob
        |  FROM sc s JOIN gop g ON g.doc_id = s.doc_id
        |), b AS (
        |  SELECT CAST(floor(prob * 10) AS BIGINT) AS decile,
        |    count(*) AS n_docs,
        |    sum(CAST(prob AS DECIMAL(38,18))) AS psum,
        |    count(CASE WHEN pass THEN 1 END) AS n_pass
        |  FROM d GROUP BY 1
        |)
        |SELECT decile, n_docs,
        |  floor(CAST(psum AS DOUBLE) / n_docs * 1000000) / 1000000
        |    AS avg_prob,
        |  floor(CAST(n_pass AS DOUBLE) / n_docs * 1000000) / 1000000
        |    AS pass_rate,
        |  floor(abs(CAST(psum AS DOUBLE) / n_docs
        |    - CAST(n_pass AS DOUBLE) / n_docs) * 1000000) / 1000000
        |    AS calib_gap
        |FROM b ORDER BY decile""".stripMargin,

    "doc_ngram_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), tc AS (
        |  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
        |), g AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |        AS DECIMAL(38,18))) AS clc
        |  FROM tc GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, n_types,
        |  floor((ln(CAST(n_tokens AS DOUBLE)) - CAST(clc AS DOUBLE) / n_tokens)
        |        * 1000000) / 1000000 AS entropy_nats,
        |  CASE WHEN n_types > 1 THEN
        |    floor((ln(CAST(n_tokens AS DOUBLE)) - CAST(clc AS DOUBLE) / n_tokens)
        |          / ln(CAST(n_types AS DOUBLE)) * 1000000) / 1000000
        |  END AS entropy_norm
        |FROM g ORDER BY doc_id""".stripMargin,

    "dedup_cross_source" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS ch
        |  FROM documents
        |), g AS (
        |  SELECT ch, count(*) AS n_docs,
        |    count(DISTINCT source) AS n_sources,
        |    min(doc_id) AS canonical_id
        |  FROM h GROUP BY ch HAVING count(*) >= 2
        |)
        |SELECT ch, canonical_id, n_docs, n_sources,
        |  n_sources >= 2 AS cross_source
        |FROM g ORDER BY canonical_id""".stripMargin,

    "corpus_token_budget" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS q
        |  FROM documents
        |), src AS (
        |  SELECT source, CAST(sum(toks) AS BIGINT) AS tokens,
        |    CAST(sum(CAST(q AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mq
        |  FROM per GROUP BY source
        |), bud AS (
        |  SELECT CAST(sum(tokens) AS BIGINT) // 2 AS budget FROM src
        |), rk AS (
        |  SELECT a.source, a.tokens, a.mq, count(*) AS src_rank,
        |    CAST(sum(b.tokens) AS BIGINT) AS cum_tokens
        |  FROM src a JOIN src b
        |    ON b.mq > a.mq OR (b.mq = a.mq AND b.source <= a.source)
        |  GROUP BY a.source, a.tokens, a.mq
        |)
        |SELECT source, src_rank, tokens, cum_tokens,
        |  CASE WHEN cum_tokens - tokens >= budget THEN CAST(0.0 AS DOUBLE)
        |       WHEN cum_tokens <= budget THEN CAST(1.0 AS DOUBLE)
        |       ELSE floor(CAST(budget - (cum_tokens - tokens) AS DOUBLE)
        |                  / tokens * 1000000) / 1000000 END AS take_frac
        |FROM rk CROSS JOIN bud ORDER BY src_rank""".stripMargin,

    "doc_hill_tail" ->
      """WITH tc AS (
        |  SELECT lang, w, count(*) AS c FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY lang, w HAVING count(*) >= 5
        |), g AS (
        |  SELECT lang, count(*) AS n_tail,
        |    sum(CAST(ln(CAST(c AS DOUBLE) / 5.0) AS DECIMAL(38,18))) AS sl
        |  FROM tc GROUP BY lang
        |)
        |SELECT lang, n_tail,
        |  CASE WHEN sl > 0 THEN
        |    floor((CAST(1.0 AS DOUBLE) + CAST(n_tail AS DOUBLE)
        |           / CAST(sl AS DOUBLE)) * 1000000) / 1000000
        |  END AS hill_alpha
        |FROM g ORDER BY lang""".stripMargin,

    "similar_cluster_purity" ->
      s"""$KmeansCtes, cl AS (
         |  SELECT a.cluster, CAST(e.label AS BIGINT) AS label,
         |    count(*) AS n
         |  FROM a2 a JOIN embeddings e USING (vec_id)
         |  GROUP BY a.cluster, e.label
         |), r AS (
         |  SELECT cluster, label, n,
         |    CAST(sum(n) OVER (PARTITION BY cluster) AS BIGINT) AS n_vecs,
         |    row_number() OVER (PARTITION BY cluster
         |                       ORDER BY n DESC, label) AS rn
         |  FROM cl
         |)
         |SELECT cluster, n_vecs, label AS top_label,
         |  floor(CAST(n AS DOUBLE) / n_vecs * 1000000) / 1000000 AS purity
         |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin,

    "doc_jaccard_sources" ->
      """WITH sv AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), sizes AS (
        |  SELECT source, count(*) AS n FROM sv GROUP BY source
        |), inter AS (
        |  SELECT a.source AS a_source, b.source AS b_source,
        |    count(*) AS n_inter
        |  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
        |  GROUP BY a.source, b.source
        |)
        |SELECT i.a_source, i.b_source, i.n_inter,
        |  floor(CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter)
        |        * 1000000) / 1000000 AS jaccard
        |FROM inter i
        |JOIN sizes na ON na.source = i.a_source
        |JOIN sizes nb ON nb.source = i.b_source
        |ORDER BY a_source, b_source""".stripMargin,

    "dedup_threshold_curve" ->
      s"""$ShingleCtes, sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id
         |), j AS (
         |  SELECT i.a_id, i.b_id,
         |    floor((n_inter / (na.n + nb.n - n_inter)) * 1000000) / 1000000
         |      AS jaccard
         |  FROM inter i
         |  JOIN sizes na ON na.doc_id = i.a_id
         |  JOIN sizes nb ON nb.doc_id = i.b_id
         |), th AS (
         |  SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.7 AS DOUBLE),
         |                 CAST(0.8 AS DOUBLE), CAST(0.9 AS DOUBLE)])
         |    AS threshold
         |)
         |SELECT threshold, count(*) AS n_pairs,
         |  count(DISTINCT b_id) AS n_docs_dropped
         |FROM j CROSS JOIN th WHERE jaccard >= threshold
         |GROUP BY threshold ORDER BY threshold""".stripMargin,

    "decontaminate_substring" ->
      """WITH ev AS (
        |  SELECT substr(text, 1, 20) AS frag FROM documents
        |  WHERE doc_id % 97 = 0 AND len(substr(text, 1, 20)) >= 20
        |), bad AS (
        |  SELECT DISTINCT d.doc_id FROM documents d CROSS JOIN ev
        |  WHERE d.doc_id % 97 <> 0 AND position(ev.frag IN d.text) > 0
        |)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 97 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    "dedup_normalized" ->
      """WITH alld AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id, upper(text) || ' ~~ ' AS text
        |  FROM documents WHERE doc_id % 101 = 0
        |), h AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
        |  FROM alld
        |)
        |SELECT h, min(doc_id) AS canonical_id, count(*) AS n_dups
        |FROM h GROUP BY h HAVING count(*) > 1
        |ORDER BY canonical_id""".stripMargin,

    "embedding_norm_stats" ->
      s"""WITH nr AS (
         |  SELECT label,
         |    floor(sqrt(${dotSql("embedding", "embedding")}) * 1000000)
         |      / 1000000 AS nrm
         |  FROM embeddings
         |), st AS (
         |  SELECT label, count(*) AS n,
         |    CAST(sum(CAST(nrm AS DECIMAL(28,6))) AS DOUBLE) AS s,
         |    CAST(sum(CAST(nrm * nrm AS DECIMAL(38,12))) AS DOUBLE) AS ss
         |  FROM nr GROUP BY label
         |), ex AS (
         |  SELECT label, unnest(range(len(embedding))) AS pos,
         |    floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
         |      / 1000000 AS v
         |  FROM embeddings
         |), mv AS (
         |  SELECT label,
         |    floor(CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
         |      / count(*) * 1000000) / 1000000 AS mval
         |  FROM ex GROUP BY label, pos
         |), mvn AS (
         |  SELECT label,
         |    sqrt(CAST(sum(CAST(mval * mval AS DECIMAL(38,12))) AS DOUBLE))
         |      AS mvn_raw
         |  FROM mv GROUP BY label
         |)
         |SELECT st.label, n,
         |  floor(s / n * 1000000) / 1000000 AS mean_norm,
         |  floor(sqrt(greatest(ss / n - (s / n) * (s / n), 0.0))
         |    * 1000000) / 1000000 AS sd_norm,
         |  floor(mvn_raw * 1000000) / 1000000 AS mean_vec_norm,
         |  floor(mvn_raw / (s / n) * 1000000) / 1000000 AS anisotropy
         |FROM st JOIN mvn ON st.label = mvn.label
         |ORDER BY st.label""".stripMargin,

    "embedding_clip_audit" ->
      """WITH ex AS (
        |  SELECT CAST(unnest(generate_series(0, len(embedding) - 1))
        |      AS BIGINT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), pct AS (
        |  SELECT dim, quantile_cont(v, 0.01) AS p01,
        |    quantile_cont(v, 0.99) AS p99
        |  FROM ex GROUP BY dim
        |)
        |SELECT e.dim, count(*) AS n,
        |  floor(p.p01 * 1000000) / 1000000 AS p01,
        |  floor(p.p99 * 1000000) / 1000000 AS p99,
        |  count(CASE WHEN e.v < p.p01 THEN 1 END) AS n_below,
        |  count(CASE WHEN e.v > p.p99 THEN 1 END) AS n_above,
        |  floor(CAST(count(CASE WHEN e.v < p.p01 THEN 1 END)
        |    + count(CASE WHEN e.v > p.p99 THEN 1 END) AS DOUBLE)
        |    / count(*) * 1000000) / 1000000 AS clip_frac
        |FROM ex e JOIN pct p ON p.dim = e.dim
        |GROUP BY e.dim, p.p01, p.p99
        |ORDER BY e.dim""".stripMargin,

    "corpus_epoch_schedule" ->
      """WITH src AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
        |    CAST(sum(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS sw
        |  FROM src
        |)
        |SELECT source, n_tokens,
        |  floor(sqrt(CAST(n_tokens AS DOUBLE)) / sw * 1000000)
        |    / 1000000 AS weight,
        |  floor((sqrt(CAST(n_tokens AS DOUBLE)) / sw) * (2 * t_total)
        |    / n_tokens * 1000000) / 1000000 AS epochs,
        |  (sqrt(CAST(n_tokens AS DOUBLE)) / sw) * (2 * t_total)
        |    / n_tokens > 4.0 AS over_repeated
        |FROM src CROSS JOIN tot ORDER BY source""".stripMargin,

    "decontaminate_semantic" ->
      s"""WITH bench AS (
         |  SELECT vec_id AS b_id,
         |    list_transform(range(1, len(embedding) + 1),
         |      i -> CAST(embedding[i] AS DOUBLE) +
         |        CASE WHEN (i - 1) % 2 = 0 THEN 0.0078125
         |             ELSE -0.0078125 END) AS b_emb
         |  FROM embeddings WHERE vec_id % 97 = 0
         |), bad AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM embeddings a CROSS JOIN bench b
         |  WHERE round(${cosineSql("a.embedding", "b.b_emb")}, 6) >= 0.99
         |)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM bad)
         |ORDER BY vec_id""".stripMargin,

    "corpus_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, source, lang = 'en' AS tgt,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), voc AS (
        |  SELECT w, count(*) AS c_raw,
        |    count(CASE WHEN tgt THEN 1 END) AS c_tgt
        |  FROM tok GROUP BY w
        |), tot AS (
        |  SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
        |    CAST(sum(c_tgt) AS BIGINT) AS n_tgt,
        |    count(*) AS v
        |  FROM voc
        |), lr AS (
        |  SELECT w,
        |    ln(CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + v AS DOUBLE)) -
        |    ln(CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + v AS DOUBLE)) AS lr
        |  FROM voc CROSS JOIN tot
        |), pd AS (
        |  SELECT doc_id, source,
        |    floor(CAST(sum(CAST(lr AS DECIMAL(38,18))) AS DOUBLE)
        |      / count(*) * 1000000) / 1000000 AS dw
        |  FROM tok JOIN lr USING (w)
        |  GROUP BY doc_id, source
        |)
        |SELECT source, count(*) AS n_docs,
        |  floor(CAST(sum(CAST(dw AS DECIMAL(28,6))) AS DOUBLE)
        |    / count(*) * 1000000) / 1000000 AS mean_weight,
        |  floor(CAST(count(CASE WHEN dw > 0 THEN 1 END) AS DOUBLE)
        |    / count(*) * 1000000) / 1000000 AS sel_rate
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,

    "decontaminate_agreement" ->
      s"""$ShingleCtes, agw AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |), agg5 AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(w) - 3),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
         |           w[i+3] || ' ' || w[i+4])) AS shingle
         |  FROM agw WHERE len(w) >= 5
         |), agb AS (
         |  SELECT DISTINCT shingle FROM agg5 WHERE doc_id % 97 = 0
         |), f_ng AS (
         |  SELECT DISTINCT doc_id FROM agg5 JOIN agb USING (shingle)
         |  WHERE doc_id % 97 <> 0
         |), evb AS (
         |  SELECT DISTINCT band, band_key FROM bd WHERE doc_id % 97 = 0
         |), f_mh AS (
         |  SELECT DISTINCT b.doc_id FROM bd b JOIN evb e
         |    ON b.band = e.band AND b.band_key = e.band_key
         |  WHERE b.doc_id % 97 <> 0
         |), frg AS (
         |  SELECT substring(text, 1, 20) AS frag FROM documents
         |  WHERE doc_id % 97 = 0 AND length(substring(text, 1, 20)) >= 20
         |), f_sub AS (
         |  SELECT DISTINCT c.doc_id FROM documents c CROSS JOIN frg
         |  WHERE c.doc_id % 97 <> 0 AND contains(c.text, frg.frag)
         |), fl AS (
         |  SELECT 'ngram' AS method, doc_id FROM f_ng
         |  UNION ALL SELECT 'minhash', doc_id FROM f_mh
         |  UNION ALL SELECT 'substring', doc_id FROM f_sub
         |), cnt AS (
         |  SELECT method, count(*) AS n FROM fl GROUP BY method
         |), pr AS (
         |  SELECT a.method AS method_a, b.method AS method_b,
         |    count(*) AS n_both
         |  FROM fl a JOIN fl b USING (doc_id)
         |  WHERE a.method < b.method
         |  GROUP BY 1, 2
         |), sk AS (
         |  SELECT * FROM (VALUES ('minhash', 'ngram'),
         |    ('minhash', 'substring'), ('ngram', 'substring'))
         |    AS t(method_a, method_b)
         |)
         |SELECT sk.method_a, sk.method_b,
         |  coalesce(ca.n, 0) AS n_a, coalesce(cb.n, 0) AS n_b,
         |  coalesce(pr.n_both, 0) AS n_both,
         |  CASE WHEN coalesce(ca.n, 0) + coalesce(cb.n, 0)
         |      - coalesce(pr.n_both, 0) > 0
         |    THEN floor(CAST(coalesce(pr.n_both, 0) AS DOUBLE)
         |      / (coalesce(ca.n, 0) + coalesce(cb.n, 0)
         |         - coalesce(pr.n_both, 0)) * 1000000) / 1000000
         |  END AS jaccard
         |FROM sk
         |LEFT JOIN cnt ca ON ca.method = sk.method_a
         |LEFT JOIN cnt cb ON cb.method = sk.method_b
         |LEFT JOIN pr ON pr.method_a = sk.method_a
         |  AND pr.method_b = sk.method_b
         |ORDER BY sk.method_a, sk.method_b""".stripMargin,

    "similar_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
         |  FROM embeddings WHERE vec_id % 41 = 0
         |), c AS (
         |  SELECT q.q_id, q.q_label, e.vec_id AS hard_neg_id,
         |    e.label AS neg_label,
         |    round(${cosineSql("e.embedding", "q.q_emb")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.label <> q.q_label
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, hard_neg_id) AS rn
         |  FROM c
         |)
         |SELECT q_id, q_label, hard_neg_id, neg_label, sim
         |FROM r WHERE rn = 1 ORDER BY q_id""".stripMargin,

    "corpus_embedding_coverage" ->
      """SELECT source, count(*) AS n_docs,
        |  count(e.vec_id) AS n_embedded,
        |  floor(CAST(count(e.vec_id) AS DOUBLE) / count(*) * 1000000)
        |    / 1000000 AS coverage
        |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY source ORDER BY source""".stripMargin,

    "corpus_dup_inflation" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    md5(text) AS h
        |  FROM documents
        |), canon AS (
        |  SELECT h, min(doc_id) AS cid FROM d GROUP BY h
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  count(CASE WHEN doc_id <> cid THEN 1 END) AS n_dup_docs,
        |  CAST(coalesce(sum(CASE WHEN doc_id <> cid THEN toks END), 0)
        |    AS BIGINT) AS dup_tokens,
        |  floor(CAST(coalesce(sum(CASE WHEN doc_id <> cid THEN toks END),
        |      0) AS DOUBLE) / sum(toks) * 1000000) / 1000000
        |    AS dup_token_frac
        |FROM d JOIN canon USING (h)
        |GROUP BY source ORDER BY source""".stripMargin,

    "quality_rule_impact" ->
      """WITH w AS (
        |  SELECT text, string_split(text, ' ') AS w FROM documents
        |), v AS (
        |  SELECT CAST(len(w) AS BIGINT) AS toks,
        |    len(w) >= 50 AS r_len,
        |    len(list_filter(w, t -> lower(t) IN
        |      ('the','be','to','of','and','that','have','with'))) >= 2
        |      AS r_stop,
        |    CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
        |      AS DOUBLE) / len(w) >= 0.8 AS r_alpha,
        |    CAST(length(text) - length(replace(text, '#', ''))
        |      AS DOUBLE) / len(w) <= 0.1 AS r_symbol
        |  FROM w
        |), e AS (
        |  SELECT toks,
        |    (CASE WHEN r_len THEN 0 ELSE 1 END)
        |      + (CASE WHEN r_stop THEN 0 ELSE 1 END)
        |      + (CASE WHEN r_alpha THEN 0 ELSE 1 END)
        |      + (CASE WHEN r_symbol THEN 0 ELSE 1 END) AS nf,
        |    unnest(['alpha_frac', 'min_length', 'stopword',
        |      'symbol_frac']) AS rule,
        |    unnest([NOT r_alpha, NOT r_len, NOT r_stop, NOT r_symbol])
        |      AS fail
        |  FROM v
        |)
        |SELECT rule, count(*) AS n_docs,
        |  count(CASE WHEN fail THEN 1 END) AS n_fail,
        |  CAST(coalesce(sum(CASE WHEN fail THEN toks END), 0) AS BIGINT)
        |    AS tokens_lost,
        |  count(CASE WHEN fail AND nf = 1 THEN 1 END) AS n_only_fail,
        |  floor(CAST(count(CASE WHEN fail THEN 1 END) AS DOUBLE)
        |    / count(*) * 1000000) / 1000000 AS fail_rate
        |FROM e GROUP BY rule ORDER BY rule""".stripMargin,

    "doc_boilerplate_prefix" ->
      """WITH w AS (
        |  SELECT source, string_split(text, ' ') AS w FROM documents
        |), p AS (
        |  SELECT source, array_to_string(w[1:5], ' ') AS prefix
        |  FROM w WHERE len(w) >= 5
        |), c AS (
        |  SELECT source, prefix, count(*) AS c FROM p GROUP BY 1, 2
        |), r AS (
        |  SELECT source, prefix, c,
        |    sum(c) OVER (PARTITION BY source) AS n_docs,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, prefix) AS rn
        |  FROM c
        |)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  prefix AS top_prefix, c AS n_top,
        |  floor(CAST(c AS DOUBLE) / n_docs * 1000000) / 1000000
        |    AS top_share
        |FROM r WHERE rn = 1 ORDER BY source""".stripMargin,

    "similar_ivf_probe_curve" -> {
      val arms = Seq(1, 2, 4).map { np =>
        s"""SELECT $np AS nprobe, count(*) AS k_exact,
           |  count(h.vec_id) AS n_hit,
           |  floor((CAST(count(h.vec_id) AS DOUBLE) / count(*))
           |    * 1000000) / 1000000 AS recall
           |FROM ex LEFT JOIN (
           |  SELECT a.vec_id FROM a2 a
           |  JOIN (SELECT cluster FROM c2 CROSS JOIN q
           |        ORDER BY ${cosineSql("c2.cvec", "q.qvec")} DESC,
           |          cluster LIMIT $np) qc
           |    ON a.cluster = qc.cluster
           |  CROSS JOIN q WHERE a.vec_id <> 0
           |  ORDER BY round(${cosineSql("a.embedding", "q.qvec")}, 6)
           |    DESC, a.vec_id LIMIT 10
           |) h ON ex.vec_id = h.vec_id""".stripMargin
      }
      s"""$KmeansCtes, q AS (
         |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
         |), ex AS (
         |  SELECT e.vec_id FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> 0
         |  ORDER BY round(${cosineSql("e.embedding", "q.qvec")}, 6)
         |    DESC, e.vec_id LIMIT 10
         |)
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY nprobe""".stripMargin
    },

    // powers are the SAME explicit squaring chains as the Spark side
    // (s², s⁴, s⁸ …) — identical IEEE trees, no libm pow
    "dedup_band_tuning" -> {
      def pw(x: String, e: Int): String =
        if (e == 1) x else { val h = pw(x, e / 2); s"($h * $h)" }
      def p(b: Int, r: Int): String =
        s"(1 - ${pw(s"(1 - ${pw("jaccard", r)})", b)})"
      val arms = Seq((2, 8), (4, 4), (8, 2), (16, 1)).map { case (b, r) =>
        s"""SELECT $b AS bands, $r AS rows_per_band,
           |  count(*) AS n_pairs,
           |  floor(CAST(sum(CAST(${p(b, r)} AS DECIMAL(38,18)))
           |    AS DOUBLE) * 1000000) / 1000000 AS exp_candidates,
           |  count(CASE WHEN jaccard >= 0.8 THEN 1 END) AS n_high,
           |  CASE WHEN count(CASE WHEN jaccard >= 0.8 THEN 1 END) > 0
           |    THEN floor(CAST(sum(CASE WHEN jaccard >= 0.8
           |        THEN CAST(${p(b, r)} AS DECIMAL(38,18)) END) AS DOUBLE)
           |      / count(CASE WHEN jaccard >= 0.8 THEN 1 END)
           |      * 1000000) / 1000000
           |  END AS exp_recall_high
           |FROM j""".stripMargin
      }
      s"""$ShingleCtes, sizes AS (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY c.a_id, c.b_id
         |), j AS (
         |  SELECT i.a_id, i.b_id,
         |    floor((n_inter / (na.n + nb.n - n_inter)) * 1000000) / 1000000
         |      AS jaccard
         |  FROM inter i
         |  JOIN sizes na ON na.doc_id = i.a_id
         |  JOIN sizes nb ON nb.doc_id = i.b_id
         |)
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY bands""".stripMargin
    },

    "doc_source_kl" ->
      """WITH sw AS (
        |  SELECT source, w, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY source, w
        |), corpus AS (
        |  SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sw GROUP BY w
        |), totals AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_src
        |  FROM sw GROUP BY source
        |), ct AS (
        |  SELECT CAST(sum(cw) AS BIGINT) AS n_corpus FROM corpus
        |)
        |SELECT sw.source, t.n_src AS n_tokens, count(*) AS vocab_src,
        |  floor(CAST(sum(CAST(
        |    (CAST(c AS DOUBLE) / t.n_src) *
        |    ln((CAST(c AS DOUBLE) / t.n_src) /
        |       (CAST(cw AS DOUBLE) / n_corpus))
        |    AS DECIMAL(38,18))) AS DOUBLE) * 1000000) / 1000000 AS kl_nats
        |FROM sw JOIN corpus USING (w)
        |JOIN totals t ON t.source = sw.source
        |CROSS JOIN ct
        |GROUP BY sw.source, t.n_src
        |ORDER BY sw.source""".stripMargin,

    "doc_js_divergence" ->
      """WITH sw AS (
        |  SELECT source, w, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY source, w
        |), totals AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n
        |  FROM sw GROUP BY source
        |), p AS (
        |  SELECT sw.source, sw.w, CAST(sw.c AS DOUBLE) / t.n AS pr
        |  FROM sw JOIN totals t ON t.source = sw.source
        |), pair AS (
        |  SELECT a.source AS a_source, b.source AS b_source,
        |    a.pr AS pa, b.pr AS pb, (a.pr + b.pr) / 2 AS m
        |  FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
        |), agg AS (
        |  SELECT a_source, b_source, count(*) AS n_inter,
        |    sum(CAST(-m * ln(m) AS DECIMAL(38,18))) AS hm,
        |    sum(CAST(-pa * ln(pa) AS DECIMAL(38,18))) AS ha,
        |    sum(CAST(-pb * ln(pb) AS DECIMAL(38,18))) AS hb,
        |    sum(CAST(pa AS DECIMAL(38,18))) AS pamass,
        |    sum(CAST(pb AS DECIMAL(38,18))) AS pbmass
        |  FROM pair GROUP BY a_source, b_source
        |)
        |SELECT a_source, b_source, n_inter,
        |  floor((CAST(hm AS DOUBLE) - CAST(ha AS DOUBLE) / 2
        |    - CAST(hb AS DOUBLE) / 2
        |    + ln(2.0) / 2 * (2.0 - CAST(pamass AS DOUBLE)
        |      - CAST(pbmass AS DOUBLE))) * 1000000) / 1000000 AS jsd_nats
        |FROM agg ORDER BY a_source, b_source""".stripMargin,

    "corpus_shard_balance" ->
      """WITH per AS (
        |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT shard, count(*) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens
        |  FROM per GROUP BY shard
        |), tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM sh
        |)
        |SELECT shard, n_docs, n_tokens,
        |  floor(CAST(n_tokens AS DOUBLE) / tot * 1000000) / 1000000
        |    AS token_share,
        |  floor(CAST(n_tokens AS DOUBLE) * 16 / tot * 1000000) / 1000000
        |    AS skew
        |FROM sh CROSS JOIN tot ORDER BY shard""".stripMargin,

    "corpus_split_assign" ->
      """WITH per AS (
        |  SELECT source,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 2)
        |              < 'cd' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 2)
        |              < 'e6' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |), census AS (
        |  SELECT source, split, count(*) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens
        |  FROM per GROUP BY source, split
        |), st AS (
        |  SELECT source, CAST(sum(n_docs) AS BIGINT) AS src_docs
        |  FROM census GROUP BY source
        |)
        |SELECT c.source, c.split, c.n_docs, c.n_tokens,
        |  floor(CAST(c.n_docs AS DOUBLE) / src_docs * 1000000) / 1000000
        |    AS doc_share
        |FROM census c JOIN st ON st.source = c.source
        |ORDER BY c.source, c.split""".stripMargin,

    "doc_vocab_growth" ->
      """WITH bounds AS (
        |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
        |), cuts AS (
        |  SELECT CAST(d.decile AS INTEGER) AS decile,
        |    CAST(lo - 1 + ((hi - lo + 1) * d.decile) // 10 AS BIGINT)
        |      AS cutoff
        |  FROM bounds, (SELECT unnest(range(1, 11)) AS decile) d
        |), firstdoc AS (
        |  SELECT w, min(doc_id) AS fd FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY w
        |), vocab_at AS (
        |  SELECT decile, cutoff, count(*) AS vocab
        |  FROM firstdoc CROSS JOIN cuts WHERE fd <= cutoff
        |  GROUP BY decile, cutoff
        |), toks_at AS (
        |  SELECT decile, count(*) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |        FROM documents) d
        |  CROSS JOIN cuts WHERE doc_id <= cutoff
        |  GROUP BY decile
        |)
        |SELECT v.decile, v.cutoff, t.n_docs, t.n_tokens, v.vocab,
        |  CASE WHEN t.n_tokens > 1 THEN
        |    floor(ln(CAST(v.vocab AS DOUBLE)) /
        |          ln(CAST(t.n_tokens AS DOUBLE)) * 1000000) / 1000000
        |  END AS heaps_ratio
        |FROM vocab_at v JOIN toks_at t USING (decile)
        |ORDER BY v.decile""".stripMargin,

    // ---- r11 additions ----------------------------------------------

    "similar_matryoshka_topk" ->
      s"""WITH q AS (
         |  SELECT embedding AS qvec, embedding[1:16] AS qhead
         |  FROM embeddings WHERE vec_id = 0
         |), coarse AS (
         |  SELECT e.vec_id,
         |    round(${cosineSql("e.embedding[1:16]", "q.qhead")}, 6)
         |      AS sim_head,
         |    e.embedding, q.qvec
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY sim_head DESC, e.vec_id LIMIT 40
         |)
         |SELECT vec_id, sim_head,
         |  round(${cosineSql("embedding", "qvec")}, 6) AS sim
         |FROM coarse ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "similar_matryoshka_recall" ->
      s"""WITH q AS (
         |  SELECT embedding AS qvec, embedding[1:16] AS qhead
         |  FROM embeddings WHERE vec_id = 0
         |), coarse AS (
         |  SELECT e.vec_id,
         |    round(${cosineSql("e.embedding[1:16]", "q.qhead")}, 6)
         |      AS sim_head
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY sim_head DESC, e.vec_id LIMIT 40
         |), exact AS (
         |  SELECT e.vec_id,
         |    round(${cosineSql("e.embedding", "q.qvec")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY sim DESC, e.vec_id LIMIT 5
         |)
         |SELECT count(*) AS k_exact, count(c.sim_head) AS n_in_coarse,
         |  floor(count(c.sim_head) * 1000000.0 / count(*)) / 1000000
         |    AS recall
         |FROM exact x LEFT JOIN coarse c ON x.vec_id = c.vec_id""".stripMargin,

    "text_ngram_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |           w[i+3])) AS gram
        |  FROM w WHERE len(w) >= 4
        |), pos AS (
        |  SELECT doc_id, gram, count(*) AS positions
        |  FROM g GROUP BY doc_id, gram
        |), fd AS (
        |  SELECT gram, min(doc_id) AS first_doc FROM pos GROUP BY gram
        |)
        |SELECT p.doc_id,
        |  CAST(sum(p.positions) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = p.doc_id
        |    THEN p.positions ELSE 0 END) AS BIGINT) AS n_novel,
        |  floor(CAST(sum(CASE WHEN f.first_doc = p.doc_id
        |      THEN p.positions ELSE 0 END) AS DOUBLE)
        |    / sum(p.positions) * 1000000) / 1000000 AS novelty
        |FROM pos p JOIN fd f USING (gram)
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,

    "multimodal_image_formats" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'gif'
        |    WHEN 1 THEN 'bmp' WHEN 2 THEN 'webp'
        |    ELSE 'unknown' END AS format,
        |  CASE WHEN doc_id % 4 = 3 THEN NULL
        |    ELSE CAST(8 + (n_chars * 3) % 4000 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 4 = 3 THEN NULL
        |    ELSE CAST(8 + (doc_id * 13) % 3000 AS BIGINT) END AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "quality_linear_score" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), wt AS (
        |  SELECT doc_id,
        |    CAST((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1)
        |       - 2048 AS DOUBLE) / 2048 AS wt
        |  FROM tok
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_words, sum(wt) AS score
        |  FROM wt GROUP BY doc_id
        |)
        |SELECT doc_id, n_words,
        |  floor(score * 1000000) / 1000000 AS score,
        |  floor(1.0 / (1.0 + exp(-score / 8)) * 1000000) / 1000000
        |    AS prob,
        |  score > 0 AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    "corpus_pack_waste" ->
      """WITH toks AS (
        |  SELECT len(string_split(text, ' ')) AS toks FROM documents
        |), lens AS (
        |  SELECT unnest([512, 1024, 2048]) AS ctx_len
        |), x AS (
        |  SELECT CAST(l.ctx_len AS BIGINT) AS ctx_len,
        |    CAST(t.toks AS BIGINT) AS toks,
        |    (t.toks + l.ctx_len - 1) // l.ctx_len AS chunks
        |  FROM toks t CROSS JOIN lens l
        |)
        |SELECT ctx_len, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(chunks) AS BIGINT) AS n_chunks,
        |  floor((1 - CAST(sum(toks) AS DOUBLE) /
        |    (CAST(sum(chunks) AS BIGINT) * ctx_len)) * 1000000) / 1000000
        |    AS pad_frac
        |FROM x GROUP BY ctx_len ORDER BY ctx_len""".stripMargin,

    "graph_link_pred" ->
      s"""$ShingleCtes, e AS (
         |  SELECT a_id AS u, b_id AS v FROM cand
         |  UNION ALL
         |  SELECT b_id AS u, a_id AS v FROM cand
         |), deg AS (
         |  SELECT u, count(*) AS deg FROM e GROUP BY u
         |), mids AS (
         |  SELECT e.u AS mid, e.v FROM e
         |  JOIN deg ON deg.u = e.u AND deg.deg <= 32
         |), pairs AS (
         |  SELECT a.v AS a_id, b.v AS b_id, count(*) AS cn
         |  FROM mids a JOIN mids b ON a.mid = b.mid AND a.v < b.v
         |  GROUP BY a.v, b.v
         |), np AS (
         |  SELECT p.* FROM pairs p
         |  WHERE NOT EXISTS (SELECT 1 FROM cand c
         |    WHERE c.a_id = p.a_id AND c.b_id = p.b_id)
         |)
         |SELECT np.a_id, np.b_id, np.cn,
         |  da.deg AS deg_a, db.deg AS deg_b,
         |  floor(CAST(np.cn AS DOUBLE) / (da.deg + db.deg - np.cn)
         |    * 1000000) / 1000000 AS nbr_jaccard
         |FROM np
         |JOIN deg da ON da.u = np.a_id
         |JOIN deg db ON db.u = np.b_id
         |ORDER BY np.cn DESC, np.a_id, np.b_id LIMIT 20""".stripMargin,

    "corpus_length_percentiles" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |)
        |SELECT source, count(*) AS n_docs,
        |  floor(CAST(sum(CAST(toks AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*) * 1000000) / 1000000 AS mean_toks,
        |  floor(quantile_cont(toks, 0.1) * 1000000) / 1000000 AS p10,
        |  floor(quantile_cont(toks, 0.5) * 1000000) / 1000000 AS p50,
        |  floor(quantile_cont(toks, 0.9) * 1000000) / 1000000 AS p90
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "corpus_source_gini" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(CAST(len(string_split(text, ' '))
        |      AS DECIMAL(18,6))) AS BIGINT) AS n_toks
        |  FROM documents GROUP BY source
        |), rt AS (
        |  SELECT p.source, p.n_toks, count(*) AS rk
        |  FROM per p JOIN per b
        |    ON b.n_toks < p.n_toks
        |    OR (b.n_toks = p.n_toks AND b.source <= p.source)
        |  GROUP BY p.source, p.n_toks
        |), gt AS (
        |  SELECT count(*) AS n_sources,
        |    CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |    floor((2.0 * sum(rk * n_toks)
        |      / (count(*) * sum(n_toks))
        |      - (count(*) + 1.0) / count(*)) * 1000000) / 1000000
        |      AS gini_tokens
        |  FROM rt
        |), rd AS (
        |  SELECT p.source, p.n_docs, count(*) AS rk
        |  FROM per p JOIN per b
        |    ON b.n_docs < p.n_docs
        |    OR (b.n_docs = p.n_docs AND b.source <= p.source)
        |  GROUP BY p.source, p.n_docs
        |), gd AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
        |    floor((2.0 * sum(rk * n_docs)
        |      / (count(*) * sum(n_docs))
        |      - (count(*) + 1.0) / count(*)) * 1000000) / 1000000
        |      AS gini_docs
        |  FROM rd
        |)
        |SELECT n_sources, total_docs, total_tokens, gini_docs,
        |  gini_tokens
        |FROM gt CROSS JOIN gd""".stripMargin,

    "doc_chi2_terms" ->
      """WITH wdf AS (
        |  SELECT source, w AS word, count(*) AS a FROM (
        |    SELECT DISTINCT doc_id, source,
        |      unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY source, w
        |), wt AS (
        |  SELECT word, CAST(sum(a) AS BIGINT) AS wt FROM wdf GROUP BY word
        |), sd AS (
        |  SELECT source, count(*) AS sd FROM documents GROUP BY source
        |), nt AS (SELECT count(*) AS n_total FROM documents),
        |sc AS (
        |  SELECT source, word, df_in, df_total,
        |    nd * (ad - bc) * (ad - bc)
        |      / (wtd * nwt * sdd * nsd) AS chi2_raw
        |  FROM (
        |    SELECT f.source, f.word, f.a AS df_in, wt.wt AS df_total,
        |      CAST(nt.n_total AS DOUBLE) AS nd,
        |      CAST(f.a AS DOUBLE)
        |        * CAST(nt.n_total - wt.wt - sd.sd + f.a AS DOUBLE) AS ad,
        |      CAST(wt.wt - f.a AS DOUBLE)
        |        * CAST(sd.sd - f.a AS DOUBLE) AS bc,
        |      CAST(wt.wt AS DOUBLE) AS wtd,
        |      CAST(nt.n_total - wt.wt AS DOUBLE) AS nwt,
        |      CAST(sd.sd AS DOUBLE) AS sdd,
        |      CAST(nt.n_total - sd.sd AS DOUBLE) AS nsd
        |    FROM wdf f JOIN wt USING (word) JOIN sd USING (source)
        |    CROSS JOIN nt
        |    WHERE wt.wt >= 5
        |  )
        |), rk AS (
        |  SELECT source, word, df_in, df_total, chi2_raw,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY chi2_raw DESC, word) AS term_rank
        |  FROM sc
        |)
        |SELECT source, term_rank, word, df_in, df_total,
        |  floor(chi2_raw * 1000000) / 1000000 AS chi2
        |FROM rk WHERE term_rank <= 5 ORDER BY source, term_rank""".stripMargin,

    "dedup_canonical_quality" ->
      s"""WITH RECURSIVE $ShingleBody, edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION
         |  SELECT b_id AS src, a_id AS dst FROM cand
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), lab AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), mem AS (
         |  SELECT l.doc_id, l.cluster_id,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words
         |  FROM lab l JOIN documents d USING (doc_id)
         |), best AS (
         |  SELECT cluster_id, doc_id AS canonical_quality,
         |    n_words AS canonical_words
         |  FROM (SELECT cluster_id, doc_id, n_words,
         |          row_number() OVER (PARTITION BY cluster_id
         |            ORDER BY n_words DESC, doc_id) AS rn
         |        FROM mem) WHERE rn = 1
         |), agg AS (
         |  SELECT cluster_id, count(*) AS n_members,
         |    min(doc_id) AS canonical_naive
         |  FROM mem GROUP BY cluster_id
         |)
         |SELECT a.cluster_id, a.n_members, a.canonical_naive,
         |  b.canonical_quality, b.canonical_words,
         |  a.canonical_naive <> b.canonical_quality AS differs
         |FROM agg a JOIN best b USING (cluster_id)
         |ORDER BY a.cluster_id""".stripMargin,

    "embedding_corr_audit" ->
      """WITH dims AS (
        |  SELECT i AS d, count(*) AS n,
        |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |      * CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS sxx
        |  FROM embeddings, range(1, 65) t(i)
        |  GROUP BY i
        |), dstats AS (
        |  SELECT d, n, sx / n AS mu,
        |    sqrt(greatest(sxx / n - (sx / n) * (sx / n),
        |      CAST(0 AS DOUBLE))) AS sd
        |  FROM dims
        |), cells AS (
        |  SELECT i AS di, j AS dj, count(*) AS n_vecs,
        |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
        |      * CAST(embedding[j] AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS sxy
        |  FROM embeddings, range(1, 65) ti(i), range(1, 65) tj(j)
        |  WHERE j > i
        |  GROUP BY i, j
        |), sc AS (
        |  SELECT c.di, c.dj, c.n_vecs,
        |    c.sxy / c.n_vecs - a.mu * b.mu AS cov_raw,
        |    CASE WHEN a.sd > 0 AND b.sd > 0
        |         THEN (c.sxy / c.n_vecs - a.mu * b.mu) / (a.sd * b.sd)
        |    END AS corr_raw
        |  FROM cells c JOIN dstats a ON a.d = c.di
        |  JOIN dstats b ON b.d = c.dj
        |)
        |SELECT di, dj, n_vecs,
        |  floor(cov_raw * 1000000) / 1000000 AS cov,
        |  floor(corr_raw * 1000000) / 1000000 AS corr
        |FROM sc ORDER BY abs(corr_raw) DESC, di, dj
        |LIMIT 10""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $ShingleBody, edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION
         |  SELECT b_id AS src, a_id AS dst FROM cand
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), lab AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src
         |), sizes AS (
         |  SELECT cluster_id, count(*) AS sz FROM lab GROUP BY cluster_id
         |)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(sum(sz) - count(*) AS BIGINT) AS n_removable
         |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin,

    "doc_winnowing" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(string_split(text, ' ')) - 3),
        |      i -> substr(md5(array_to_string(
        |        string_split(text, ' ')[i:i+4], ' ')), 1, 8)) AS g
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
        |    list_distinct(list_transform(range(1, len(g) - 2),
        |      s -> struct_extract(list_reduce(
        |          list_transform(range(s, s + 4),
        |            j -> struct_pack(h := g[j], p := j)),
        |          (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END), 'h')
        |        || ':' ||
        |        CAST(struct_extract(list_reduce(
        |          list_transform(range(s, s + 4),
        |            j -> struct_pack(h := g[j], p := j)),
        |          (a, b) -> CASE WHEN b.h <= a.h THEN b ELSE a END), 'p')
        |          AS VARCHAR))) AS fp
        |  FROM g WHERE len(g) >= 4
        |)
        |SELECT doc_id, n_grams,
        |  n_grams - 3 AS n_windows,
        |  CAST(len(fp) AS BIGINT) AS n_fingerprints,
        |  floor(CAST(len(fp) AS DOUBLE) / (n_grams - 3) * 1000000)
        |    / 1000000 AS density
        |FROM f ORDER BY doc_id""".stripMargin,

    "corpus_source_diversity" ->
      s"""WITH $ShingleBody, j AS (
         |  SELECT d.source, m.h, m.minhash
         |  FROM mh m JOIN documents d USING (doc_id)
         |), nd AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS nd FROM (
         |    SELECT DISTINCT d.source, m.doc_id
         |    FROM mh m JOIN documents d USING (doc_id))
         |  GROUP BY source
         |), cc AS (
         |  SELECT source, CAST(sum(c * (c - 1)) AS BIGINT) AS tcc FROM (
         |    SELECT source, h, minhash, count(*) AS c
         |    FROM j GROUP BY 1, 2, 3)
         |  GROUP BY source
         |)
         |SELECT cc.source, nd.nd AS n_docs_sig,
         |  CASE WHEN nd.nd > 1
         |       THEN floor(CAST(cc.tcc AS DOUBLE)
         |         / (8.0 * nd.nd * (nd.nd - 1)) * 1000000) / 1000000
         |  END AS est_pairwise_jaccard
         |FROM cc JOIN nd USING (source)
         |ORDER BY cc.source""".stripMargin,

    "corpus_lang_mix" ->
      """WITH g AS (
        |  SELECT source, lang, count(*) AS n FROM documents
        |  GROUP BY source, lang
        |), tot AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS sn FROM g
        |  GROUP BY source
        |), j AS (
        |  SELECT g.source, g.lang, g.n, tot.sn,
        |    CAST(g.n AS DOUBLE) / tot.sn AS p,
        |    row_number() OVER (PARTITION BY g.source
        |      ORDER BY g.n DESC, g.lang) AS rk
        |  FROM g JOIN tot USING (source)
        |)
        |SELECT source, max(sn) AS n_docs, count(*) AS n_langs,
        |  max(CASE WHEN rk = 1 THEN lang END) AS majority_lang,
        |  floor(max(CASE WHEN rk = 1 THEN p END) * 1000000) / 1000000
        |    AS majority_share,
        |  floor(CAST(sum(CAST(-p * ln(p) AS DECIMAL(38,12))) AS DOUBLE)
        |    * 1000000) / 1000000 AS lang_entropy
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "multimodal_audio_rms" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(sum(((doc_id * 31 + i * 17) % 4096)
        |      * ((doc_id * 31 + i * 17) % 4096)) AS BIGINT) AS ss,
        |    CAST(max((doc_id * 31 + i * 17) % 4096) AS BIGINT) AS pk
        |  FROM documents, range(0, 64) t(i) GROUP BY doc_id
        |)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 7 <> 0 THEN CAST(64 AS BIGINT) END
        |    AS n_samples,
        |  CASE WHEN d.doc_id % 7 <> 0
        |       THEN floor(sqrt(CAST(s.ss AS DOUBLE) / 64) * 1000000)
        |         / 1000000 END AS rms,
        |  CASE WHEN d.doc_id % 7 <> 0 THEN s.pk END AS peak
        |FROM documents d JOIN s USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    "dedup_quality_cross" ->
      s"""WITH RECURSIVE $ShingleBody, edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION
         |  SELECT b_id AS src, a_id AS dst FROM cand
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), dup AS (
         |  SELECT DISTINCT src AS doc_id FROM reach
         |), wr AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |), st AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(length(array_to_string(w, '')) AS DOUBLE) / len(w)
         |      AS mean_len,
         |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dratio
         |  FROM wr
         |), q AS (
         |  SELECT st.doc_id,
         |    (n_words >= 50 AND n_words <= 100000)
         |      AND (mean_len >= 3.0 AND mean_len <= 10.0)
         |      AND dratio > 0.3 AS q_pass,
         |    dup.doc_id IS NOT NULL AS is_dup
         |  FROM st LEFT JOIN dup ON st.doc_id = dup.doc_id
         |), cls AS (
         |  SELECT is_dup, q_pass, count(*) AS n_docs FROM q GROUP BY 1, 2
         |), gt AS (
         |  SELECT is_dup, CAST(sum(n_docs) AS BIGINT) AS gn
         |  FROM cls GROUP BY 1
         |), tt AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS tn FROM cls
         |)
         |SELECT c.is_dup, c.q_pass, c.n_docs,
         |  floor(CAST(c.n_docs AS DOUBLE) / gt.gn * 1000000) / 1000000
         |    AS group_share,
         |  floor(CAST(c.n_docs AS DOUBLE) / tt.tn * 1000000) / 1000000
         |    AS overall_share
         |FROM cls c JOIN gt USING (is_dup) CROSS JOIN tt
         |ORDER BY c.is_dup, c.q_pass""".stripMargin,

    "corpus_quality_tradeoff" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    floor((least(1.0, (len(string_split(text, ' ')) * 1.0) / 64.0)
        |        * 0.5
        |      + least(1.0, (len(list_filter(string_split(text, ' '),
        |          x -> list_contains(['the','a','of','and','to','in','is'],
        |                             x))) * 1.0
        |          / len(string_split(text, ' '))) * 5.0) * 0.25
        |      + least(1.0, ((length(text) - (len(string_split(text, ' '))
        |          - 1)) * 1.0 / len(string_split(text, ' '))) / 8.0)
        |        * 0.25) * 1000000) / 1000000 AS quality
        |  FROM documents
        |), r AS (
        |  SELECT toks, quality,
        |    ntile(10) OVER (ORDER BY quality DESC, doc_id) AS decile
        |  FROM f
        |), g AS (
        |  SELECT decile, count(*) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS d_toks,
        |    CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS qs
        |  FROM r GROUP BY decile
        |), c AS (
        |  SELECT decile, n_docs, d_toks, qs,
        |    CAST(sum(d_toks) OVER (ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(d_toks) OVER () AS BIGINT) AS tot
        |  FROM g
        |)
        |SELECT decile, n_docs,
        |  floor(qs / n_docs * 1000000) / 1000000 AS mean_quality,
        |  floor(CAST(d_toks AS DOUBLE) / tot * 1000000) / 1000000
        |    AS token_share,
        |  floor(CAST(cum AS DOUBLE) / tot * 1000000) / 1000000
        |    AS cum_token_share
        |FROM c ORDER BY decile""".stripMargin,

    "corpus_length_outliers" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |), r1 AS (
        |  SELECT source, toks,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY toks, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM t
        |), a1 AS (
        |  SELECT source,
        |    max(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN toks END)
        |      AS lo,
        |    max(CASE WHEN rn = (50 * (n - 1)) // 100 + 2 THEN toks END)
        |      AS hi,
        |    max(((50 * (n - 1)) % 100) / CAST(100 AS DOUBLE)) AS f
        |  FROM r1 GROUP BY source
        |), m1 AS (
        |  SELECT source, lo + (coalesce(hi, lo) - lo) * f AS med FROM a1
        |), d1 AS (
        |  SELECT t.source, t.doc_id, abs(t.toks - m1.med) AS d
        |  FROM t JOIN m1 USING (source)
        |), r2 AS (
        |  SELECT source, d,
        |    row_number() OVER (PARTITION BY source ORDER BY d, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM d1
        |), a2 AS (
        |  SELECT source,
        |    max(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN d END)
        |      AS lo,
        |    max(CASE WHEN rn = (50 * (n - 1)) // 100 + 2 THEN d END)
        |      AS hi,
        |    max(((50 * (n - 1)) % 100) / CAST(100 AS DOUBLE)) AS f
        |  FROM r2 GROUP BY source
        |), m2 AS (
        |  SELECT source, lo + (coalesce(hi, lo) - lo) * f AS mad FROM a2
        |), g AS (
        |  SELECT t.source, count(*) AS n_docs,
        |    max(m1.med) AS med_raw, max(m2.mad) AS mad_raw,
        |    count(CASE WHEN abs(t.toks - m1.med) > 3.0 * 1.4826 * m2.mad
        |               THEN 1 END) AS n_outliers
        |  FROM t JOIN m1 USING (source) JOIN m2 USING (source)
        |  GROUP BY t.source
        |)
        |SELECT source, n_docs,
        |  floor(med_raw * 1000000) / 1000000 AS median_toks,
        |  floor(mad_raw * 1000000) / 1000000 AS mad_toks,
        |  n_outliers,
        |  floor(CAST(n_outliers AS DOUBLE) / n_docs * 1000000) / 1000000
        |    AS outlier_frac
        |FROM g ORDER BY source""".stripMargin,

    "embedding_label_drift" ->
      """WITH bl AS (
        |  SELECT label, i AS pos, count(*) AS n,
        |    sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,12)))
        |      AS sx
        |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i
        |), gl AS (
        |  SELECT pos, CAST(sum(sx) AS DOUBLE) / sum(n) AS g
        |  FROM bl GROUP BY pos
        |), j AS (
        |  SELECT bl.label, bl.n, CAST(bl.sx AS DOUBLE) / bl.n AS c, gl.g
        |  FROM bl JOIN gl USING (pos)
        |), a AS (
        |  SELECT label, max(n) AS n_vecs,
        |    CAST(sum(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE) AS cc,
        |    CAST(sum(CAST(g * g AS DECIMAL(38,12))) AS DOUBLE) AS gg,
        |    CAST(sum(CAST(c * g AS DECIMAL(38,12))) AS DOUBLE) AS cg
        |  FROM j GROUP BY label
        |)
        |SELECT label, n_vecs,
        |  floor(sqrt(cc) * 1000000) / 1000000 AS centroid_norm,
        |  CASE WHEN cc > 0 AND gg > 0
        |       THEN floor(cg / (sqrt(cc) * sqrt(gg)) * 1000000) / 1000000
        |  END AS cos_to_global
        |FROM a ORDER BY label""".stripMargin,

    "bpe_token_length_hist" -> {
      // the bpe_encode_count training chain, rolled up to the
      // tokens-per-word census with type- and occurrence-weighted shares
      val stepCtes = (1 to 3).map { i =>
        s"""p$i AS (
           |  SELECT sy[i] AS s1, sy[i+1] AS s2, CAST(sum(c) AS BIGINT) AS pc
           |  FROM (SELECT c, string_split(seg, ' ') AS sy FROM seg$i) q,
           |       unnest(range(1, len(sy))) AS t(i)
           |  GROUP BY s1, s2
           |), b$i AS (
           |  SELECT s1, s2, pc,
           |    '·' || replace(s1, '·', '') || replace(s2, '·', '') || '·' AS m
           |  FROM p$i ORDER BY pc DESC, s1, s2 LIMIT 1
           |), seg${i + 1} AS (
           |  SELECT w, c, replace(seg, (SELECT s1 || ' ' || s2 FROM b$i),
           |                       (SELECT m FROM b$i)) AS seg
           |  FROM seg$i
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH words AS (
         |  SELECT w, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) > 0 GROUP BY w
         |), seg1 AS (
         |  SELECT w, c, array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> '·' || w[i] || '·'), ' ') AS seg
         |  FROM words
         |), $stepCtes, wt AS (
         |  SELECT w, c, len(string_split(seg, ' ')) AS t FROM seg4
         |), h AS (
         |  SELECT least(t, 5) AS token_len, count(*) AS n_words,
         |    CAST(sum(c) AS BIGINT) AS n_occ
         |  FROM wt GROUP BY 1
         |), tt AS (
         |  SELECT CAST(sum(n_words) AS BIGINT) AS tw,
         |    CAST(sum(n_occ) AS BIGINT) AS t_occ
         |  FROM h
         |)
         |SELECT token_len, n_words, n_occ,
         |  floor(CAST(n_words AS DOUBLE) / tw * 1000000) / 1000000
         |    AS word_share,
         |  floor(CAST(n_occ AS DOUBLE) / t_occ * 1000000) / 1000000
         |    AS occ_share
         |FROM h CROSS JOIN tt ORDER BY token_len""".stripMargin
    },
  )

  /** Shared simhash CTE: `sh(doc_id, simhash)` — byte-identical to
    * Dedup.simhash (top md5 nibble bit, exact-integer majority vote).
    */
  private lazy val SimhashCtes: String = {
    val bitSums = (0 until 16).map(i =>
      s"sum(CASE WHEN strpos('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1 >= 8 THEN 1 ELSE 0 END) AS s$i")
      .mkString(",\n  ")
    val bitStr = (0 until 16).map(i =>
      s"CASE WHEN s$i * 2 >= n THEN '1' ELSE '0' END").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), tb AS (SELECT doc_id, md5(tok) AS m FROM tok
       |), agg AS (
       |  SELECT doc_id, count(*) AS n,
       |  $bitSums
       |  FROM tb GROUP BY doc_id
       |), sh AS (
       |  SELECT doc_id, concat($bitStr) AS simhash FROM agg
       |)""".stripMargin
  }

  /** Shared 2-iteration Lloyd's CTE chain: c0 init → a0 assign → c1
    * update → a1 → c2 → a2 (final assignment).
    */
  private lazy val KmeansCtes =
    s"""WITH c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cluster,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings WHERE vec_id < 4
       |), a0 AS (${kmeansAssignSql("c0")}
       |), c1 AS (${kmeansUpdateSql("a0", "c0")}
       |), a1 AS (${kmeansAssignSql("c1")}
       |), c2 AS (${kmeansUpdateSql("a1", "c1")}
       |), a2 AS (${kmeansAssignSql("c2")}
       |)""".stripMargin

  /** One k-means assignment round: best-cosine cluster per vector
    * (ties → lowest cluster id) — mirrors Similarity.assignToCentroids.
    */
  private def kmeansAssignSql(centsCte: String): String =
    kmeansAssignFromSql("embeddings", centsCte)

  /** Assignment round over an arbitrary (vec_id, embedding) source —
    * the fitted-SemDeDup oracles fit on a sample CTE, not the table.
    */
  private def kmeansAssignFromSql(src: String, centsCte: String): String =
    s"""
       |  SELECT vec_id, embedding, cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.embedding", "c.cvec")} DESC, c.cluster) AS rn
       |    FROM $src e CROSS JOIN $centsCte c) WHERE rn = 1""".stripMargin

  /** CTE chain mirroring Dedup.fittedCells + capCells over `src`
    * (a table or prior CTE with dense 0-based vec_id): two-level
    * fitted cells — coarse ⌈√k⌉ k-means Lloyd-fit on the first
    * 50·kc ids, anchor argmax within the coarse cell, id-order sub
    * cap — ending in `cl(vec_id, embedding, cell, sub)`. Byte-exact
    * with the Scala (argmax ties → lowest id at every level, −2.0
    * sentinel for anchor-less coarse cells, cell = −cluster−1
    * fallback).
    */
  /** Index half of the fitted chain: coarse sample-fit k-means + the
    * coarse-tagged anchor table, mirroring Dedup.fittedIndex over
    * `src`. First-N selections are RANK-based (`row_number` over id
    * order), matching the Scala orderBy-limit for ANY id space — for
    * the dense 0-based tables this equals the old `vec_id < N` form.
    */
  private def fittedIndexCtes(src: String, target: Int): String =
    s"""prm AS (
       |  SELECT count(*) AS n,
       |    CAST(ceil(count(*) / $target.0) AS BIGINT) AS k,
       |    CAST(ceil(sqrt(ceil(count(*) / $target.0))) AS BIGINT) AS kc
       |  FROM $src
       |), rnk AS (
       |  SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY vec_id) AS rn
       |  FROM $src
       |), smp AS (
       |  SELECT vec_id, embedding FROM rnk
       |  WHERE rn <= (SELECT least(n, 50 * kc) FROM prm)
       |), c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cluster,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM rnk WHERE rn <= (SELECT kc FROM prm)
       |), a0 AS (${kmeansAssignFromSql("smp", "c0")}
       |), c1 AS (${kmeansUpdateSql("a0", "c0")}
       |), anch AS (
       |  SELECT vec_id AS anchor_id, embedding AS avec FROM rnk
       |  WHERE rn <= (SELECT k FROM prm)
       |), ana AS (
       |  SELECT anchor_id, avec, cluster FROM (
       |    SELECT n0.anchor_id, n0.avec, c.cluster,
       |      row_number() OVER (PARTITION BY n0.anchor_id
       |        ORDER BY ${cosineSql("n0.avec", "c.cvec")} DESC,
       |                 c.cluster) AS rn
       |    FROM anch n0 CROSS JOIN c1 c) WHERE rn = 1
       |)""".stripMargin

  /** Assignment half: coarse argmax then anchor argmax within the
    * coarse cell, producing `fine$sfx(vec_id, embedding, cell)` for
    * `src` against the c1/ana index CTEs.
    */
  private def fittedAssignCtes(src: String, sfx: String): String =
    s"""va$sfx AS (${kmeansAssignFromSql(src, "c1")}
       |), fine$sfx AS (
       |  SELECT vec_id, embedding,
       |    coalesce(anchor_id, -cluster - 1) AS cell FROM (
       |    SELECT v.vec_id, v.embedding, v.cluster, a.anchor_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY coalesce(${cosineSql("v.embedding", "a.avec")},
       |                   -2.0) DESC,
       |                 a.anchor_id) AS rn
       |    FROM va$sfx v LEFT JOIN ana a ON v.cluster = a.cluster)
       |  WHERE rn = 1
       |)""".stripMargin

  private def semanticFittedCtes(src: String, target: Int,
                                 cap: Int): String =
    s"""${fittedIndexCtes(src, target)}, ${fittedAssignCtes(src, "")}, cl AS (
       |  SELECT vec_id, embedding, cell,
       |    CAST(floor((row_number() OVER (PARTITION BY cell
       |      ORDER BY vec_id) - 1) / $cap.0) AS INTEGER) AS sub
       |  FROM fine
       |)""".stripMargin

  /** One centroid update: per-(cluster, dim) mean with the sum routed
    * through DECIMAL (order-independent, exact — mirrors
    * Similarity.kmeansFit), empty clusters keep the previous centroid.
    */
  private def kmeansUpdateSql(assignCte: String, prevCte: String): String =
    s"""
       |  SELECT p.cluster, coalesce(mm.cvec, p.cvec) AS cvec
       |  FROM $prevCte p LEFT JOIN (
       |    SELECT cluster, list(m ORDER BY i) AS cvec FROM (
       |      SELECT cluster, i,
       |        CAST(sum(CAST(embedding[i] AS DECIMAL(25,10))) AS DOUBLE)
       |          / count(*) AS m
       |      FROM $assignCte, range(1, 65) t(i) GROUP BY cluster, i)
       |    GROUP BY cluster
       |  ) mm ON p.cluster = mm.cluster""".stripMargin
}
