package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The retrieval family as an ENGINE SURFACE (r12 ask #3): the oracled
  * keys are fixed-argument instantiations of [[TextStats.bm25]] /
  * [[Similarity.hybridRrf]] — this suite drives the same operators
  * with a SECOND query (different terms, different query vector) and
  * pins the corpus-scan ≡ index-probe equivalence the routing gate
  * relies on.
  */
class RetrievalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, dir, "documents")
  private lazy val emb = Tables.load(spark, dir, "embeddings")

  // a second query, disjoint from the board's fixed one
  private val terms2 = Seq("data", "model", "stream")

  private def at(path: String): IndexCommit = Index.current(path).get

  test("bm25 corpus scan and index probe score BIT-IDENTICALLY — for " +
    "the board's query AND a second one (the routing gate cannot " +
    "change results)") {
    val idx = java.nio.file.Files.createTempDirectory("bm25idx").toString
    Index.build(IndexKind.Bm25, docs, "doc_id", "text", idx)
    assert(Index.current(idx).isDefined)
    for (terms <- Seq(Seq("spark", "merge", "vector"), terms2)) {
      val scan = TextStats.bm25(docs, "doc_id", "text", terms)
        .orderBy("doc_id").collect().map(_.toString)
      val probe = TextStats.bm25FromIndex(spark, at(idx), "doc_id", terms)
        .orderBy("doc_id").collect().map(_.toString)
      assert(scan.sameElements(probe),
        s"scan vs probe diverged for $terms:\n" +
          s"${scan.take(5).mkString("\n")}\nvs\n${probe.take(5).mkString("\n")}")
      assert(scan.nonEmpty, s"second query $terms matched nothing — " +
        "the equivalence test would be vacuous")
    }
  }

  test("bm25Routed gates on a COMPLETE artifact: missing or torn index " +
    "falls back to the corpus scan with equal results") {
    val ghost = java.nio.file.Files.createTempDirectory("bm25ghost").toString
    assert(Index.current(ghost).isEmpty)
    // torn build: postings written, record missing
    val torn = java.nio.file.Files.createTempDirectory("bm25torn").toString
    Index.build(IndexKind.Bm25, docs, "doc_id", "text", torn)
    java.nio.file.Files.delete(java.nio.file.Paths.get(torn, "_commit", "v1.json"))
    assert(Index.current(torn).isEmpty)
    val direct = TextStats.bm25(docs, "doc_id", "text", terms2)
      .orderBy("doc_id").collect().map(_.toString)
    for (p <- Seq(None, Some(ghost), Some(torn))) {
      val routed = TextStats.bm25Routed(spark, docs, "doc_id", "text",
        terms2, p).orderBy("doc_id").collect().map(_.toString)
      assert(routed.sameElements(direct), s"fallback diverged for $p")
    }
  }

  test("refreshBm25Index: probe after build(half) + refresh(rest) is " +
    "BIT-IDENTICAL to probe after a full rebuild AND to the corpus " +
    "scan (the rollup-refresh contract, retrieval edition — r13 ask " +
    "#1)") {
    val half = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 =!= 0)
    val inc = java.nio.file.Files.createTempDirectory("bm25inc").toString
    Index.build(IndexKind.Bm25, half, "doc_id", "text", inc)
    Index.refresh(inc, rest, "doc_id", "text")
    assert(Index.current(inc).isDefined)
    assert(Index.gate(inc, IndexKind.Bm25, docs, None).isDefined,
      "refreshed index must carry the full corpus count")
    val full = java.nio.file.Files.createTempDirectory("bm25full").toString
    Index.build(IndexKind.Bm25, docs, "doc_id", "text", full)
    for (terms <- Seq(Seq("spark", "merge", "vector"), terms2)) {
      val probeInc = TextStats.bm25FromIndex(spark, at(inc), "doc_id", terms)
        .orderBy("doc_id").collect().map(_.toString)
      val probeFull = TextStats.bm25FromIndex(spark, at(full), "doc_id", terms)
        .orderBy("doc_id").collect().map(_.toString)
      val scan = TextStats.bm25(docs, "doc_id", "text", terms)
        .orderBy("doc_id").collect().map(_.toString)
      assert(probeInc.nonEmpty)
      assert(probeInc.sameElements(probeFull),
        s"refresh != rebuild for $terms")
      assert(probeInc.sameElements(scan), s"refresh != scan for $terms")
    }
  }

  test("staleness gate: an index that predates an ingest re-routes " +
    "bm25Routed to the corpus scan (never serves old scores); a " +
    "refresh restores the probe path (r13 ask #1)") {
    val half = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("bm25stale").toString
    Index.build(IndexKind.Bm25, half, "doc_id", "text", idx)
    assert(Index.current(idx).isDefined)
    assert(!Index.gate(idx, IndexKind.Bm25, docs, None).isDefined,
      "a half-corpus index must read as STALE against the full corpus")
    val scan = TextStats.bm25(docs, "doc_id", "text", terms2)
      .orderBy("doc_id").collect().map(_.toString)
    val stale = TextStats.bm25Routed(spark, docs, "doc_id", "text",
      terms2, Some(idx))
    assert(!stale.queryExecution.executedPlan.toString.contains("postings"),
      "stale index must NOT be probed")
    assert(stale.orderBy("doc_id").collect().map(_.toString)
      .sameElements(scan), "stale fallback diverged from the scan")
    Index.refresh(idx, rest, "doc_id", "text")
    val routed = TextStats.bm25Routed(spark, docs, "doc_id", "text",
      terms2, Some(idx))
    assert(routed.queryExecution.executedPlan.toString.contains("postings"),
      "refreshed index must route back to the probe")
    assert(routed.orderBy("doc_id").collect().map(_.toString)
      .sameElements(scan), "refreshed probe diverged from the scan")
  }

  test("phrase retrieval: positional-index probe is BIT-IDENTICAL to " +
    "the corpus scan on TWO phrases; matched docs really contain the " +
    "adjacent pair (r13 ask #3)") {
    val idx = java.nio.file.Files.createTempDirectory("bm25pos").toString
    Index.build(IndexKind.Bm25, docs, "doc_id", "text", idx)
    for ((w1, w2) <- Seq(("stream", "spark"), ("merge", "part"))) {
      val scan = TextStats.phraseBm25(docs, "doc_id", "text", w1, w2,
        topN = 50).orderBy("doc_id").collect().map(_.toString)
      val probe = TextStats.phraseBm25FromIndex(spark, at(idx), "doc_id",
        w1, w2, topN = 50).orderBy("doc_id").collect().map(_.toString)
      assert(scan.nonEmpty, s"phrase '$w1 $w2' matched nothing — vacuous")
      assert(scan.sameElements(probe),
        s"scan vs probe diverged for '$w1 $w2'")
      // ground truth: every matched doc contains the adjacent pair
      val ids = TextStats.phraseBm25(docs, "doc_id", "text", w1, w2,
        topN = 50).select("doc_id").collect().map(_.getLong(0)).toSet
      val withPair = docs.collect().filter { r =>
        val t = r.getAs[String]("text").split(" ")
        t.indices.init.exists(i => t(i) == w1 && t(i + 1) == w2)
      }.map(_.getAs[Long]("doc_id")).toSet
      assert(ids.subsetOf(withPair),
        s"a scored doc does not contain '$w1 $w2'")
    }
    // routing: a positional probe falls back to the scan when the
    // artifact predates the positional payload (no pos column) — such
    // a tree carries no commit record
    val legacy = java.nio.file.Files.createTempDirectory("bm25leg").toString
    at(idx).part(spark, "postings").drop("pos")
      .write.parquet(s"$legacy/postings")
    val routed = TextStats.phraseBm25Routed(spark, docs, "doc_id",
      "text", "stream", "spark", Some(legacy))
    assert(!routed.queryExecution.executedPlan.toString.contains("postings"),
      "a positionless artifact must not be probed for a phrase")
    val scanTop = TextStats.phraseBm25(docs, "doc_id", "text",
      "stream", "spark").collect().map(_.toString)
    assert(routed.collect().map(_.toString).sameElements(scanTop))
  }

  test("n-word phrase retrieval: 3- and 4-term positional probes are " +
    "BIT-IDENTICAL to the corpus scan; matched docs really contain " +
    "the full adjacent run; the 2-word forms delegate unchanged " +
    "(r14 ask #3)") {
    val idx = java.nio.file.Files.createTempDirectory("bm25pos3").toString
    Index.build(IndexKind.Bm25, docs, "doc_id", "text", idx)
    for (phrase <- Seq(Seq("big", "order", "scan"),
        Seq("group", "slow", "spark"))) {
      val scan = TextStats.phraseBm25(docs, "doc_id", "text", phrase,
        1.2, 0.75, 50).orderBy("doc_id").collect().map(_.toString)
      val probe = TextStats.phraseBm25FromIndex(spark, at(idx), "doc_id",
        phrase, 1.2, 0.75, 50).orderBy("doc_id").collect()
        .map(_.toString)
      assert(scan.nonEmpty, s"phrase $phrase matched nothing — vacuous")
      assert(scan.sameElements(probe),
        s"scan vs probe diverged for $phrase")
      // ground truth: every scored doc contains the full adjacent run
      val ids = TextStats.phraseBm25(docs, "doc_id", "text", phrase,
        1.2, 0.75, 50).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val withRun = docs.collect().filter { r =>
        val t = r.getAs[String]("text").split(" ")
        (0 to t.length - phrase.size).exists(i =>
          phrase.indices.forall(k => t(i + k) == phrase(k)))
      }.map(_.getAs[Long]("doc_id")).toSet
      assert(ids.subsetOf(withRun),
        s"a scored doc does not contain the run $phrase")
    }
    // a 4-term phrase that matches nothing scores nothing, both paths
    val ghost = Seq("big", "order", "scan", "zzzz")
    assert(TextStats.phraseBm25(docs, "doc_id", "text", ghost, 1.2,
      0.75, 50).collect().isEmpty)
    assert(TextStats.phraseBm25FromIndex(spark, at(idx), "doc_id", ghost,
      1.2, 0.75, 50).collect().isEmpty)
    // the 2-word convenience form IS the n-ary path (no drift)
    val two = TextStats.phraseBm25(docs, "doc_id", "text", "stream",
      "spark", topN = 50).orderBy("doc_id").collect().map(_.toString)
    val twoN = TextStats.phraseBm25(docs, "doc_id", "text",
      Seq("stream", "spark"), 1.2, 0.75, 50).orderBy("doc_id")
      .collect().map(_.toString)
    assert(two.sameElements(twoN))
  }

  test("MIXED retrieval (r15 ask #6): scan ≡ index probe bit-identity " +
    "on two parameterizations; the mixed score decomposes into the " +
    "pure paths' own components; docs matching only one side still " +
    "score") {
    val idx = java.nio.file.Files.createTempDirectory("bm25mix").toString
    Index.build(IndexKind.Bm25, docs, "doc_id", "text", idx)
    for ((terms, phrases) <- Seq(
        (Seq("spark", "merge", "vector"), Seq(Seq("stream", "spark"))),
        (Seq("index"), Seq(Seq("merge", "part"), Seq("stream", "spark"))))) {
      val scan = TextStats.mixedBm25(docs, "doc_id", "text", terms,
        phrases, topN = 50).orderBy("doc_id").collect().map(_.toString)
      val probe = TextStats.mixedBm25FromIndex(spark, at(idx), "doc_id",
        terms, phrases, topN = 50).orderBy("doc_id").collect()
        .map(_.toString)
      assert(scan.nonEmpty, "mixed query matched nothing — vacuous")
      assert(scan.sameElements(probe),
        s"mixed scan vs probe diverged for $terms + $phrases")
    }
    // decomposition: every row's components equal the pure paths', and
    // mixed = trunc6(bag + phrase) exactly
    val terms = Seq("spark", "merge", "vector")
    val phrase = Seq("stream", "spark")
    val mixed = TextStats.mixedBm25(docs, "doc_id", "text", terms,
      Seq(phrase), topN = 1000).collect()
    val bag = TextStats.bm25(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ph = TextStats.phraseBm25(docs, "doc_id", "text", phrase,
      1.2, 0.75, 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(mixed.nonEmpty)
    var onlyBag = 0; var onlyPhrase = 0
    mixed.foreach { r =>
      val id = r.getLong(0)
      val bt = bag.getOrElse(id, 0d); val pt = ph.getOrElse(id, 0d)
      assert(r.getDouble(1) == bt, s"bm25_terms mismatch for $id")
      assert(r.getDouble(2) == pt, s"bm25_phrase mismatch for $id")
      assert(r.getDouble(3) ==
        math.floor((bt + pt) * 1e6) / 1e6, s"mixed != trunc6(sum) for $id")
      if (pt == 0d) onlyBag += 1
      if (bt == 0d) onlyPhrase += 1
    }
    assert(onlyBag > 0, "no bag-only doc in the mixed cut — vacuous")
  }

  test("bm25 scores behave like BM25: present-term docs only, rarer " +
    "term outranks a commoner one at equal tf, n_terms bounded") {
    val rows = TextStats.bm25(docs, "doc_id", "text", terms2).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 3),
      "n_terms must be in [1, |terms|]")
    assert(rows.forall(_.getDouble(1) > 0.0),
      "every scored doc contains >=1 query term, so bm25 > 0")
  }

  test("hybridRrf runs a SECOND query end-to-end: fused cut bounded, " +
    "rrf consistent with the member ranks") {
    val q2 = emb.filter(col("vec_id") === 7)
      .select(col("embedding").as("qvec"))
    val lexScored = TextStats.bm25(docs, "doc_id", "text", terms2)
    val vecScored = Similarity.topK(
        emb.crossJoin(broadcast(q2)).filter(col("vec_id") =!= 7),
        "vec_id", "embedding", col("qvec"), 20)
      .select(col("vec_id").as("doc_id"), col("sim"))
    val fused = Similarity.hybridRrf(lexScored, vecScored, "doc_id",
      "bm25", "sim", kR = 60, topCut = 20, topN = 10).collect()
    assert(fused.nonEmpty && fused.length <= 10)
    for (r <- fused) {
      val rLex = Option(r.get(1)).map(_.asInstanceOf[Long])
      val rVec = Option(r.get(2)).map(_.asInstanceOf[Long])
      assert(rLex.isDefined || rVec.isDefined)
      val expect = rLex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rVec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      val t6 = math.floor(expect * 1e6) / 1e6
      assert(math.abs(r.getDouble(3) - t6) < 1e-12,
        s"rrf mismatch at $r: expected $t6")
    }
    // fused is sorted by (rrf desc, id asc)
    val pairs = fused.map(r => (r.getDouble(3), r.getLong(0)))
    assert(pairs.sameElements(pairs.sortBy { case (s, id) => (-s, id) }))
  }

  test("mmrRerank greedy semantics on a SECOND parameterization " +
    "(λ=0.5, k=3, different query vector): distinct picks, rank-1 = " +
    "argmax rel, rank-2 matches a hand computation") {
    val q = emb.filter(col("vec_id") === 3)
      .select(col("embedding").as("qvec"))
    val cands = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= 3)
      .select(col("vec_id"), col("embedding"),
        round(Similarity.cosine(col("embedding"), col("qvec")), 6)
          .as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(10)
      .localCheckpoint(false)
    val out = Similarity.mmrRerank(cands, "vec_id", "embedding", "rel",
      lambda = 0.5, k = 3).collect()
    assert(out.length == 3 &&
      out.map(_.getLong(1)).distinct.length == 3)
    val cd = cands.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray, r.getDouble(2)))
    val top = cd.map(c => (c._1, c._3)).minBy { case (id, rel) => (-rel, id) }._1
    assert(out(0).getLong(1) == top, "rank-1 must be the plain rel argmax")
    // hand-compute step 2: 0.5·rel − 0.5·sim(d, s1), ties by id
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val s1vec = cd.find(_._1 == top).get._2
    val want2 = cd.filter(_._1 != top)
      .map { case (id, v, rel) =>
        (id, 0.5 * rel - (1.0 - 0.5) * cos6(v, s1vec)) }
      .minBy { case (id, m) => (-m, id) }._1
    assert(out(1).getLong(1) == want2,
      s"rank-2 diverged from the hand computation (got ${out(1)})")
  }

  test("RANDOMIZED mmrRerank ≡ a driver-side reference greedy: 40 " +
    "scalacheck candidate sets (random dims, duplicate vectors for " +
    "tie pressure, random λ/k)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val cases = Gen.listOfN(40, for {
      n <- Gen.chooseNum(2, 12)
      dim <- Gen.chooseNum(2, 4)
      base <- Gen.listOfN(n, Gen.listOfN(dim,
        Gen.chooseNum(-5, 5).map(_.toFloat / 4f + 0.1f)))
      lam <- Gen.oneOf(0.3, 0.5, 0.7, 0.9)
      k <- Gen.chooseNum(1, 5)
    } yield (base, lam, k))
      .apply(Gen.Parameters.default, Seed(99L)).get

    def cos6(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (((vecs, lam, k), ci) <- cases.zipWithIndex) {
      // rel = cosine to the first vector (acting as the query)
      val cands = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.toArray, cos6(v, vecs.head)) }
      val df = cands.toDF("vec_id", "embedding", "rel")
      val got = Similarity.mmrRerank(df, "vec_id", "embedding", "rel",
        lam, k).collect().map(_.getLong(1)).toSeq
      // driver-side reference greedy with the same tie rules
      var sel = Vector.empty[Long]
      for (_ <- 1 to k if sel.size < cands.size) {
        val rem = cands.filterNot(c => sel.contains(c._1))
        val best = rem.map { case (id, v, rel) =>
          val pen = if (sel.isEmpty) 0.0
            else sel.map(sid =>
              cos6(v.toSeq, cands(sid.toInt)._2.toSeq)).max
          (id, lam * rel - (1.0 - lam) * pen)
        }.minBy { case (id, m) => (-m, id) }._1
        sel :+= best
      }
      assert(got == sel,
        s"case $ci (λ=$lam k=$k n=${cands.size}): spark=$got ref=$sel")
    }
  }

  test("rankTopK ranks 1..n by (score desc, id asc) and its window " +
    "carries a NON-EMPTY partition spec (the r9 zero-warning standard: " +
    "`No Partition Defined for Window` must never fire)") {
    val scored = TextStats.bm25(docs, "doc_id", "text", terms2)
    val ranked = Similarity.rankTopK(scored, "doc_id", "bm25", 5, "r")
    val rows = ranked.orderBy("r").collect()
    assert(rows.map(_.getLong(1)).sameElements(1L to rows.length.toLong))
    val windows = ranked.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "rank must come from a window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "rank window lost its constant partition spec — the " +
        "unpartitioned-window warning would fire again")
  }
}
