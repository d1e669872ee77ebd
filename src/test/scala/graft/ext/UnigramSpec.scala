package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.UnigramViterbi.unigram_viterbi

/** Pins the native [[graft.expr.UnigramViterbi]] DP against an
  * INDEPENDENT reference (exhaustive segmentation enumeration with the
  * documented global tie order) on randomized vocabularies, plus the
  * edge shapes (null, empty, unreachable word, maxPieceLen=1, exact
  * ties), and the [[Unigram]] fit/encode lifecycle invariants the
  * DuckDB oracle can't see from the outside.
  */
class UnigramSpec extends SparkSpec {

  /** Exhaustive reference: enumerate EVERY segmentation of `w` into
    * vocab pieces of length ≤ P and pick the best by the documented
    * order — total score desc, piece count asc, then piece lengths
    * compared from the LAST piece backwards, longer first (the global
    * image of the DP's local "longer final piece" tie rule).
    */
  private def ref(w: String, vocab: Map[String, Long],
                  P: Int): Option[List[String]] = {
    def segs(s: String): List[List[String]] =
      if (s.isEmpty) List(Nil)
      else (1 to math.min(P, s.length)).toList.flatMap { p =>
        val piece = s.substring(0, p)
        if (vocab.contains(piece)) segs(s.substring(p)).map(piece :: _)
        else Nil
      }
    val all = segs(w)
    if (all.isEmpty) None
    else {
      implicit val ord: Ordering[List[String]] = (a, b) => {
        val sa = a.map(vocab).sum; val sb = b.map(vocab).sum
        if (sa != sb) java.lang.Long.compare(sa, sb)
        else if (a.length != b.length) b.length - a.length // fewer wins
        else {
          val la = a.reverseIterator.map(_.length).toList
          val lb = b.reverseIterator.map(_.length).toList
          la.zip(lb).collectFirst {
            case (x, y) if x != y => x - y // longer-from-end wins
          }.getOrElse(0)
        }
      }
      Some(all.max)
    }
  }

  private def run(words: Seq[String], vocab: Map[String, Long],
                  P: Int): Map[String, Option[Seq[String]]] = {
    import spark.implicits._
    words.toDF("w")
      .select(col("w"),
        unigram_viterbi(col("w"), typedlit(vocab), P).as("pieces"))
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[String](1))))
      .toMap
  }

  test("randomized: the native DP equals exhaustive enumeration under " +
    "the documented tie order (200 cases over a 3-letter alphabet)") {
    val rnd = new scala.util.Random(421)
    for (round <- 1 to 20) {
      val alphabet = "abc"
      // vocab: all single chars + random multi-char pieces, random
      // negative scores (ints — ties across distinct pieces are LIKELY
      // at this range, which is the point)
      val singles = alphabet.map(c => c.toString -> -(1L + rnd.nextInt(8)))
      val multis = (1 to 10).map { _ =>
        val len = 2 + rnd.nextInt(3)
        val s = (1 to len).map(_ => alphabet(rnd.nextInt(3))).mkString
        s -> -(1L + rnd.nextInt(8))
      }
      val vocab = (singles ++ multis).toMap
      val words = (1 to 10).map { _ =>
        val len = 1 + rnd.nextInt(9)
        (1 to len).map(_ => alphabet(rnd.nextInt(3))).mkString
      }.distinct
      val got = run(words, vocab, 4)
      for (w <- words) {
        val expect = ref(w, vocab, 4).map(_.toSeq)
        assert(got(w) == expect,
          s"round $round word '$w' vocab $vocab: " +
            s"native=${got(w)} reference=$expect")
      }
    }
  }

  /** Codepoint-based twin of [[ref]] for non-BMP alphabets: positions
    * and piece lengths are CODE POINTS, exactly the units SQL `substr`
    * (and the fixed native DP) counts — a char-indexed reference would
    * itself split surrogate pairs.
    */
  private def refCp(w: String, vocab: Map[String, Long],
                    P: Int): Option[List[String]] = {
    val cps = w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toList
    def segs(s: List[String]): List[List[String]] =
      if (s.isEmpty) List(Nil)
      else (1 to math.min(P, s.length)).toList.flatMap { p =>
        val piece = s.take(p).mkString
        if (vocab.contains(piece)) segs(s.drop(p)).map(piece :: _)
        else Nil
      }
    val all = segs(cps)
    if (all.isEmpty) None
    else {
      def cpLen(x: String) = x.codePointCount(0, x.length)
      implicit val ord: Ordering[List[String]] = (a, b) => {
        val sa = a.map(vocab).sum; val sb = b.map(vocab).sum
        if (sa != sb) java.lang.Long.compare(sa, sb)
        else if (a.length != b.length) b.length - a.length
        else {
          a.reverseIterator.map(cpLen).toList
            .zip(b.reverseIterator.map(cpLen).toList).collectFirst {
              case (x, y) if x != y => x - y
            }.getOrElse(0)
        }
      }
      Some(all.max)
    }
  }

  test("astral-plane codepoints are single DP positions: native ≡ " +
    "codepoint reference on randomized non-BMP words (r14 'wrong' #1 " +
    "— a char-indexed DP would split surrogate pairs and diverge " +
    "from SQL substr)") {
    // 𝄞 (U+1D11E) and 😀 (U+1F600) are two UTF-16 units each
    val alphabet = Vector("a", "𝄞", "😀")
    val rnd = new scala.util.Random(1518)
    for (round <- 1 to 10) {
      val singles = alphabet.map(c => c -> -(1L + rnd.nextInt(8)))
      val multis = (1 to 8).map { _ =>
        val len = 2 + rnd.nextInt(3)
        (1 to len).map(_ => alphabet(rnd.nextInt(3))).mkString ->
          -(1L + rnd.nextInt(8))
      }
      val vocab = (singles ++ multis).toMap
      val words = (1 to 8).map { _ =>
        val len = 1 + rnd.nextInt(7)
        (1 to len).map(_ => alphabet(rnd.nextInt(3))).mkString
      }.distinct
      val got = run(words, vocab, 4)
      for (w <- words) {
        val expect = refCp(w, vocab, 4).map(_.toSeq)
        assert(got(w) == expect,
          s"round $round word '$w' vocab $vocab: " +
            s"native=${got(w)} reference=$expect")
      }
    }
  }

  test("edges: null in, empty word, unreachable character, " +
    "maxPieceLen = 1") {
    import spark.implicits._
    val vocab = Map("a" -> -2L, "b" -> -3L, "ab" -> -4L)
    // null word → null
    val r = Seq[(Integer, String)]((1, "ab"), (2, null)).toDF("id", "w")
      .select(col("id"), unigram_viterbi(col("w"), typedlit(vocab), 4)
        .as("p"))
      .orderBy("id").collect()
    assert(r(0).getSeq[String](1) == Seq("ab")) // one piece beats two
    assert(r(1).isNullAt(1))
    // character outside the vocab → no segmentation → null
    assert(run(Seq("axb"), vocab, 4)("axb").isEmpty)
    // empty word → empty array (the library filters these upstream)
    assert(run(Seq(""), vocab, 4)("").contains(Seq.empty[String]))
    // maxPieceLen = 1 forces the character segmentation
    assert(run(Seq("ab"), vocab, 1)("ab").contains(Seq("a", "b")))
  }

  test("tie order is exactly (score, fewer pieces, longer final piece)") {
    // 'aa': pieces a(-2)+a(-2) = -4 vs aa(-4) = -4 — same score, the
    // single piece wins on count
    assert(run(Seq("aa"), Map("a" -> -2L, "aa" -> -4L), 4)("aa")
      .contains(Seq("aa")))
    // 'aaa': a+aa vs aa+a — same score, same count: longer FINAL piece
    assert(run(Seq("aaa"), Map("a" -> -2L, "aa" -> -4L), 4)("aaa")
      .contains(Seq("a", "aa")))
  }

  test("EM depth is a real parameter: a larger config (maxPieceLen 8, " +
    "topK 400, 3 E-steps) trains with bounded plans over the fixture " +
    "corpus; the default depth is unchanged (r14 ask #7)") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val big = Unigram.fit(words, "w", "c", maxPieceLen = 8, topK = 400,
      eSteps = 3)
    val rows = big.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val nChars = words.select(explode(split(col("w"), "")).as("ch"))
      .filter(length(col("ch")) > 0).distinct().count()
    assert(rows.count(_._1.length == 1) == nChars,
      "every corpus character must survive at any depth")
    assert(rows.length <= nChars + 400, "vocab bounded by chars + topK")
    assert(rows.forall(_._3 < 0), "scores are log-likelihoods")
    assert(rows.exists(r => r._1.length > 4),
      "maxPieceLen 8 must actually admit longer pieces")
    // explicit eSteps = 2 IS the default fit, bit-for-bit
    val d1 = Unigram.fit(words, "w", "c", maxPieceLen = 4, topK = 40)
      .collect().map(_.toString)
    val d2 = Unigram.fit(words, "w", "c", maxPieceLen = 4, topK = 40,
      eSteps = 2).collect().map(_.toString)
    assert(d1.sameElements(d2))
  }

  test("ln guard band: the board fixture's shipped scores sit FAR off " +
    "the 1e-6 integer grid, so a ≤few-ulp Math.log-vs-libm " +
    "disagreement (≈2e-9 at this magnitude) cannot flip a floor() — " +
    "a platform change surfaces as THIS diagnosed failure, not a " +
    "silent hash mismatch") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val vocab = Unigram.fit(words, "w", "c", maxPieceLen = 4, topK = 40)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val tot = vocab.map(_._2 + 1L).sum.toDouble
    for ((p, u, llq) <- vocab) {
      val x = 1e6 * math.log((u + 1L).toDouble / tot)
      assert(math.floor(x).toLong == llq,
        s"piece '$p': recomputed llq ${math.floor(x).toLong} != shipped $llq")
      val d = math.abs(x - math.rint(x))
      assert(d > 1e-6,
        s"piece '$p': 1e6·ln sits $d from the integer grid — floor() " +
          "could flip under a platform ln difference (DETERMINISM.md " +
          "ln-hazard note)")
    }
  }

  test("fit lifecycle: every corpus character survives, zero-usage " +
    "multi-char seeds are pruned, encode reproduces the E-step") {
    import spark.implicits._
    val words = Seq(("banana", 10L), ("bandana", 5L), ("nab", 7L))
      .toDF("w", "c")
    val vocab = Unigram.fit(words, "w", "c", maxPieceLen = 3, topK = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val pieces = vocab.map(_._1).toSet
    for (ch <- "bandn".map(_.toString))
      assert(pieces.contains(ch), s"single char '$ch' pruned: $pieces")
    // every multi-char survivor must have been USED by the final E-step
    // or kept with usage 0 only if it is a single char
    for ((p, u, _) <- vocab if p.length > 1)
      assert(u >= 0, s"negative usage for $p")
    // scores are finite and negative (log-likelihoods of proper probs)
    for ((p, _, s) <- vocab)
      assert(s < 0, s"non-negative llq for $p: $s")
    // encode: token counts agree with a direct Viterbi under the vocab
    val enc = Unigram.encode(words, "w",
      Unigram.fit(words, "w", "c", maxPieceLen = 3, topK = 8),
      maxPieceLen = 3)
      .select(col("w"), col("tokens"), col("n_tokens")).collect()
    for (r <- enc) {
      val toks = r.getSeq[String](1)
      assert(toks.mkString == r.getString(0),
        s"tokens don't concatenate back to the word: $r")
      assert(r.getLong(2) == toks.length.toLong)
    }
  }
}
