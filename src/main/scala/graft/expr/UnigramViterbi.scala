package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi segmentation under a unigram language model (the E-step of
  * SentencePiece-style unigram tokenizer training, Kudo 2018): given a
  * word and a bounded piece→score table (integer-quantized
  * log-likelihoods), return the maximum-score segmentation of the word
  * into table pieces.
  *
  * The classic O(L·P) dynamic program: `dp[i]` = best score of any
  * segmentation of the first `i` characters; each position considers
  * the ≤ `maxPieceLen` pieces ending there. Ties break DETERMINISTICALLY
  * and engine-portably: higher total score first, then FEWER pieces,
  * then the LONGER final piece — the same composite order the DuckDB
  * oracle encodes as `(score, −n_pieces, piece_len)` (packed into one
  * BIGINT), so both engines always reconstruct the identical
  * segmentation, not just an equally-scoring one.
  *
  * The score table rides as a FOLDABLE map literal — the bounded model
  * artifact pattern ([[graft.ext.Bpe.encode]]'s collected merge table):
  * the vocabulary is tiny by construction at any corpus size, so the
  * words side stays a narrow per-row projection — no join, no shuffle.
  * The DP indexes CODEPOINTS, not Java chars — SQL `substr` (Spark and
  * DuckDB alike) counts code points, so a supplementary-plane character
  * (one codepoint, two UTF-16 units) must be ONE DP position or the
  * engines would segment the same word differently (r14 "wrong" #1;
  * UnigramViterbiSpec pins native ≡ reference DP on astral-plane
  * strings).
  *
  * Returns `array<string>` of pieces left-to-right; NULL for NULL input
  * or when no segmentation exists (a character absent from the table —
  * unreachable when the table seeds every corpus character, which
  * [[graft.ext.Unigram.fit]] guarantees). CodegenFallback: per-row cost
  * is the DP loop, not eval dispatch.
  */
case class UnigramViterbi(left: Expression, right: Expression,
                          maxPieceLen: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, MapType(StringType, LongType, _)) if right.foldable =>
        if (maxPieceLen >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"maxPieceLen must be >= 1, got $maxPieceLen")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "unigram_viterbi needs (string, foldable map<string,bigint>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  /** The score table, materialized once per executor from the foldable
    * map child.
    */
  @transient private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    val md = right.eval(null).asInstanceOf[MapData]
    val keys = md.keyArray()
    val vals = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      m.put(keys.getUTF8String(i).toString, vals.getLong(i))
      i += 1
    }
    m
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val w = left.eval(input)
    if (w == null) return null
    val s = w.asInstanceOf[UTF8String].toString
    // codepoint-indexed view: one DP position per code point, so
    // segmentation boundaries agree with SQL substr on any plane
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val dp = new Array[Long](n + 1)
    val np = new Array[Int](n + 1)
    val bp = new Array[Int](n + 1) // chosen piece length at prefix i
    java.util.Arrays.fill(bp, -1)
    bp(0) = 0
    var i = 1
    while (i <= n) {
      var bestS = 0L; var bestN = 0; var bestP = -1
      var p = 1
      val pMax = if (maxPieceLen < i) maxPieceLen else i
      while (p <= pMax) {
        if (bp(i - p) >= 0) {
          val sc = table.get(new String(cps, i - p, p))
          if (sc != null) {
            val cand = dp(i - p) + sc
            val candN = np(i - p) + 1
            // better: score desc, then n_pieces asc, then piece len desc
            if (bestP < 0 || cand > bestS ||
                (cand == bestS && (candN < bestN ||
                  (candN == bestN && p > bestP)))) {
              bestS = cand; bestN = candN; bestP = p
            }
          }
        }
        p += 1
      }
      if (bestP > 0) { dp(i) = bestS; np(i) = bestN; bp(i) = bestP }
      i += 1
    }
    if (bp(n) < 0) return null
    val pieces = new Array[Any](np(n))
    var pos = n
    var k = np(n) - 1
    while (pos > 0) {
      val p = bp(pos)
      pieces(k) = UTF8String.fromString(new String(cps, pos - p, p))
      k -= 1
      pos -= p
    }
    new GenericArrayData(pieces)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramViterbi =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "unigram_viterbi"
}

object UnigramViterbi {
  import org.apache.spark.sql.graftshim.ColumnBridge

  /** Column API: Viterbi-segment `word` under the (foldable) piece→
    * score map `scores`.
    */
  def unigram_viterbi(word: Column, scores: Column,
                      maxPieceLen: Int): Column =
    ColumnBridge.column(UnigramViterbi(
      ColumnBridge.expression(word), ColumnBridge.expression(scores),
      maxPieceLen))
}
