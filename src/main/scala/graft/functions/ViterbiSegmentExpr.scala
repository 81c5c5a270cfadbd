package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi segmentation of ONE word under a unigram piece model
  * (Kudo 2018, "Subword Regularization" §3 — the SentencePiece
  * unigram tokenizer's decode): the segmentation maximizing the sum
  * of piece log-probabilities, by the standard left-to-right DP over
  * word positions (O(len × maxPieceLen) with a hash probe per
  * candidate piece).
  *
  * Deterministic tie-breaks, matched EXACTLY by the single-threaded
  * reference in UnigramSuite: equal scores prefer FEWER pieces; still
  * equal, the SMALLEST split point wins (= the longest final piece —
  * the j-ascending scan keeps the first candidate). A position no
  * vocabulary piece reaches consumes one character as an unknown at
  * [[graft.llm.Unigram.UnkLp]] — during training every single
  * character of the dictionary is in the seed, so the unk path only
  * fires when encoding unseen text.
  *
  * Native for the BpeEncodeExpr reason: the DP is |word|·maxPieceLen
  * hash probes per word — as a Column HOF chain that is nested
  * interpreted folds; here it is one codegen'd call (the
  * [[NativeExpression]] scaffold). */
case class ViterbiSegmentExpr(child: Expression,
    pieces: Seq[String], logProbs: Seq[Double])
    extends UnaryExpression with NativeExpression {
  require(pieces.length == logProbs.length,
    s"${pieces.length} pieces vs ${logProbs.length} logProbs")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val lpMap: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      m.put(pieces(i), logProbs(i)); i += 1
    }
    m
  }
  @transient private lazy val maxLen: Int =
    if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max

  def compute(w: UTF8String): ArrayData = {
    val s = w.toString
    val n = s.length
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val score = new Array[Double](n + 1)
    val np = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = Double.NegativeInfinity
      var bestNp = Int.MaxValue
      var bestJ = -1
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val lp = lpMap.get(s.substring(j, i))
        if (lp != null) {
          val sc = score(j) + lp.doubleValue()
          if (sc > best || (sc == best && np(j) + 1 < bestNp)) {
            best = sc; bestNp = np(j) + 1; bestJ = j
          }
        }
        j += 1
      }
      if (bestJ < 0) { // unknown character fallback
        best = score(i - 1) + graft.llm.Unigram.UnkLp
        bestNp = np(i - 1) + 1
        bestJ = i - 1
      }
      score(i) = best; np(i) = bestNp; back(i) = bestJ
      i += 1
    }
    val out = new java.util.ArrayList[String](np(n))
    var p = n
    while (p > 0) {
      out.add(s.substring(back(p), p))
      p = back(p)
    }
    val arr = new Array[AnyRef](out.size)
    var k = 0
    while (k < out.size) {
      arr(k) = UTF8String.fromString(out.get(out.size - 1 - k)); k += 1
    }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression)
      : ViterbiSegmentExpr = copy(child = c)
  override def prettyName: String = "viterbi_segment"
}

object ViterbiSegmentExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def viterbi_segment(word: Column, pieces: Seq[String],
      logProbs: Seq[Double]): Column =
    ColumnBridge.column(ViterbiSegmentExpr(
      ColumnBridge.expression(word), pieces, logProbs))
}
