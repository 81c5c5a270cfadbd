package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece segmentation of ONE word — BERT's greedy
  * longest-match-first (MaxMatch) against a trained vocabulary
  * ([[graft.llm.WordPiece.trainVocab]]): at each position take the
  * longest vocab entry (continuations probed with the `##` prefix);
  * if any position matches nothing, the WHOLE word becomes the
  * single `unk` token (the BERT rule — a word is either fully
  * segmentable or unknown). Native for the BpeEncodeExpr reason: the
  * HOF form is a quadratic chain of interpreted substring probes per
  * word. Parity with [[graft.llm.WordPiece.referenceEncode]] is
  * pinned in WordPieceSuite. */
case class WordPieceEncodeExpr(child: Expression, vocab: Seq[String],
    unk: String) extends UnaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val maxLen: Int =
    if (vocab.isEmpty) 0 else vocab.iterator.map(_.length).max

  def compute(w: UTF8String): ArrayData = {
    val s = w.toString
    if (s.isEmpty) return new GenericArrayData(new Array[AnyRef](0))
    val out = new java.util.ArrayList[String](s.length)
    var i = 0
    var failed = false
    while (i < s.length && !failed) {
      val prefix = if (i == 0) "" else graft.llm.WordPiece.Hash
      // longest candidate first; cap by the vocab's own max length
      var j = math.min(s.length, i + math.max(maxLen - prefix.length, 1))
      var hit: String = null
      while (j > i && hit == null) {
        val cand = prefix + s.substring(i, j)
        if (vocabSet.contains(cand)) hit = cand else j -= 1
      }
      if (hit == null) failed = true
      else { out.add(hit); i = j }
    }
    if (failed)
      new GenericArrayData(
        Array[AnyRef](UTF8String.fromString(unk)))
    else {
      val arr = new Array[AnyRef](out.size)
      var k = 0
      while (k < out.size) {
        arr(k) = UTF8String.fromString(out.get(k)); k += 1
      }
      new GenericArrayData(arr)
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression)
      : WordPieceEncodeExpr = copy(child = c)
  override def prettyName: String = "wordpiece_encode"
}

object WordPieceEncodeExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def wordpiece_encode(word: Column, vocab: Seq[String],
      unk: String = "[UNK]"): Column =
    ColumnBridge.column(
      WordPieceEncodeExpr(ColumnBridge.expression(word), vocab, unk))
}
