package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE segmentation of ONE word under a trained merge list — the
  * apply side of [[graft.llm.Bpe.trainBpe]]: characters + the
  * end-of-word marker, then each merge applied EXHAUSTIVELY in rank
  * order with the same greedy leftmost-first single pass the trainer
  * uses (sequential per-merge application reproduces the training
  * trajectory exactly — round i of training merged pair i everywhere
  * before pair i+1 existed). Native because the HOF form is
  * |merges| nested interpreted `aggregate` folds per word
  * (the PqExpr/HyperplaneSigsExpr lesson); parity with the trainer's
  * Column-level `mergeOne` chain is pinned in BpeSuite. */
case class BpeEncodeExpr(child: Expression,
    merges: Seq[(String, String)])
    extends UnaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val mergeArr: Array[(String, String)] =
    merges.toArray

  def compute(w: UTF8String): ArrayData = {
    val s = w.toString
    var sym = new java.util.ArrayList[String](s.length + 1)
    var i = 0
    while (i < s.length) {
      // character = Unicode code point, matching String#map over the
      // BMP-only fixture tokenizer output ([a-z0-9]+)
      sym.add(String.valueOf(s.charAt(i)))
      i += 1
    }
    sym.add(graft.llm.Bpe.EndOfWord)
    var m = 0
    while (m < mergeArr.length) {
      val (l, r) = mergeArr(m)
      val out = new java.util.ArrayList[String](sym.size)
      var j = 0
      while (j < sym.size) {
        val cur = sym.get(j)
        if (!out.isEmpty && out.get(out.size - 1) == l && cur == r)
          out.set(out.size - 1, l + r) // greedy leftmost-first
        else out.add(cur)
        j += 1
      }
      sym = out
      m += 1
    }
    val arr = new Array[AnyRef](sym.size)
    var k = 0
    while (k < sym.size) {
      arr(k) = UTF8String.fromString(sym.get(k)); k += 1
    }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr =
    copy(child = c)
  override def prettyName: String = "bpe_encode"
}

object BpeEncodeExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def bpe_encode(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(
      BpeEncodeExpr(ColumnBridge.expression(word), merges))
}
