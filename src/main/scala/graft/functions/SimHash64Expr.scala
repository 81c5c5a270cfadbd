package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: 64-bit SimHash from an `array<long>` of
  * per-token 64-bit hashes, in one imperative pass (64 vote counters,
  * no boxing) — semantics identical to `Dedup.simhashFromHashes`
  * (bit j set iff the per-bit vote sum across tokens is > 0), which
  * needed 64 interpreted `aggregate` traversals of the array.
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  /** The one-pass vote loop; called from both interpreted eval and
    * generated code. Empty array → 0L (no votes win). */
  def compute(input: ArrayData): Long = {
    val n = input.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = input.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(c: Expression): SimHash64Expr =
    copy(child = c)
  override def prettyName: String = "simhash64"
}

object SimHash64Expr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def simhash64(tokenHashes: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(tokenHashes)))
}
