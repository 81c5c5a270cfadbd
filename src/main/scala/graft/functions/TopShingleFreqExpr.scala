package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Fraction of a document's n-token shingles taken by the single most
  * frequent shingle — the Gopher-style "top n-gram fraction"
  * repetition signal — in one imperative pass: token hashes →
  * positional shingle hashes (same XXH64 fold as
  * [[HashedShinglesExpr]], but WITHOUT distinct — counts matter here)
  * → hash-count max / total. Fewer than n tokens → 0.0. Shingle
  * equality by 64-bit hash stands in for string equality (collision
  * odds ~1e-8 per pair, the same stance as the dedup operators).
  */
case class TopShingleFreqExpr(child: Expression, n: Int)
    extends UnaryExpression with NativeExpression {
  require(n >= 1, s"shingle width n=$n must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** One pass; called from interpreted eval and generated code. */
  def compute(tokens: ArrayData): Double = {
    val cnt = tokens.numElements()
    if (cnt < n) return 0.0
    val th = ShingleHashing.hashTokens(tokens)
    val m = cnt - n + 1
    val counts = new java.util.HashMap[java.lang.Long, Integer](m * 2)
    var best = 0
    var i = 0
    while (i < m) {
      val h = ShingleHashing.shingleHash(th, i, n)
      val c = counts.merge(h, Integer.valueOf(1), (a, b) =>
        Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > best) best = c.intValue
      i += 1
    }
    best.toDouble / m
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(compute(input.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(c: Expression)
      : TopShingleFreqExpr = copy(child = c)
  override def prettyName: String = "top_shingle_freq"
}

object TopShingleFreqExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def top_shingle_freq(tokens: Column, n: Int): Column =
    ColumnBridge.column(
      TopShingleFreqExpr(ColumnBridge.expression(tokens), n))
}
