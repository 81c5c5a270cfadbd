package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native distinct hashed-shingle set: `array<string>` tokens →
  * `array<long>` of the distinct xxhash64 values of every n-token
  * shingle, in one imperative pass.
  *
  * Bit-identical to the `functions._` chain it replaces
  * (`array_distinct(transform(sequence(...), i => xxhash64(th[i..i+n])))`
  * over `th = transform(tokens, xxhash64)`): per-token hash is
  * `XXH64.hashUTF8String(t, 42)` — exactly Spark's `xxhash64(col)` —
  * and the shingle hash left-folds `XXH64.hashLong` from seed 42 the
  * way the variadic `xxhash64(h1..hn)` does. Fewer than n tokens →
  * empty array (the `when(size >= n, ...)` guard folded in).
  *
  * Why native: the HOF chain evaluates its lambdas interpreted per
  * element (no codegen, no CSE — the round-1 `bindOnce` lesson), and
  * every shingle re-reads its n token hashes through boxed
  * `element_at` calls. This pass is primitive arrays end-to-end and
  * keeps the enclosing projection in whole-stage codegen.
  */
case class HashedShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with NativeExpression {
  require(n >= 1, s"shingle width n=$n must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** One pass; called from interpreted eval and generated code. */
  def compute(tokens: ArrayData): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.emptyLongArray)
    val th = ShingleHashing.hashTokens(tokens)
    val m = cnt - n + 1
    val out = new Array[Long](m)
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    var k = 0
    var i = 0
    while (i < m) {
      val h = ShingleHashing.shingleHash(th, i, n)
      if (seen.add(h)) { out(k) = h; k += 1 } // first-occurrence distinct
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression)
      : HashedShinglesExpr = copy(child = c)
  override def prettyName: String = "hashed_shingles"
}

object HashedShinglesExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def hashed_shingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(
      HashedShinglesExpr(ColumnBridge.expression(tokens), n))
}
