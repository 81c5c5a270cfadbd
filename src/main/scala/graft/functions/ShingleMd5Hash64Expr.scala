package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native md5-long hashes of every n-token shingle STRING: for each
  * window of `n` tokens, md5 over the UTF-8 bytes of the
  * space-joined shingle, first 8 digest bytes big-endian as one long
  * — in a single pass, with no shingle string or hex materialization.
  *
  * Bit-for-bit identical to the HOF chain it replaces
  * (`TokenMd5Hash64Expr.token_md5_hash64(shinglesFromTokens(t, n))`):
  * the joined bytes equal `concat_ws(" ", tokens...)` (null elements
  * skipped the way concat_ws skips them — our tokenizers never emit
  * nulls, but the stance must match), and the digest-to-long fold is
  * `TokenMd5Hash64Expr`'s. Fewer than `n` tokens → empty array.
  *
  * `distinct = true` keeps the first occurrence of each hash
  * (`array_distinct` parity — dedup on the 64-bit hash rather than
  * the string, identical modulo ~1e-19 collisions, the stance every
  * hashed-shingle operator here takes); `distinct = false` keeps the
  * positional sequence (the winnowing input, where window positions
  * matter).
  *
  * Why native: the HOF chain evaluates interpreted per element and
  * builds every shingle string through boxed `element_at` + concat
  * calls — measured as the dominant cost of `llm_minhash_md5`
  * (7.4 s at sf0.1, ~4× the xxhash64 twin).
  */
case class ShingleMd5Hash64Expr(child: Expression, n: Int,
    distinct: Boolean) extends UnaryExpression with NativeExpression {
  require(n >= 1, s"shingle width n=$n must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** One pass; called from interpreted eval and generated code. */
  def compute(tokens: ArrayData): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.emptyLongArray)
    val tb = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) {
      val t = tokens.getUTF8String(i)
      tb(i) = if (t == null) null else t.getBytes
      i += 1
    }
    val md = ShingleMd5Hash64Expr.digest.get()
    val m = cnt - n + 1
    val out = new Array[Long](m)
    val seen =
      if (distinct) new java.util.HashSet[java.lang.Long](m * 2) else null
    var k = 0
    i = 0
    while (i < m) {
      md.reset()
      var first = true
      var j = 0
      while (j < n) {
        val b = tb(i + j)
        if (b != null) { // concat_ws skips null values
          if (!first) md.update(0x20.toByte)
          md.update(b)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      val h = ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
        ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
        ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
        ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
      if (seen == null || seen.add(h)) { out(k) = h; k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression)
      : ShingleMd5Hash64Expr = copy(child = c)
  override def prettyName: String = "shingle_md5_hash64"
}

object ShingleMd5Hash64Expr {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge

  def shingle_md5_hash64(tokens: Column, n: Int,
      distinct: Boolean): Column =
    ColumnBridge.column(
      ShingleMd5Hash64Expr(ColumnBridge.expression(tokens), n, distinct))
}
