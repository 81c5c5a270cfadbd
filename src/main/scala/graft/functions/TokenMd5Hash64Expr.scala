package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-token md5-based 64-bit hash: for each string in the
  * input array, md5 over its UTF-8 bytes, first 8 digest bytes read
  * big-endian as one long.
  *
  * Bit-for-bit identical to the SQL-expressible chain
  * `(conv(substring(md5(t),1,8),16,10) << 32) | conv(substring(md5(t),9,8),16,10)`
  * (Dedup.tokenHashes64 ∘ Dedup.tokenMd5s) that the DuckDB simhash
  * oracle reproduces — hex chars 1-16 ARE digest bytes 0-7 — but with
  * no hex-string materialization and no base-16 string parsing, and it
  * runs codegen'd instead of interpreted inside a `transform` lambda
  * (higher-order functions evaluate their lambda per element with no
  * codegen — the measured dominant cost of the simhash query).
  */
case class TokenMd5Hash64Expr(child: Expression)
    extends UnaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** One pass over the token array; called from interpreted eval and
    * generated code. NULL elements hash as empty strings (the SQL
    * chain would yield NULL, but our tokenizers never emit NULL
    * tokens — regexp_extract_all arrays are non-null by construction). */
  def compute(input: ArrayData): ArrayData = {
    val md = TokenMd5Hash64Expr.digest.get()
    val n = input.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val t = input.getUTF8String(i)
      val d = md.digest(if (t == null) Array.emptyByteArray else t.getBytes)
      out(i) = ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
        ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
        ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
        ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression)
      : TokenMd5Hash64Expr = copy(child = c)
  override def prettyName: String = "token_md5_hash64"
}

object TokenMd5Hash64Expr {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge

  def token_md5_hash64(tokens: Column): Column =
    ColumnBridge.column(TokenMd5Hash64Expr(ColumnBridge.expression(tokens)))
}
