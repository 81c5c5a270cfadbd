package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per-row Shannon entropy of a text's
  * character (code-point) or word-token distribution, natural log —
  * H = ln n − Σ cnt·ln cnt / n over the per-unit occurrence counts.
  *
  * Replaces the explode → groupBy(doc, unit) → groupBy(doc) chain in
  * `TextAnalysis.entropySignals`: per-document entropy is a pure
  * per-row computation, so the distributed shape (two explodes — one
  * of them one row per CHARACTER of the corpus — four exchanges, two
  * join-backs) paid shuffle machinery for work a single scan can do.
  * Round-15 measurement: llm_entropy 4 exchanges → 0, map-only.
  *
  * Unit semantics are EXACTLY the old chain's (oracle-pinned at both
  * SFs, suite-pinned vs the old chain on edge cases):
  *   - char mode: `split(text, '')` elements = Unicode code points
  *     (Java regex iterates code points, so surrogate pairs stay
  *     whole), empties filtered — i.e. counts per code point;
  *   - token mode: `regexp_extract_all(lower(text), '[a-z0-9]+')` —
  *     implemented as UTF8String.toLowerCase (the Lower expression's
  *     own kernel) then an ASCII byte scan: multibyte UTF-8 units are
  *     all ≥ 0x80 so they separate runs exactly like non-matching
  *     code points under the regex.
  * ln is StrictMath.log — the same kernel Catalyst's Log uses — and
  * the accumulation is the same cnt·ln(cnt) sum; only the summation
  * ORDER differs from the distributed aggregate (hash-map iteration
  * vs partition order), which the callers' 4-dp round absorbs exactly
  * as it already absorbed DuckDB's order (cross-engine oracle).
  *
  * Zero units (empty/whitespace-only in token mode, empty string in
  * char mode) → 0.0, matching the old chain's left-join + coalesce;
  * NULL text → NULL (the caller coalesces). */
case class EntropyExpr(child: Expression, tokenMode: Boolean)
    extends UnaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  private def entropyOf(counts: java.util.HashMap[AnyRef, Array[Long]])
      : Double = {
    var n = 0L
    var s = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      n += c
      s += c * StrictMath.log(c.toDouble)
    }
    if (n == 0L) 0.0
    else StrictMath.log(n.toDouble) - s / n
  }

  def compute(input: UTF8String): Double =
    if (tokenMode) {
      val b = input.toLowerCase.getBytes
      val counts = new java.util.HashMap[AnyRef, Array[Long]]()
      var i = 0
      val n = b.length
      while (i < n) {
        var j = i
        while (j < n && {
          val c = b(j)
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) j += 1
        if (j > i) {
          val tok = new String(b, i, j - i,
            java.nio.charset.StandardCharsets.US_ASCII)
          val e = counts.get(tok)
          if (e == null) counts.put(tok, Array(1L)) else e(0) += 1L
          i = j
        } else i += 1
      }
      entropyOf(counts)
    } else {
      val s = input.toString
      val counts = new java.util.HashMap[AnyRef, Array[Long]]()
      var i = 0
      val n = s.length
      while (i < n) {
        val cp = s.codePointAt(i)
        val key = Integer.valueOf(cp)
        val e = counts.get(key)
        if (e == null) counts.put(key, Array(1L)) else e(0) += 1L
        i += Character.charCount(cp)
      }
      entropyOf(counts)
    }

  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(compute(input.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(c: Expression): EntropyExpr =
    copy(child = c)
  override def prettyName: String =
    if (tokenMode) "token_entropy" else "char_entropy"
}

object EntropyExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def char_entropy(text: Column): Column =
    ColumnBridge.column(
      EntropyExpr(ColumnBridge.expression(text), tokenMode = false))

  def token_entropy(text: Column): Column =
    ColumnBridge.column(
      EntropyExpr(ColumnBridge.expression(text), tokenMode = true))
}
