package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: rebuild a token stream with the tokens
  * inside cut intervals removed — `Dedup.cutSpans`' inner loop.
  *
  * Inputs: `toks` array<string> (the canonical token array), `ivs`
  * array<struct<s:long, e:long>> of cut ranges SORTED BY `s` (the
  * cutSpans contract: intervals are interval-merged and sort_array'd
  * per doc before the join-back). Output: struct<text_cut: string,
  * n_removed: bigint> — text_cut joins the kept tokens with single
  * spaces; token index i is cut iff some interval has s ≤ i < e.
  *
  * Replaces the per-row HOF chain
  * `filter(sequence, i => !exists(ivs, …)) → transform → concat_ws`:
  * higher-order functions evaluate their lambdas interpreted, per
  * token × per interval — measured round 15 (NoopTime, interleaved
  * arms under co-tenant load): llm_cut_spans 2.19 → 1.81 s; the
  * capstone moves within noise (its cost is the survivors barrier,
  * SpansCostProbe). Output byte-identical (suite pins native ≡ the
  * HOF chain, which is kept as `cutSpansHof`).
  *
  * Null semantics mirror the HOF chain exactly: NULL `toks` (null
  * text) and the empty array both yield ("", 0); NULL `ivs` (doc
  * without spans) keeps every token. The expression itself is never
  * null. */
case class CutTokensExpr(left: Expression, right: Expression)
    extends BinaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(StringType),
    ArrayType(StructType(Seq(
      StructField("s", LongType), StructField("e", LongType)))))
  override def dataType: DataType = StructType(Seq(
    StructField("text_cut", StringType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def nullable: Boolean = false

  def compute(toks: ArrayData, ivs: ArrayData): InternalRow = {
    if (toks == null) return InternalRow(UTF8String.fromString(""), 0L)
    val n = toks.numElements()
    val m = if (ivs == null) 0 else ivs.numElements()
    // (s, e) pairs, already sorted by s (the cutSpans contract)
    val ss = new Array[Long](m)
    val es = new Array[Long](m)
    var j = 0
    while (j < m) {
      val iv = ivs.getStruct(j, 2)
      ss(j) = iv.getLong(0)
      es(j) = iv.getLong(1)
      j += 1
    }
    val kept = new java.lang.StringBuilder
    var removed = 0L
    var i = 0
    // Intervals are island-merged (non-overlapping) and sorted by s,
    // so one monotone pointer suffices: advance past intervals that
    // end at or before i, then i is cut iff the current one covers it.
    // O(n + m) — the old per-token rescan from p=0 was O(n·m) (ADVICE
    // r15; heavily-duplicated docs with many spans paid quadratic).
    var p = 0
    while (i < n) {
      while (p < m && es(p) <= i) p += 1
      val cut = p < m && ss(p) <= i
      if (cut) removed += 1L
      else {
        if (kept.length > 0) kept.append(' ')
        kept.append(toks.getUTF8String(i).toString)
      }
      i += 1
    }
    InternalRow(UTF8String.fromString(kept.toString), removed)
  }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    val v = right.eval(input)
    compute(t.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData])
  }

  /** Own codegen: both children may be null (null text / span-less
    * doc), and the call passes the nulls through to compute(). */
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cutTokensExpr", this)
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val code =
      code"""
        ${l.code}
        ${r.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} = $ref.compute(
          ${l.isNull} ? null : ${l.value},
          ${r.isNull} ? null : ${r.value});
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CutTokensExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cut_tokens"
}

object CutTokensExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def cut_tokens(toks: Column, ivs: Column): Column =
    ColumnBridge.column(CutTokensExpr(
      ColumnBridge.expression(toks), ColumnBridge.expression(ivs)))
}
