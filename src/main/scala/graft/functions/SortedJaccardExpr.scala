package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Exact Jaccard similarity |A∩B| / |A∪B| of two SORTED, DISTINCT
  * long arrays in ONE merge pass — no hash set, no allocation, no
  * boxing. The caller contract (ASSUMED, not checked — a per-pair
  * runtime guard would cost what the merge saves): both inputs are
  * sorted ascending with no repeated elements — i.e. the output of
  * `sort_array` over a distinct hashed-shingle set. Violating it
  * yields silently wrong Jaccard (e.g. [1,1] vs [1] → 0.5, not 1.0);
  * both call sites sort the distinct sets once per doc at the
  * payload fetch. Sorting happens
  * once per DOCUMENT at the payload fetch; the merge runs once per
  * candidate PAIR, which is the asymmetric cost that matters — at
  * 100 TB a near-dup verify evaluates orders of magnitude more pairs
  * than documents.
  *
  * Replaces `size(array_intersect(a, b)) / size(array_union(a, b))`
  * (Dedup verify join-back): those build TWO hash tables per evaluated
  * pair (intersect + union each allocate an OpenHashSet and box every
  * long). Identical result by construction — over distinct sets the
  * merge counts exactly |A∩B| and |A|+|B|−|A∩B|.
  *
  * Both-empty → null (0/0), matching the SQL form where the division's
  * zero denominator yields NULL. Any-null input → null (BinaryExpression
  * default).
  */
case class SortedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** One sorted-merge pass; called from interpreted eval and generated
    * code. Returns null (boxed) when both sides are empty. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return null
    var i = 0
    var j = 0
    var common = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { common += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Double.valueOf(
      common.toDouble / (na.toLong + nb - common))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Own codegen: a primitive result that can be NULL, so compute()'s
    * boxed result is unboxed only when it is not null. */
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedJaccardExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("jac")
      s"""java.lang.Double $boxed = $ref.compute($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedJaccardExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sorted_jaccard"
}

object SortedJaccardExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def sorted_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccardExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
