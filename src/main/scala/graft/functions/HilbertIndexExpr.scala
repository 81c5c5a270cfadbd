package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index of a 2-D cell — the locality upgrade over the
  * Morton interleave ([[graft.operators.Layout.zValue]]): every unit
  * step along the Hilbert curve moves to an ADJACENT grid cell (the
  * Z curve jumps across the grid once per quadrant boundary), so a
  * curve segment — which is what one parquet row group covers after a
  * range-partition + sort layout — is a tighter rectangle, and 2-D
  * box predicates prune more row groups (Moon et al. 1996 show the
  * Hilbert curve's clustering for range queries is asymptotically
  * optimal among space-filling curves; measured against Z-order on
  * the same scan in LayoutSuite).
  *
  * Standard iterative xy2d: walk bit planes high→low, accumulate the
  * quadrant digit `(3·rx) xor ry`, and rotate/reflect the frame when
  * the quadrant demands it. The rotation rewrites BOTH coordinates
  * from both inputs at every one of the `bits` steps, so a
  * functions-composed Column tree doubles per step (2^16 nodes at the
  * default 16 bits) — this is a native expression with a real
  * `doGenCode` for that reason, not style (the repo-wide
  * no-CodegenFallback rule). Inputs are masked to the low `bits`
  * bits, making the function total; the DuckDB oracle mirrors the
  * mask and the 16 unrolled rotation steps bit-for-bit
  * (OperatorQueries.hilbertSql). */
case class HilbertIndexExpr(left: Expression, right: Expression,
    bits: Int) extends BinaryExpression with NativeExpression {
  require(bits >= 1 && bits <= 31, s"bits out of range: $bits")

  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  def compute(x0: Long, y0: Long): Long = {
    val n = 1L << bits
    var x = x0 & (n - 1)
    var y = y0 & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override def nullSafeEval(xv: Any, yv: Any): Any =
    compute(xv.asInstanceOf[Long], yv.asInstanceOf[Long])

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertIndexExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "hilbert_index"
}

object HilbertIndexExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def hilbert_index(x: Column, y: Column, bits: Int = 16): Column =
    ColumnBridge.column(HilbertIndexExpr(
      ColumnBridge.expression(x), ColumnBridge.expression(y), bits))
}
