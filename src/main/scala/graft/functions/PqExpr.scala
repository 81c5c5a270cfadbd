package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Product-quantization primitives as native codegen'd expressions —
  * the HOF forms (`Similarity.sqdist` folded per (subspace, code))
  * evaluate m·ks interpreted `aggregate`/`zip_with` lambdas with
  * boxed doubles per row, the same cost profile that motivated
  * `HyperplaneSigsExpr`. Here the codebook rides the expression as a
  * flattened primitive array and each row is a multiply-accumulate
  * loop.
  *
  * Bit-for-bit contract with the DuckDB oracle (and the HOF
  * reference kept in PqExprSuite): every squared distance accumulates
  * (x−y)² left-to-right over the subspace dims in IEEE doubles, and
  * the argmin takes the FIRST minimum (ties → lowest code), matching
  * `array_position(sc, array_min(sc))` and the oracle's
  * `row_number() ... ORDER BY d2 ASC, cn ASC`. NaN distances are
  * never selected (`NaN < best` is false) — Spark's NaN-is-largest
  * ordering. A vector whose width ≠ m·sub (or with a null element)
  * yields NULL — the HOF form's null-propagation shape.
  *
  * This trait holds the codebook math both expressions share.
  */
trait PqCodebook {
  def codebooks: Seq[Seq[Seq[Double]]]

  @transient protected lazy val m: Int = codebooks.length
  @transient protected lazy val ks: Int = codebooks.head.length
  @transient protected lazy val sub: Int = codebooks.head.head.length
  /** flat(j*ks + c) = sub-centroid dims, primitive. */
  @transient protected lazy val flat: Array[Array[Double]] =
    codebooks.flatten.map(_.toArray).toArray

  /** xs for a valid fixed-width vector, null otherwise. */
  protected def validVec(vec: ArrayData): Array[Double] = {
    val dim = vec.numElements()
    if (dim != m * sub) return null
    var i = 0
    while (i < dim) { if (vec.isNullAt(i)) return null; i += 1 }
    vec.toDoubleArray()
  }

  protected def d2(xs: Array[Double], off: Int, cent: Array[Double]): Double = {
    var acc = 0.0
    var d = 0
    while (d < sub) {
      val diff = xs(off + d) - cent(d)
      acc += diff * diff
      d += 1
    }
    acc
  }
}

/** Per-vector PQ code array: element j = argmin_c d2(slice_j, cb[j][c]). */
case class PqCodesExpr(child: Expression,
    codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with NativeExpression with PqCodebook {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  def compute(vec: ArrayData): ArrayData = {
    val xs = validVec(vec)
    if (xs == null) return null
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < ks) {
        val dd = d2(xs, j * sub, flat(j * ks + c))
        if (dd < best) { best = dd; bestC = c } // strict: first min wins
        c += 1
      }
      out(j) = bestC
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): PqCodesExpr =
    copy(child = c)
  override def prettyName: String = "pq_codes"
}

/** Query-side flat ADC distance table: element j*ks+c =
  * d2(slice_j, cb[j][c]). */
case class PqDistTableExpr(child: Expression,
    codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with NativeExpression with PqCodebook {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  def compute(vec: ArrayData): ArrayData = {
    val xs = validVec(vec)
    if (xs == null) return null
    val out = new Array[Double](m * ks)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ks) {
        out(j * ks + c) = d2(xs, j * sub, flat(j * ks + c))
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): PqDistTableExpr =
    copy(child = c)
  override def prettyName: String = "pq_dist_table"
}

object PqExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def pq_codes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqCodesExpr(ColumnBridge.expression(vec), codebooks))

  def pq_dist_table(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqDistTableExpr(ColumnBridge.expression(vec), codebooks))
}
