package graft.normalize

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ErrorBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.functions.NativeExpression

/** One hop of a compiled path: field `ordinal` (of type `fieldType`)
  * of the struct in hand, then, when `index >= 0`, element `index` of
  * the array that field holds. */
final case class PathHop(ordinal: Int, fieldType: DataType, index: Int)

/** A normalizer path resolved against the root struct: it starts at
  * the root (`from = -1`) or at the current element of fan-out point
  * `from`, and walks `hops`. `path` is its canonical text, for the
  * range error. */
final case class CompiledPath(from: Int, hops: Seq[PathHop], path: String)

/** A [[NormalizerSpec]] compiled once, on the driver, against the root
  * struct `rootType`: the fan-out points in nesting order (each path's
  * last hop is an un-indexed array), then one path per output field.
  * `rowType` is the output row: the normalized field types, each
  * nullable as the path can yield NULL. */
final case class NormalizerProgram(
    rootType: StructType,
    points: Seq[CompiledPath],
    fields: Seq[CompiledPath],
    rowType: StructType,
    strict: Boolean) {
  override def toString: String =
    rowType.fieldNames.zip(fields.map(_.path))
      .map { case (n, p) => s"$n=$p" }.mkString("[", ", ", "]")
}

/** `graft_normalize_rows(root)`: the normalized rows of one input row,
  * `array<struct<outputNames>>`, in `explode_outer` order — each
  * fan-out point loops over its array's elements in turn (a NULL or
  * empty array gives one NULL element), inner points nested inside
  * outer ones, so distinct lists give their cross product; one output
  * row per innermost element. An indexed hop past the array's end is
  * NULL, or with `strict` raises the normalizer range error. A NULL on
  * a path makes the rest of the path NULL.
  *
  * Root-derived fields are the same for every row of one input row and
  * are read once; only the list-derived ones are read per row. */
case class NormalizeRowsExpr(child: Expression, program: NormalizerProgram)
    extends UnaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(program.rootType)
  override def dataType: DataType =
    ArrayType(program.rowType, containsNull = false)
  override def nullable: Boolean = child.nullable

  private type Getter = (SpecializedGetters, Int) => Any

  /** The program's paths as flat arrays of accessors, built where the
    * expression runs. */
  private final class Path(p: CompiledPath) {
    val from: Int = p.from
    val ordinals: Array[Int] = p.hops.map(_.ordinal).toArray
    val indices: Array[Int] = p.hops.map(_.index).toArray
    val fieldGet: Array[Getter] =
      p.hops.map(h => InternalRow.getAccessor(h.fieldType)).toArray
    val elemGet: Array[Getter] = p.hops.map(h => h.fieldType match {
      case ArrayType(elem, _) if h.index >= 0 => InternalRow.getAccessor(elem)
      case _ => null
    }).toArray
    val text: String = p.path
  }

  @transient private lazy val points = program.points.map(new Path(_)).toArray
  @transient private lazy val pointGet = program.points.map(p =>
    InternalRow.getAccessor(p.hops.last.fieldType.asInstanceOf[ArrayType]
      .elementType)).toArray
  @transient private lazy val fields = program.fields.map(new Path(_)).toArray

  private def walk(p: Path, root: InternalRow, elems: Array[Any]): Any = {
    var v: Any = if (p.from < 0) root else elems(p.from)
    var h = 0
    while (h < p.ordinals.length && v != null) {
      v = p.fieldGet(h)(v.asInstanceOf[InternalRow], p.ordinals(h))
      val i = p.indices(h)
      if (i >= 0 && v != null) {
        val a = v.asInstanceOf[ArrayData]
        v = if (i < a.numElements()) p.elemGet(h)(a, i)
          else if (program.strict)
            throw NormalizeRowsExpr.rangeError(i, p.text)
          else null
      }
      h += 1
    }
    v
  }

  /** The output rows of one input row, grown as they are emitted. */
  private final class Rows {
    private var rows = new Array[AnyRef](4)
    private var n = 0
    private var last: Array[Any] = _

    def emit(root: InternalRow, elems: Array[Any]): Unit = {
      val values = new Array[Any](fields.length)
      var f = 0
      while (f < fields.length) {
        val p = fields(f)
        values(f) =
          if (last != null && p.from < 0) last(f) else walk(p, root, elems)
        f += 1
      }
      if (n == rows.length) rows = java.util.Arrays.copyOf(rows, n * 2)
      rows(n) = new GenericInternalRow(values)
      n += 1
      last = values
    }

    def result: ArrayData = new GenericArrayData(
      (if (n == rows.length) rows else java.util.Arrays.copyOf(rows, n))
        .asInstanceOf[Array[Any]])
  }

  private def fanOut(k: Int, root: InternalRow, elems: Array[Any],
      out: Rows): Unit =
    if (k == points.length) out.emit(root, elems)
    else {
      val a = walk(points(k), root, elems).asInstanceOf[ArrayData]
      val n = if (a == null) 0 else a.numElements()
      if (n == 0) {
        elems(k) = null
        fanOut(k + 1, root, elems, out)
      } else {
        var i = 0
        while (i < n) {
          elems(k) = pointGet(k)(a, i)
          fanOut(k + 1, root, elems, out)
          i += 1
        }
      }
    }

  def compute(root: InternalRow): ArrayData = {
    val out = new Rows
    fanOut(0, root, new Array[Any](points.length), out)
    out.result
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[InternalRow])

  override protected def withNewChildInternal(c: Expression)
      : NormalizeRowsExpr = copy(child = c)
  override def prettyName: String = "graft_normalize_rows"
}

object NormalizeRowsExpr {
  /** The strict-mode error: the exception and message `raise_error`
    * gives, as the normalizer has always reported it. */
  def rangeError(index: Int, path: String): RuntimeException =
    ErrorBridge.raiseError(
      s"normalizer range error: index $index out of range in path '$path'")
}
