package graft.normalize

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.ColumnBridge

/** Path segment of the normalizer field DSL: `name` or `name[idx]`. */
final case class PathSeg(name: String, index: Option[Int]) {
  def canonical: String = index.fold(name)(i => s"$name[$i]")
}

object PathParser {
  private val SegRe = """([^\[\].]+)(?:\[(\d+)\])?""".r

  /** Parse `"stores[0].gallery.deals.id"` into segments. Indices are
    * 0-based (reference: Go-slice indexing,
    * /root/reference/README.md:45 `stores[0].gallery.deals.id`). */
  def parse(path: String): Seq[PathSeg] = {
    require(path.nonEmpty, "empty normalizer path")
    path.split('.').toSeq.map {
      case SegRe(name, null) => PathSeg(name, None)
      case SegRe(name, idx)  => PathSeg(name, Some(idx.toInt))
      case other => throw new IllegalArgumentException(
        s"bad normalizer path segment '$other' in '$path'")
    }
  }
}

/** Normalizer spec — parity with the reference's `WithNormalizer(fields,
  * aliases, failOnRangeError)` (/root/reference/quacfka.go:106-120).
  *
  * Semantics (/root/reference/README.md:111-131):
  *  - dotted path → nested scalar projection (`site.id`);
  *  - `name[i]` → element access; out-of-range → NULL, or error when
  *    `failOnRangeError` (the reference's range-error flag);
  *  - un-indexed list path → one output row PER ELEMENT with scalar
  *    columns repeated; an EMPTY list yields exactly one row with NULL
  *    in the list-derived columns (= Spark `explode_outer`);
  *  - `aliases` rename output columns (default: path with separators
  *    mapped to `_`); two fields may not output one name, whether by
  *    alias or by derived name, compared case-insensitively.
  */
final case class NormalizerSpec(
    fields: Seq[String],
    aliases: Seq[String] = Nil,
    failOnRangeError: Boolean = false) {
  require(aliases.isEmpty || aliases.length == fields.length,
    s"aliases length ${aliases.length} != fields length ${fields.length}")
  for (j <- outputNames.indices; i <- 0 until j)
    require(!outputNames(i).equalsIgnoreCase(outputNames(j)),
      s"normalizer fields '${fields(i)}' and '${fields(j)}' both output " +
      s"the column '${outputNames(j)}' (output names compare " +
      "case-insensitively)")
  def outputNames: Seq[String] =
    if (aliases.nonEmpty) aliases
    else fields.map(_.replaceAll("""[\[\]]""", "").replace('.', '_'))
}

/** Flatten/unnest projection over nested columns — the reference's
  * normalizer (N1 in SURVEY.md §2). No shuffle is introduced — at
  * 100 TB this stays a map-only stage fused with the scan.
  *
  * [[rows]] is the one definition: per input row, the array of its
  * normalized rows, computed by ONE native expression
  * ([[NormalizeRowsExpr]], `graft_normalize_rows`) running a path
  * program compiled here, on the driver. [[normalize]] is
  * `inline_outer` over it, and the pipeline sink writes the array
  * straight into the norm table from the same scan that writes the raw
  * table. Not built from `transform`/`flatten`: Spark interprets
  * higher-order-function lambdas once per element (SCALE.md, note of
  * 2026-10-21).
  *
  * Fields sharing an un-indexed list prefix share ONE fan-out (aligned
  * elements). Distinct un-indexed lists nest → cross product (the
  * reference documents only a single list path; we generalize).
  */
object Normalizer {

  def normalize(df: DataFrame, spec: NormalizerSpec): DataFrame =
    // outer: the array is never empty, and an inner generator would
    // get an inferred size/notnull Filter that re-runs the decode
    df.select(inline_outer(rows(df.schema, spec)))

  /** `array<struct<outputNames>>`: the normalized rows of one input
    * row, in `explode_outer` order — one row per element of each
    * un-indexed list, and one row with NULL list-derived columns for a
    * NULL or empty list. The kernel's one input is the struct of the
    * referenced top-level columns, so an upstream decode runs once per
    * input row however many rows it fans out to. */
  def rows(schema: StructType, spec: NormalizerSpec): Column = {
    val parsed = spec.fields.map(PathParser.parse)
    val rootType = StructType(parsed.distinctBy(_.head.name).map(segs =>
      schema.fields(fieldIndex(schema, segs.head, segs))))
    ColumnBridge.column(NormalizeRowsExpr(
      ColumnBridge.expression(
        struct(rootType.fieldNames.map(n => col(n).as(n)).toIndexedSeq: _*)),
      compile(rootType, spec)))
  }

  /** Derive the flat output schema of `normalize(df, spec)` without
    * running it — parity with the reference's normalizer-schema
    * derivation ("The Arrow field types of the selected fields will be
    * used to build the new schema",
    * /root/reference/quacfka.go:110-111). Un-indexed list paths
    * resolve to their ELEMENT type (the per-row fan-out type); all
    * outputs are nullable (empty-list ⇒ NULL-row semantics). */
  def normalizedSchema(schema: StructType, spec: NormalizerSpec): StructType =
    StructType(compile(schema, spec).rowType.map(_.copy(nullable = true)))

  /** Compile `spec` against `root` into the kernel's path program.
    * Fan-out points are the path prefixes ending in an un-indexed
    * array, in first-seen order, nested ones after their parents (they
    * have strictly more segments). Each path starts from the longest
    * of its prefixes that is a point already entered (for a point, an
    * earlier one). A field is nullable when it comes from a list
    * element, passes an index, or passes a nullable field. */
  private[normalize] def compile(
      root: StructType, spec: NormalizerSpec): NormalizerProgram = {
    val parsed = spec.fields.map(PathParser.parse)
    val points = parsed.flatMap(explodePrefixes(root, _))
      .distinctBy(canonical).sortBy(_.length)
    val keys = points.map(canonical)

    // (compiled path, its value type, whether it can be NULL)
    def path(segs: Seq[PathSeg],
        entered: Int): (CompiledPath, DataType, Boolean) = {
      val from = (segs.length to 1 by -1).iterator
        .map(k => keys.indexOf(canonical(segs.take(k))))
        .find(i => i >= 0 && i < entered).getOrElse(-1)
      val start = if (from < 0) 0 else points(from).length
      var dt: DataType =
        if (from < 0) root else elementType(root, points(from))
      var nullable = start > 0
      val hops = segs.drop(start).map { seg =>
        val ordinal = fieldIndex(dt, seg, segs)
        val f = dt.asInstanceOf[StructType].fields(ordinal)
        // an index on a field that is not an array is ignored, as the
        // lambda form ignored it
        val index = f.dataType match {
          case ArrayType(elem, _) if seg.index.isDefined =>
            dt = elem
            seg.index.get
          case other =>
            dt = other
            -1
        }
        nullable ||= f.nullable || index >= 0
        PathHop(ordinal, f.dataType, index)
      }
      (CompiledPath(from, hops, canonical(segs)), dt, nullable)
    }

    val fields = parsed.map(path(_, points.length))
    NormalizerProgram(root,
      points.zipWithIndex.map { case (p, k) => path(p, k)._1 },
      fields.map(_._1),
      StructType(spec.outputNames.zip(fields).map { case (n, (_, dt, nul)) =>
        StructField(n, dt, nul) }),
      spec.failOnRangeError)
  }

  private[normalize] def canonical(segs: Seq[PathSeg]): String =
    segs.map(_.canonical).mkString(".")

  /** All prefixes of `segs` that end at an un-indexed array field
    * (each such prefix is one fan-out). The terminal segment counts:
    * an un-indexed terminal array also fans out per element. */
  private[normalize] def explodePrefixes(
      schema: StructType, segs: Seq[PathSeg]): Seq[Seq[PathSeg]] = {
    val out = mutable.Buffer[Seq[PathSeg]]()
    var dt: DataType = schema
    segs.zipWithIndex.foreach { case (seg, i) =>
      dt = structField(dt, seg, segs)
      dt match {
        case ArrayType(elem, _) =>
          if (seg.index.isEmpty) out += segs.take(i + 1)
          dt = elem
        case _ => ()
      }
    }
    out.toSeq
  }

  /** Ordinal of `seg`'s field in `dt`; clear error if the path is
    * invalid. */
  private def fieldIndex(dt: DataType, seg: PathSeg, full: Seq[PathSeg]): Int =
    dt match {
      case st: StructType =>
        val i = st.fields.indexWhere(_.name == seg.name)
        if (i < 0) throw new IllegalArgumentException(
          s"normalizer path '${canonical(full)}': no field '${seg.name}' " +
          s"in struct [${st.fieldNames.mkString(", ")}]")
        i
      case other => throw new IllegalArgumentException(
        s"normalizer path '${canonical(full)}': cannot descend into " +
        s"${other.simpleString} at '${seg.name}'")
    }

  /** Descend one struct field; clear error if the path is invalid. */
  private[normalize] def structField(
      dt: DataType, seg: PathSeg, full: Seq[PathSeg]): DataType =
    dt.asInstanceOf[StructType].fields(fieldIndex(dt, seg, full)).dataType

  /** Type reached at the end of `segs`, arrays stepped into (the
    * element type of the array at a fan-out point). */
  private[normalize] def elementType(
      schema: StructType, segs: Seq[PathSeg]): DataType =
    segs.foldLeft(schema: DataType) { (dt, seg) =>
      structField(dt, seg, segs) match {
        case ArrayType(elem, _) => elem
        case other => other
      }
    }
}
