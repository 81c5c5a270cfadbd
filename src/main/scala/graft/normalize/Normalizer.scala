package graft.normalize

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExprUtils

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
  *    mapped to `_`).
  */
final case class NormalizerSpec(
    fields: Seq[String],
    aliases: Seq[String] = Nil,
    failOnRangeError: Boolean = false) {
  require(aliases.isEmpty || aliases.length == fields.length,
    s"aliases length ${aliases.length} != fields length ${fields.length}")
  def outputNames: Seq[String] =
    if (aliases.nonEmpty) aliases
    else fields.map(_.replaceAll("""[\[\]]""", "").replace('.', '_'))
}

/** Flatten/unnest projection over nested columns — the reference's
  * normalizer (N1 in SURVEY.md §2) as a pure Catalyst projection:
  * path resolution compiles to `getField`/`get`/`transform`, so
  * predicate pushdown, column pruning and whole-stage codegen all
  * apply. No shuffle is introduced — at 100 TB this stays a map-only
  * stage fused with the scan.
  *
  * [[rows]] is the one definition: per input row, the array of its
  * normalized rows. [[normalize]] is `inline_outer` over it, and the
  * pipeline sink writes the array straight into the norm table from
  * the same scan that writes the raw table.
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
    * NULL or empty list. The referenced top-level columns are pinned
    * with [[ExprUtils.bindOnce]], so the per-element lambdas read them
    * instead of re-running an upstream decode for every element. */
  def rows(schema: StructType, spec: NormalizerSpec): Column = {
    val parsed = spec.fields.map(PathParser.parse)

    // Fan-out points (prefixes ending in an un-indexed array), in
    // first-seen order; nested ones sort after their parents because
    // they have strictly more segments.
    val points = mutable.LinkedHashMap[String, Seq[PathSeg]]()
    parsed.foreach { segs =>
      explodePrefixes(schema, segs).foreach { p =>
        points.getOrElseUpdate(canonical(p), p)
      }
    }
    val ordered = points.values.toSeq.sortBy(_.length)
    val roots = parsed.map(_.head.name).distinct

    ExprUtils.bindOnce(struct(roots.map(n => col(n).as(n)): _*)) { r =>
      // bound: canonical fan-out point -> its current element
      def level(k: Int, bound: Map[String, Column]): Column =
        if (k == ordered.length) {
          array(struct(parsed.zip(spec.outputNames).map { case (segs, name) =>
            resolve(schema, segs, r, bound, spec.failOnRangeError).as(name)
          }: _*))
        } else {
          val segs = ordered(k)
          val arr = resolve(schema, segs, r, bound, spec.failOnRangeError)
          val nullElem = lit(null).cast(arrayElementType(schema, segs))
          val outer = when(arr.isNull || size(arr) === 0, array(nullElem))
            .otherwise(arr)
          flatten(transform(outer,
            x => level(k + 1, bound + (canonical(segs) -> x))))
        }
      level(0, Map.empty)
    }
  }

  /** Derive the flat output schema of `normalize(df, spec)` without
    * running it — parity with the reference's normalizer-schema
    * derivation ("The Arrow field types of the selected fields will be
    * used to build the new schema",
    * /root/reference/quacfka.go:110-111). Un-indexed list paths
    * resolve to their ELEMENT type (the per-row fan-out type); all
    * outputs are nullable (empty-list ⇒ NULL-row semantics). */
  def normalizedSchema(schema: StructType, spec: NormalizerSpec): StructType = {
    val fields = spec.fields.map(PathParser.parse)
      .zip(spec.outputNames).map { case (segs, name) =>
        var dt: DataType = schema
        segs.foreach { seg =>
          dt = structField(dt, seg, segs) match {
            case ArrayType(elem, _) => elem // indexed OR exploded element
            case other => other
          }
        }
        StructField(name, dt, nullable = true)
      }
    StructType(fields)
  }

  private def canonical(segs: Seq[PathSeg]): String =
    segs.map(_.canonical).mkString(".")

  /** All prefixes of `segs` that end at an un-indexed array field
    * (each such prefix is one fan-out). The terminal segment counts:
    * an un-indexed terminal array also fans out per element. */
  private def explodePrefixes(
      schema: StructType, segs: Seq[PathSeg]): Seq[Seq[PathSeg]] = {
    val out = mutable.Buffer[Seq[PathSeg]]()
    var dt: DataType = schema
    segs.zipWithIndex.foreach { case (seg, i) =>
      dt = structField(dt, seg, segs)
      dt match {
        case ArrayType(elem, _) =>
          if (seg.index.isDefined) dt = elem
          else { out += segs.take(i + 1); dt = elem }
        case _ => ()
      }
    }
    out.toSeq
  }

  /** Descend one struct field; clear error if the path is invalid. */
  private def structField(
      dt: DataType, seg: PathSeg, full: Seq[PathSeg]): DataType = dt match {
    case st: StructType =>
      st.fields.find(_.name == seg.name).map(_.dataType).getOrElse {
        throw new IllegalArgumentException(
          s"normalizer path '${canonical(full)}': no field '${seg.name}' " +
          s"in struct [${st.fieldNames.mkString(", ")}]")
      }
    case other => throw new IllegalArgumentException(
      s"normalizer path '${canonical(full)}': cannot descend into " +
      s"${other.simpleString} at '${seg.name}'")
  }

  /** Element type of the array at fan-out point `segs`. */
  private def arrayElementType(
      schema: StructType, segs: Seq[PathSeg]): DataType = {
    var dt: DataType = schema
    segs.foreach { seg =>
      dt = structField(dt, seg, segs) match {
        case ArrayType(elem, _) => elem
        case other => other
      }
    }
    dt
  }

  /** Resolve a parsed path to a Column: top-level fields read from
    * the bound root struct `r`, or from the current element of the
    * longest fan-out point already entered (`bound`). */
  private def resolve(
      rootSchema: StructType,
      segs: Seq[PathSeg],
      r: Column,
      bound: Map[String, Column],
      strict: Boolean): Column = {

    val start = (segs.length to 1 by -1).find { k =>
      bound.contains(canonical(segs.take(k)))
    }.getOrElse(0)

    var c: Column = r
    var dt: DataType = rootSchema
    if (start > 0) {
      c = bound(canonical(segs.take(start)))
      dt = arrayElementType(rootSchema, segs.take(start))
    }

    // an un-indexed array left in the path is the fan-out point being
    // entered (its value is the array); every earlier one is bound
    segs.drop(start).foreach { seg =>
      dt = structField(dt, seg, segs)
      c = c.getField(seg.name)
      (dt, seg.index) match {
        case (ArrayType(elem, _), Some(i)) =>
          c = elementAt(c, i, strict, canonical(segs))
          dt = elem
        case _ => ()
      }
    }
    c
  }

  /** 0-based element access. Lenient → NULL out of range (`get`);
    * strict → raise, matching `failOnRangeError`
    * (/root/reference/quacfka.go:114-119). NULL arrays stay NULL. */
  private def elementAt(
      arr: Column, idx: Int, strict: Boolean, path: String): Column =
    if (!strict) get(arr, lit(idx))
    else when(arr.isNotNull && size(arr) <= lit(idx),
        raise_error(lit(s"normalizer range error: index $idx out of " +
          s"range in path '$path'")))
      .otherwise(get(arr, lit(idx)))
}
