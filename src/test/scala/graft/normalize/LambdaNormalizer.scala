package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExprUtils

/** The reference the native normalizer kernel is checked against: the
  * normalizer as it was built from higher-order functions, one nested
  * `transform`/`flatten` per fan-out point over the root columns pinned
  * with [[ExprUtils.bindOnce]], element access through `get` and, in
  * strict mode, `raise_error`. Spark interprets such lambdas per
  * element, which is why the library no longer uses it. */
object LambdaNormalizer {
  import Normalizer.{canonical, elementType, explodePrefixes, structField}

  def normalize(df: DataFrame, spec: NormalizerSpec): DataFrame =
    df.select(inline_outer(rows(df.schema, spec)))

  def rows(schema: StructType, spec: NormalizerSpec): Column = {
    val parsed = spec.fields.map(PathParser.parse)
    val ordered = parsed.flatMap(explodePrefixes(schema, _))
      .distinctBy(canonical).sortBy(_.length)
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
          val nullElem = lit(null).cast(elementType(schema, segs))
          val outer = when(arr.isNull || size(arr) === 0, array(nullElem))
            .otherwise(arr)
          flatten(transform(outer,
            x => level(k + 1, bound + (canonical(segs) -> x))))
        }
      level(0, Map.empty)
    }
  }

  /** Top-level fields read from the bound root struct `r`, or from the
    * current element of the longest fan-out point already entered. */
  private def resolve(rootSchema: StructType, segs: Seq[PathSeg], r: Column,
      bound: Map[String, Column], strict: Boolean): Column = {
    val start = (segs.length to 1 by -1).find { k =>
      bound.contains(canonical(segs.take(k)))
    }.getOrElse(0)
    var c: Column = r
    var dt: DataType = rootSchema
    if (start > 0) {
      c = bound(canonical(segs.take(start)))
      dt = elementType(rootSchema, segs.take(start))
    }
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

  private def elementAt(
      arr: Column, idx: Int, strict: Boolean, path: String): Column =
    if (!strict) get(arr, lit(idx))
    else when(arr.isNotNull && size(arr) <= lit(idx),
        raise_error(lit(s"normalizer range error: index $idx out of " +
          s"range in path '$path'")))
      .otherwise(get(arr, lit(idx)))
}
