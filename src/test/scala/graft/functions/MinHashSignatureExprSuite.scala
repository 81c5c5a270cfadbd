package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Dedup

class MinHashSignatureExprSuite extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, Seq(17L, 99L, 12345L, 7L)),
    (2L, Seq(17L, 99L)),
    (3L, Seq.empty[Long])
  ).toDF("id", "h32")

  test("native expression matches the functions._ reference implementation") {
    val native = docs.select(col("id"),
      MinHashSignatureExpr.minhash_signature(col("h32"), 32, 42L).as("sig"))
    val hof = docs.select(col("id"),
      Dedup.minhashSignature(col("h32"), 32, 42L).as("sig"))
    val n = native.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val h = hof.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(n.keySet == h.keySet)
    def nums(v: Any): List[Long] = v.asInstanceOf[scala.collection.Seq[_]]
      .iterator.map(_.asInstanceOf[Number].longValue).toList
    n.keySet.foreach { id =>
      (n(id), h(id)) match {
        case (Some(a), Some(b)) =>
          assert(nums(a) == nums(b), s"id $id")
        case (None, None) => () // empty set → NULL in both
        case other => fail(s"id $id mismatch: $other")
      }
    }
  }

  test("doGenCode compiles and matches eval (no silent fallback)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val expr = MinHashSignatureExpr(
      BoundReference(0, ArrayType(LongType, containsNull = false),
        nullable = true), 16, 7L)
    // generate() THROWS if the generated source doesn't compile —
    // unlike query execution, which would silently fall back
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val row = proj(InternalRow(new GenericArrayData(Array(17L, -99L, 5L))))
    val viaEval = expr.eval(
      InternalRow(new GenericArrayData(Array(17L, -99L, 5L))))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(row.getArray(0).toLongArray.toSeq == viaEval.toLongArray.toSeq)
    assert(proj(InternalRow(new GenericArrayData(Array.empty[Long])))
      .isNullAt(0)) // empty → NULL survives codegen
    assert(proj(InternalRow(null)).isNullAt(0)) // null child
    // a non-nullable child: the empty → NULL result still survives
    val strict = GenerateUnsafeProjection.generate(Seq(MinHashSignatureExpr(
      BoundReference(0, ArrayType(LongType), nullable = false), 4, 7L)))
    assert(strict(InternalRow(new GenericArrayData(Array.empty[Long])))
      .isNullAt(0))
    assert(!strict(InternalRow(new GenericArrayData(Array(3L)))).isNullAt(0))
  }

  test("SQL registration works") {
    MinHashSignatureExpr.register(spark)
    docs.createOrReplaceTempView("mh_docs")
    val out = spark.sql(
      "SELECT id, minhash_signature(h32, 8, 42L) AS sig FROM mh_docs")
      .collect()
    assert(out.length == 3)
    assert(out.count(_.isNullAt(1)) == 1) // the empty array row
  }
}
