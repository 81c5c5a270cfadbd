package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Dedup

class SimHash64ExprSuite extends SparkSpec {
  import spark.implicits._

  test("native simhash matches the functions._ reference implementation") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "spark structured streaming with catalyst",
      "x")
      .zipWithIndex.map(_.swap).toDF("id", "text")
    val hs = Dedup.tokenHashes64(Dedup.tokenMd5s(col("text")))
    val out = docs.select(col("id"),
      SimHash64Expr.simhash64(hs).as("native"),
      graft.functions.ExprUtils.bindOnce(hs)(h =>
        Dedup.simhashFromHashes(h)).as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"id ${r.getInt(0)}")
    }
  }

  test("token_md5_hash64 is bit-identical to the hex/conv SQL chain") {
    val docs = Seq(
      "the quick brown fox", "résumé naïve façade", "", "a b c d e f g")
      .zipWithIndex.map(_.swap).toDF("id", "text")
    val toks = graft.llm.TextAnalysis.tokens(col("text"))
    val out = docs.select(
      TokenMd5Hash64Expr.token_md5_hash64(toks).as("native"),
      Dedup.tokenHashes64(Dedup.tokenMd5s(col("text"))).as("chain"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // generated code ≡ interpreted eval, a NULL input included
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val expr = TokenMd5Hash64Expr(
      BoundReference(0, ArrayType(StringType), nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on bad code
    val in = InternalRow(new GenericArrayData(
      Array[Any](UTF8String.fromString("résumé"), UTF8String.fromString(""))))
    assert(proj(in).getArray(0).toLongArray.toSeq ==
      expr.eval(in).asInstanceOf[ArrayData].toLongArray.toSeq)
    assert(proj(InternalRow(null)).isNullAt(0))
    assert(expr.eval(InternalRow(null)) == null)
  }

  test("doGenCode compiles and matches eval (no silent fallback)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val expr = SimHash64Expr(
      BoundReference(0, ArrayType(LongType, containsNull = false),
        nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on bad code
    val in = new GenericArrayData(Array(0xDEADBEEFL, -42L, 7L))
    assert(proj(InternalRow(in)).getLong(0) ==
      expr.eval(InternalRow(in)).asInstanceOf[Long])
    assert(proj(InternalRow(new GenericArrayData(Array.empty[Long])))
      .getLong(0) == 0L) // empty → 0 votes
    assert(proj(InternalRow(null)).isNullAt(0))
  }
}
