package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression computing a k-wide MinHash signature from
  * an `array<long>` of raw 64-bit shingle hashes (any sign; folded to
  * [0, 2^31-1) internally) in ONE imperative pass — the
  * custom-Expression path (preference (b) in the build rules) for the
  * operator that profiling showed dominated `llm_minhash_lsh`: the
  * equivalent `aggregate`/`zip_with` higher-order-function tree is
  * interpreted per element with boxed allocations; this loop is a
  * primitive `while` over the unsafe array data.
  *
  * Semantics are IDENTICAL to `Dedup.minhashSignature` (same seeded
  * affine parameters (a*h+b) mod P, P = 2^31-1; empty array → NULL),
  * so LSH outputs are unchanged — verified by LlmSuite recall tests.
  */
case class MinHashSignatureExpr(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with NativeExpression {

  private val P = MinHashSignatureExpr.P

  private lazy val (as, bs): (Array[Long], Array[Long]) =
    MinHashSignatureExpr.params(k, seed)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** The one-pass signature loop; called from both interpreted eval
    * and generated code. Empty array → null. */
  def compute(input: ArrayData): ArrayData = {
    val n = input.numElements()
    if (n == 0) return null
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, P)
    var i = 0
    while (i < n) {
      // fold raw 64-bit hash to [0, P) — pmod semantics
      var h = input.getLong(i) % P
      if (h < 0) h += P
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression)
      : MinHashSignatureExpr = copy(child = c)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignatureExpr {
  final val P = 2147483647L // 2^31-1

  /** Seeded affine parameters (a, b) — the SINGLE derivation shared by
    * this native expression, the HOF reference form
    * (`Dedup.minhashSignature`), and the DuckDB oracle's inlined
    * literals (`LlmQueries.minhashMd5Sql`). Any change lands
    * everywhere at once or the oracle desynchronizes silently. */
  def params(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val r = new java.util.Random(seed)
    val a = new Array[Long](k); val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = math.abs(r.nextLong()) % (P - 1) + 1
      b(i) = math.abs(r.nextLong()) % P
      i += 1
    }
    (a, b)
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point. */
  def minhash_signature(hashes: Column, k: Int = 32,
      seed: Long = 42L): Column =
    ColumnBridge.column(
      MinHashSignatureExpr(ColumnBridge.expression(hashes), k, seed))

  /** Register for SQL use: `minhash_signature(arr, k, seed)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature",
      exprs => MinHashSignatureExpr(exprs.head,
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval() match {
          case l: Long => l
          case i: Int => i.toLong
        }),
      "scala_udf")
}
