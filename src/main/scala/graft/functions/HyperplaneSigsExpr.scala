package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** All `nTables` random-hyperplane LSH signatures of an embedding in
  * ONE native pass: output `array<long>` where element t is the
  * `nBits`-bit signature under table seed `seed + t` (bit j = sign of
  * the projection onto pseudo-random ±1 plane j).
  *
  * Bit-for-bit identical to `nTables` calls of the HOF form
  * (`Similarity.lshSignature`, kept as the cross-implementation test
  * reference): plane sign (j, d, tableSeed) derives from the exact
  * `xxhash64(lit(j), d, lit(tableSeed))` fold — `hashLong(tableSeed,
  * hashInt(d, hashInt(j, 42)))` — with pmod-2 parity, and the
  * projection accumulates x_d · sign_d left-to-right in IEEE doubles
  * like `aggregate` does, so every bucket assignment is unchanged.
  *
  * Why native: the HOF form evaluates nTables × nBits interpreted
  * `aggregate`/`zip_with` lambdas per row with boxed doubles —
  * measured as the dominant cost of `llm_ann_lsh` /
  * `llm_embed_dup_lsh` once multi-table amplification landed. Here
  * the ±1 sign table per (table, bit, dim) is computed once per
  * vector width and cached on the expression instance, so each row
  * is a primitive multiply-accumulate loop.
  */
case class HyperplaneSigsExpr(child: Expression, nBits: Int,
    nTables: Int, seed: Long, md5Signs: Boolean = false)
    extends UnaryExpression with NativeExpression {
  require(nBits >= 1 && nBits <= 63, s"nBits=$nBits out of range")
  require(nTables >= 1, s"nTables=$nTables must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** (dim, signs): signs(t * nBits + j)(d) ∈ {+1.0, -1.0}. Rebuilt if
    * a row with a different vector width shows up (embedding columns
    * are fixed-width in practice). Concurrent rebuilds are benign —
    * the table is deterministic, last write wins. */
  @transient @volatile private var signCache: (Int, Array[Array[Double]]) = _

  private def signsFor(dim: Int): Array[Array[Double]] = {
    val c = signCache
    if (c != null && c._1 == dim) return c._2
    // Cross-engine-reproducible sign source (md5Signs): parity of the
    // first 32 digest bits of md5("hp_<tableSeed>_<j>_<d>") — in SQL,
    // CAST('0x' || substring(md5(key), 1, 8) AS BIGINT) % 2. The low
    // bit of that 32-bit big-endian value is digest byte 3's low bit.
    // Built once per vector width (not per row); MessageDigest is not
    // thread-safe, so the instance is local to the rebuild.
    val md = if (md5Signs)
      java.security.MessageDigest.getInstance("MD5") else null
    val planes = new Array[Array[Double]](nTables * nBits)
    var t = 0
    while (t < nTables) {
      var j = 0
      while (j < nBits) {
        val p = new Array[Double](dim)
        val hj = XXH64.hashInt(j, 42L) // xxhash64's default seed
        var d = 0
        while (d < dim) {
          if (md5Signs) {
            val dig = md.digest(s"hp_${seed + t}_${j}_$d"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            p(d) = if ((dig(3) & 1) == 0) 1.0 else -1.0
          } else {
            val h = XXH64.hashLong(seed + t, XXH64.hashInt(d, hj))
            p(d) = if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0 // pmod parity
          }
          d += 1
        }
        planes(t * nBits + j) = p
        j += 1
      }
      t += 1
    }
    signCache = (dim, planes)
    planes
  }

  def compute(vec: ArrayData): ArrayData = {
    val dim = vec.numElements()
    // Null-element parity with the HOF reference: one null element
    // nulls every zip_with product, so every projection is null and
    // when(null > 0, ...) leaves every bit unset — all-zero
    // signatures in every table. toDoubleArray() would silently read
    // null as 0.0 and diverge (caught in review; embeddings never
    // carry null elements, but the bit-for-bit contract must hold).
    var ni = 0
    while (ni < dim) {
      if (vec.isNullAt(ni))
        return new GenericArrayData(new Array[Long](nTables))
      ni += 1
    }
    val planes = signsFor(dim)
    val xs = vec.toDoubleArray()
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var j = 0
      while (j < nBits) {
        val p = planes(t * nBits + j)
        var acc = 0.0
        var d = 0
        while (d < dim) { acc += xs(d) * p(d); d += 1 }
        // Spark SQL comparison semantics: NaN is LARGER than any value
        // (so a NaN projection sets the bit — Java's NaN > 0 is false;
        // caught by the property test on NaN/Inf vectors)
        if (acc > 0 || java.lang.Double.isNaN(acc)) sig |= (1L << j)
        j += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression)
      : HyperplaneSigsExpr = copy(child = c)
  override def prettyName: String = "hyperplane_sigs"
}

object HyperplaneSigsExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def hyperplane_sigs(vec: Column, nBits: Int, nTables: Int,
      seed: Long = 42L, md5Signs: Boolean = false): Column =
    ColumnBridge.column(
      HyperplaneSigsExpr(ColumnBridge.expression(vec), nBits, nTables,
        seed, md5Signs))
}
