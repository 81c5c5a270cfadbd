package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Lattice-marginal expected piece counts of ONE word under a unigram
  * piece model — the forward-backward E-step of Kudo 2018 §3.2 (the
  * full SentencePiece EM, vs [[ViterbiSegmentExpr]]'s best-path
  * approximation): over ALL segmentations of the word, the expected
  * number of times each piece is used, weighted by segmentation
  * probability.
  *
  * Per word of length n: forward α(i) = logΣexp over vocab edges
  * (j → i, piece w[j,i)) of α(j) + lp(piece); backward β symmetric;
  * Z = α(n); the expected count of edge (j, i) is
  * exp(α(j) + lp + β(i) − Z), accumulated per piece. A position no
  * vocab piece reaches gets a single-character UNKNOWN edge at
  * [[graft.llm.Unigram.UnkLp]] — the edge set is defined by the
  * incoming side (position i has the unk edge (i−1, i) iff no vocab
  * edge ends at i), so forward and backward walk the SAME lattice;
  * unk edges carry probability mass but emit no piece counts.
  * Training seeds every character, so the unk path never fires there.
  *
  * DETERMINISM CONTRACT (why counts are quantized longs): expected
  * counts are doubles, and a distributed double sum is
  * partition-order-dependent — it could never be pinned bitwise
  * against a single-threaded reference. So the per-word counts are
  * quantized HERE, at the leaf, to micro-units
  * (`cq = rint(c × 1e6)`, [[LatticeMarginalsExpr.QuantScale]]) where
  * the accumulation order is fixed by the (i asc, j asc) edge scan —
  * the downstream M-step then sums LONGS (freq × cq), which is
  * order-independent, making the whole EM fixpoint reproducible
  * across partitionings and exactly matched by the reference. Scale
  * bound: freq × cq per (word, piece) stays far inside long range
  * for any realistic dictionary (cq ≤ len × 1e6; a 1e12-frequency
  * word × 50-char piece count ≈ 5e19 would overflow — at that scale
  * lower QuantScale; documented, not guarded).
  *
  * Output: array<struct<piece: string, cq: long>> sorted piece-asc,
  * zero-quantized entries dropped. Native for the ViterbiSegmentExpr
  * reason — the DP is n × maxPieceLen hash probes plus exp/log per
  * edge; codegen'd through [[NativeExpression]]. */
case class LatticeMarginalsExpr(child: Expression,
    pieces: Seq[String], logProbs: Seq[Double])
    extends UnaryExpression with NativeExpression {
  require(pieces.length == logProbs.length,
    s"${pieces.length} pieces vs ${logProbs.length} logProbs")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("cq", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val lpMap: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      m.put(pieces(i), logProbs(i)); i += 1
    }
    m
  }
  @transient private lazy val maxLen: Int =
    if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max

  def compute(w: UTF8String): ArrayData = {
    val counts = LatticeMarginalsExpr.marginals(
      w.toString, lpMap, maxLen)
    val arr = new Array[AnyRef](counts.size)
    var k = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      arr(k) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.getKey),
        e.getValue.longValue())): InternalRow
      k += 1
    }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression)
      : LatticeMarginalsExpr = copy(child = c)
  override def prettyName: String = "lattice_marginals"
}

object LatticeMarginalsExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Quantization scale for expected counts: per-word doubles become
    * `rint(c × QuantScale)` longs so every downstream sum is exact
    * long arithmetic (see the determinism contract above). */
  val QuantScale: Double = 1e6

  /** The per-word forward-backward, shared VERBATIM by the expression
    * and [[graft.llm.Unigram.referenceUnigramEm]]'s per-word step —
    * the reference independently re-derives the EM AGGREGATION
    * (driver hash-map sums vs the distributed groupBy), while the
    * per-word lattice math is deliberately one code path: two
    * float-op orderings could differ in final ulps, and the suite's
    * bitwise pin is over the aggregate, which quantization makes
    * exact only if leaf values agree exactly. Returns quantized
    * counts sorted piece-asc, zeros dropped. */
  private[graft] def marginals(s: String,
      lpMap: java.util.HashMap[String, java.lang.Double],
      maxLen: Int): java.util.TreeMap[String, java.lang.Long] = {
    val out = new java.util.TreeMap[String, java.lang.Long]()
    val n = s.length
    if (n == 0) return out
    val unkLp = graft.llm.Unigram.UnkLp
    val NegInf = Double.NegativeInfinity
    def lse(a: Double, b: Double): Double =
      if (a == NegInf) b
      else if (b == NegInf) a
      else if (a >= b) a + math.log1p(math.exp(b - a))
      else b + math.log1p(math.exp(a - b))

    val alpha = new Array[Double](n + 1)
    val unkEdge = new Array[Boolean](n + 1)
    var i = 1
    while (i <= n) {
      var acc = NegInf
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val lp = lpMap.get(s.substring(j, i))
        if (lp != null) acc = lse(acc, alpha(j) + lp.doubleValue())
        j += 1
      }
      if (acc == NegInf) { // no vocab edge ends here: unk edge (i-1, i)
        unkEdge(i) = true
        acc = alpha(i - 1) + unkLp
      }
      alpha(i) = acc
      i += 1
    }
    val z = alpha(n)

    val beta = new Array[Double](n + 1)
    i = n - 1
    while (i >= 0) {
      var acc = NegInf
      var l = 1
      val lMax = math.min(maxLen, n - i)
      while (l <= lMax) {
        val lp = lpMap.get(s.substring(i, i + l))
        if (lp != null) acc = lse(acc, lp.doubleValue() + beta(i + l))
        l += 1
      }
      if (unkEdge(i + 1)) acc = lse(acc, unkLp + beta(i + 1))
      beta(i) = acc
      i -= 1
    }

    // expected counts per vocab edge, accumulated in (i asc, j asc)
    // scan order — the fixed order the determinism contract pins
    val acc = new java.util.TreeMap[String, java.lang.Double]()
    i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val p = s.substring(j, i)
        val lp = lpMap.get(p)
        if (lp != null) {
          val c = math.exp(alpha(j) + lp.doubleValue() + beta(i) - z)
          val prev = acc.get(p)
          acc.put(p, if (prev == null) c else prev.doubleValue() + c)
        }
        j += 1
      }
      i += 1
    }
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val q = math.rint(e.getValue.doubleValue() * QuantScale).toLong
      if (q != 0L) out.put(e.getKey, q)
    }
    out
  }

  def lattice_marginals(word: Column, pieces: Seq[String],
      logProbs: Seq[Double]): Column =
    ColumnBridge.column(LatticeMarginalsExpr(
      ColumnBridge.expression(word), pieces, logProbs))
}
