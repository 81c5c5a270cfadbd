package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Subword-regularization SAMPLING of one word's segmentation (Kudo
  * 2018 §3.1 — the paper's headline: train/augment with segmentations
  * drawn `P(seg)^α / Σ P^α` instead of the one best path). Standard
  * forward-filtering backward-sampling over the same lattice as
  * [[LatticeMarginalsExpr]]: forward scores use α-scaled piece
  * log-probs; the backward walk picks each previous split point j
  * with probability `exp(α·lp(piece) + fwd(j) − fwd(i))` (candidates
  * scanned j-ascending, first cumulative ≥ u wins). α → ∞ recovers
  * Viterbi; α = 0 samples segmentations uniformly. Unknown positions
  * take the single-char unk edge exactly as in the marginals lattice.
  *
  * DETERMINISM: there is no Math.random anywhere — the uniform stream
  * is a splitmix64 sequence seeded by `seed ⊕ FNV-1a64(word)`, a pure
  * function of (word, seed), consumed strictly in backward-walk
  * order. Same row ⇒ same segmentation on any partitioning, executor
  * count, or retry (a task retry re-draws the SAME sample — the
  * repo's determinism discipline; contrast rand(), which is
  * per-partition-seeded). Distinct seeds give independent draws, so
  * an epoch-keyed seed column is the on-the-fly augmentation path.
  *
  * Native for the ViterbiSegmentExpr reason; codegen'd through
  * [[NativeExpression]]. */
case class LatticeSampleExpr(child: Expression, pieces: Seq[String],
    logProbs: Seq[Double], alpha: Double, seed: Long)
    extends UnaryExpression with NativeExpression {
  require(pieces.length == logProbs.length,
    s"${pieces.length} pieces vs ${logProbs.length} logProbs")
  require(alpha >= 0, s"alpha=$alpha must be >= 0")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val lpMap: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      m.put(pieces(i), alpha * logProbs(i)); i += 1 // α-scaled upfront
    }
    m
  }
  @transient private lazy val maxLen: Int =
    if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max

  def compute(w: UTF8String): ArrayData = {
    val out = LatticeSampleExpr.sample(
      w.toString, lpMap, maxLen, alpha, seed)
    val arr = new Array[AnyRef](out.size)
    var k = 0
    while (k < out.size) {
      arr(k) = UTF8String.fromString(out.get(k)); k += 1
    }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression)
      : LatticeSampleExpr = copy(child = c)
  override def prettyName: String = "lattice_sample"
}

object LatticeSampleExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** FNV-1a 64-bit over the word's UTF-16 code units — the per-word
    * half of the sampling seed. */
  private def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** The per-word sampler, shared verbatim with the single-threaded
    * reference in UnigramSuite (the [[LatticeMarginalsExpr.marginals]]
    * argument: the bitwise pin is only exact when leaf float/RNG
    * streams agree exactly). `lpMap` values must be PRE-SCALED by α;
    * `alpha` itself only scales the unk edge here. */
  private[graft] def sample(s: String,
      lpMap: java.util.HashMap[String, java.lang.Double], maxLen: Int,
      alpha: Double, seed: Long): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    val n = s.length
    if (n == 0) return out
    val unkLp = alpha * graft.llm.Unigram.UnkLp
    val NegInf = Double.NegativeInfinity
    def lse(a: Double, b: Double): Double =
      if (a == NegInf) b
      else if (b == NegInf) a
      else if (a >= b) a + math.log1p(math.exp(b - a))
      else b + math.log1p(math.exp(a - b))

    val fwd = new Array[Double](n + 1)
    val unkEdge = new Array[Boolean](n + 1)
    var i = 1
    while (i <= n) {
      var acc = NegInf
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val lp = lpMap.get(s.substring(j, i))
        if (lp != null) acc = lse(acc, fwd(j) + lp.doubleValue())
        j += 1
      }
      if (acc == NegInf) {
        unkEdge(i) = true
        acc = fwd(i - 1) + unkLp
      }
      fwd(i) = acc
      i += 1
    }

    // splitmix64 stream over seed ⊕ fnv1a(word), consumed in backward
    // order — the whole draw is a pure function of (word, seed)
    var rngState = seed ^ fnv1a64(s)
    def nextUniform(): Double = {
      rngState += 0x9E3779B97F4A7C15L
      var z = rngState
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      (z >>> 11).toDouble / 9007199254740992.0d // 2^53
    }

    val rev = new java.util.ArrayList[String]()
    var pos = n
    while (pos > 0) {
      if (unkEdge(pos)) { // single forced edge — no draw consumed
        rev.add(s.substring(pos - 1, pos))
        pos -= 1
      } else {
        val u = nextUniform()
        var cum = 0.0
        var chosen = -1
        var j = math.max(0, pos - maxLen)
        while (j < pos && chosen < 0) {
          val lp = lpMap.get(s.substring(j, pos))
          if (lp != null) {
            cum += math.exp(fwd(j) + lp.doubleValue() - fwd(pos))
            if (cum >= u) chosen = j
          }
          j += 1
        }
        // float-sum slack: cum may end at 1−ε below u — take the last
        // candidate (largest j), the same row the exact sum would give
        if (chosen < 0) {
          var jj = pos - 1
          while (lpMap.get(s.substring(jj, pos)) == null) jj -= 1
          chosen = jj
        }
        rev.add(s.substring(chosen, pos))
        pos = chosen
      }
    }
    var k = rev.size - 1
    while (k >= 0) { out.add(rev.get(k)); k -= 1 }
    out
  }

  def lattice_sample(word: Column, pieces: Seq[String],
      logProbs: Seq[Double], alpha: Double, seed: Long): Column =
    ColumnBridge.column(LatticeSampleExpr(
      ColumnBridge.expression(word), pieces, logProbs, alpha, seed))
}
