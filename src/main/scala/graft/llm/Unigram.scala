package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed unigram-LM tokenizer training (Kudo 2018, "Subword
  * Regularization: Improving Neural Network Translation Models with
  * Multiple Subword Candidates" — the SentencePiece unigram
  * algorithm), the other half of the tokenizer-prep story next to
  * [[Bpe]]: instead of greedy merges, learn PIECE PROBABILITIES and
  * segment by maximum likelihood.
  *
  * Simplified-but-honest spec (every choice deterministic and matched
  * EXACTLY by the single-threaded reference in UnigramSuite):
  *  1. SEED: all substrings (length ≤ maxPieceLen) of the dictionary
  *     words, weighted by word frequency × occurrences; the top
  *     `seedSize` multi-char pieces by (count desc, piece asc) plus
  *     ALL single characters (coverage); initial log-prob
  *     ln(cnt / Σ seed cnts).
  *  2. EM × nIter: E-step = Viterbi-best segmentation of every
  *     dictionary word under the current model (native
  *     [[graft.functions.ViterbiSegmentExpr]] — the model rides as
  *     literals, the pass is map-only); M-step = piece counts
  *     (partial-aggregated sum of word freqs) collected driver-side
  *     (≤ seed size rows), log-probs renormalized ln(cnt / total).
  *     A piece never used by any best segmentation is dropped —
  *     except single characters, floored at ln(0.5 / total) (Kudo
  *     keeps characters for coverage).
  *  3. PRUNE to the top `vocabSize` pieces by (count desc, piece asc)
  *     ∪ all single characters, then one final E+count pass under the
  *     pruned model produces the shipped table.
  *  (The full paper also EM-estimates with lattice marginals and
  *  prunes by likelihood LOSS; the Viterbi-count + frequency-prune
  *  simplification keeps every step exactly reproducible — the BPE
  *  rows-only contract.)
  *
  * Scale shape — the [[Bpe]] argument verbatim: corpus-sized work is
  * the ONE tokenize + groupBy into the word dictionary; every EM
  * round after that is one job over the dictionary (lazy
  * localCheckpoint, the CC-loop lesson) with a bounded (≤ seed size)
  * driver collect. nIter is FIXED (3-4 in practice), not
  * vocab-proportional — unlike sequential BPE there is no
  * rounds-scale-with-vocab problem to batch away. */
object Unigram {

  /** Log-prob charged per character consumed by the unknown-character
    * fallback ([[graft.functions.ViterbiSegmentExpr]]). Training
    * never hits it (every dictionary character is in the seed). */
  val UnkLp: Double = -1e4

  /** EM rounds actually run by the last [[trainModelEm]] call on this
    * thread's driver — test instrumentation for the convergence stop
    * (UnigramSuite pins fewer-than-cap rounds on a fast-converging
    * corpus). Not part of the API contract. */
  @volatile private[graft] var lastEmRounds: Int = 0

  private val modelMemo =
    new graft.plans.PlanMemo[Seq[(String, Long, Double)]](16)

  /** The trained model the ENCODE/SAMPLE paths bake into their native
    * expressions, training it if this (corpus, params) combination has
    * not been trained in this JVM yet — memoized, so encode-after-train
    * in one session pays the Viterbi-EM rounds once (the
    * WordPiece.trainVocab precedent; [[trainModel]]/[[trainUnigram]]
    * stay unmemoized: the trainer API always trains). A
    * [[graft.plans.PlanMemo]]: rewriting the corpus files in place
    * within one JVM serves the STALE model. */
  def modelFor(df: DataFrame, vocabSize: Int = 60, seedSize: Int = 500,
      maxPieceLen: Int = 6, nIter: Int = 3,
      textCol: String = "text"): Seq[(String, Long, Double)] =
    modelMemo(df, textCol, vocabSize, seedSize, maxPieceLen, nIter)(
      trainModel(df, vocabSize, seedSize, maxPieceLen, nIter, textCol))

  /** The trained model driver-side: (piece, count, logprob), ordered
    * (count desc, piece asc) — the form the encode path consumes. */
  def trainModel(df: DataFrame, vocabSize: Int = 60, seedSize: Int = 500,
      maxPieceLen: Int = 6, nIter: Int = 3,
      textCol: String = "text"): Seq[(String, Long, Double)] = {
    require(vocabSize >= 1 && seedSize >= 1 && maxPieceLen >= 1 && nIter >= 0,
      s"bad params vocabSize=$vocabSize seedSize=$seedSize " +
        s"maxPieceLen=$maxPieceLen nIter=$nIter")
    val dict = df.select(
        explode_outer(TextAnalysis.tokens(col(textCol))).as("w"))
      .where(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .transform(graft.functions.ExprUtils.barrier)

    // Seed substring counts: every (start, len ≤ maxPieceLen) slice of
    // every dictionary word, weighted by word freq. One pass over the
    // dictionary; `w` is an attribute so the nested lambdas are cheap.
    val subs = dict.select(col("freq"),
        explode_outer(flatten(transform(
          sequence(lit(0), length(col("w")) - 1),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i)),
            l => col("w").substr(i + 1, l))))).as("piece"))
      .where(col("piece").isNotNull)
      .groupBy("piece").agg(sum("freq").as("cnt"))
      // persisted across the two collects below — uncached, the full
      // substring explode + shuffle would run twice (review catch)
      .persist()
    val singles = subs.where(length(col("piece")) === 1)
      .orderBy("piece").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val multis = subs.where(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(seedSize).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    subs.unpersist(blocking = false)

    var vocab: Seq[(String, Long)] = (singles ++ multis).toSeq
    if (vocab.isEmpty) return Nil // token-free corpus
    var total: Long = vocab.iterator.map(_._2).sum
    def lpOf(cnt: Long): Double =
      if (cnt > 0) math.log(cnt.toDouble / total)
      else math.log(0.5 / total)

    def countPass(model: Seq[(String, Long)]): Map[String, Long] = {
      val pcs = model.map(_._1)
      val lps = model.map(m => lpOf(m._2))
      dict.select(col("freq"),
          explode_outer(graft.functions.ViterbiSegmentExpr
            .viterbi_segment(col("w"), pcs, lps)).as("piece"))
        .where(col("piece").isNotNull)
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    def refresh(counts: Map[String, Long],
        model: Seq[(String, Long)]): Seq[(String, Long)] =
      model.flatMap { case (p, _) =>
        counts.get(p) match {
          case Some(c) => Some(p -> c)
          case None if p.length == 1 => Some(p -> 0L) // coverage floor
          case None => None
        }
      }

    var it = 0
    while (it < nIter) {
      val counts = countPass(vocab)
      vocab = refresh(counts, vocab)
      total = vocab.iterator.map(_._2).sum
      it += 1
    }

    // Prune to the production vocabulary (single chars exempt from the
    // cap — coverage overrides it), renormalize, one final pass.
    val ranked = vocab.sortBy { case (p, c) => (-c, p) }
    val kept = (ranked.take(vocabSize) ++
      ranked.drop(vocabSize).filter(_._1.length == 1))
    total = kept.iterator.map(_._2).sum
    val finalCounts = countPass(kept)
    val finalVocab = refresh(finalCounts, kept)
    total = finalVocab.iterator.map(_._2).sum
    finalVocab.map { case (p, c) => (p, c, lpOf(c)) }
      .sortBy { case (p, c, _) => (-c, p) }
  }

  /** Train and ship the vocabulary table:
    * (rank, piece, count, logprob rounded 6dp). */
  def trainUnigram(df: DataFrame, vocabSize: Int = 60, seedSize: Int = 500,
      maxPieceLen: Int = 6, nIter: Int = 3,
      textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    val model = trainModel(df, vocabSize, seedSize, maxPieceLen, nIter,
      textCol)
    val rows = model.zipWithIndex.map { case ((p, c, lp), i) =>
      Row(i + 1, p, c, math.rint(lp * 1e6) / 1e6)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("piece", StringType, nullable = false),
        StructField("count", LongType, nullable = false),
        StructField("logprob", DoubleType, nullable = false))))
  }

  /** The full-EM twin of [[trainModel]] — the two Kudo 2018 steps the
    * Viterbi trainer documents away, restored (round-12 item #2):
    *
    *  - E-step over LATTICE MARGINALS, not the best path: expected
    *    piece counts across ALL segmentations via forward-backward
    *    (native [[graft.functions.LatticeMarginalsExpr]], map-only
    *    with the model as literals — the same one-job-per-round shape
    *    as the Viterbi pass). Counts are quantized to long
    *    micro-units AT THE LEAF (the expression's determinism
    *    contract), so the distributed M-step sums longs —
    *    order-independent, hence reproducible across partitionings
    *    and pinned bitwise by UnigramSuite against
    *    [[referenceUnigramEm]].
    *  - PRUNE by LIKELIHOOD LOSS, not frequency: each multi-char
    *    piece is scored by how much corpus likelihood its removal
    *    costs — loss(p) = count(p) × (lp(p) − altScore(p)), where
    *    altScore is the best re-segmentation of p's own string under
    *    the vocabulary WITHOUT p (the SentencePiece
    *    `PruneSentencePieces` approximation: every occurrence of p
    *    re-segments that way if p disappears; a driver-side Viterbi
    *    over ≤ seedSize strings). Keep the top (vocabSize −
    *    #characters) multis by (loss desc, piece asc) plus ALL single
    *    characters (coverage, never prunable — a char's removal can
    *    make words unsegmentable, loss = ∞).
    *
    * Seeding, the character floor, refresh semantics, the nIter CAP
    * and the final count-pass-under-the-pruned-model all match
    * [[trainModel]], so the two trainers differ EXACTLY in the two
    * restored steps — plus a free convergence stop: the loop ends
    * early at an EXACT count fixpoint (see the loop comment), which
    * by construction cannot change the returned model.
    * Zero-count floor: a never-used piece is charged half a count in
    * the CURRENT count unit (0.5 × unit — seed counts are raw units,
    * post-E-step counts are micro-units; the ratio to total is what
    * ln sees, so units cancel within a round).
    *
    * Returned counts are in micro-units
    * ([[graft.functions.LatticeMarginalsExpr.QuantScale]]). */
  def trainModelEm(df: DataFrame, vocabSize: Int = 60, seedSize: Int = 500,
      maxPieceLen: Int = 6, nIter: Int = 3,
      textCol: String = "text"): Seq[(String, Long, Double)] = {
    require(vocabSize >= 1 && seedSize >= 1 && maxPieceLen >= 1 && nIter >= 0,
      s"bad params vocabSize=$vocabSize seedSize=$seedSize " +
        s"maxPieceLen=$maxPieceLen nIter=$nIter")
    val dict = df.select(
        explode_outer(TextAnalysis.tokens(col(textCol))).as("w"))
      .where(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .transform(graft.functions.ExprUtils.barrier)

    val subs = dict.select(col("freq"),
        explode_outer(flatten(transform(
          sequence(lit(0), length(col("w")) - 1),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i)),
            l => col("w").substr(i + 1, l))))).as("piece"))
      .where(col("piece").isNotNull)
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .persist()
    val singles = subs.where(length(col("piece")) === 1)
      .orderBy("piece").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val multis = subs.where(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(seedSize).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    subs.unpersist(blocking = false)

    var vocab: Seq[(String, Long)] = (singles ++ multis).toSeq
    if (vocab.isEmpty) return Nil
    var unit: Double = 1.0 // seed counts are raw; E-step counts are micro
    var total: Long = vocab.iterator.map(_._2).sum
    def lpOf(cnt: Long): Double =
      if (cnt > 0) math.log(cnt.toDouble / total)
      else math.log(0.5 * unit / total)

    def marginalPass(model: Seq[(String, Long)]): Map[String, Long] = {
      val pcs = model.map(_._1)
      val lps = model.map(m => lpOf(m._2))
      dict.select(col("freq"),
          explode_outer(graft.functions.LatticeMarginalsExpr
            .lattice_marginals(col("w"), pcs, lps)).as("e"))
        .where(col("e").isNotNull)
        .select(col("e.piece").as("piece"),
          (col("freq") * col("e.cq")).as("c"))
        .groupBy("piece").agg(sum("c").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    def refresh(counts: Map[String, Long],
        model: Seq[(String, Long)]): Seq[(String, Long)] =
      model.flatMap { case (p, _) =>
        counts.get(p) match {
          case Some(c) => Some(p -> c)
          case None if p.length == 1 => Some(p -> 0L) // coverage floor
          case None => None
        }
      }

    // Convergence stop (round-13): the E-step is deterministic and its
    // expected counts are QUANTIZED LONGS already on the driver, so an
    // exact fixpoint is detectable for free — if a round reproduces
    // the previous round's vocab (same counts, same count unit), every
    // remaining round is a bit-identical no-op and the loop stops.
    // Stopping at the exact fixpoint cannot change the output (the
    // skipped rounds would have produced the same model), so the
    // bitwise reference pins hold with no tolerance knob; nIter stays
    // the cap. Corpus LL delta was considered and rejected as the
    // criterion: lnZ needs a second aggregation job per round, while
    // count stationarity is exactly LL stationarity here (same
    // parameters ⇒ same marginals) at zero cost.
    var it = 0
    var converged = false
    while (it < nIter && !converged) {
      val counts = marginalPass(vocab)
      val prev = vocab
      val prevUnit = unit
      vocab = refresh(counts, vocab)
      unit = graft.functions.LatticeMarginalsExpr.QuantScale
      total = vocab.iterator.map(_._2).sum
      converged = prevUnit == unit && vocab == prev
      it += 1
    }
    lastEmRounds = it

    // Likelihood-loss prune (driver-side: the vocabulary is ≤ seed
    // size). Singles are exempt — coverage overrides the cap.
    val lpAll = vocab.map { case (p, c) => p -> lpOf(c) }.toMap
    val maxL = vocab.iterator.map(_._1.length).max
    val keptSingles = vocab.filter(_._1.length == 1)
    val rankedMultis = vocab.filter(_._1.length >= 2)
      .map { case (p, c) =>
        val alt = viterbiScore(p, lpAll - p, maxL)
        (p, c, c.toDouble * (lpAll(p) - alt))
      }
      .sortBy { case (p, _, loss) => (-loss, p) }
    val kept = keptSingles ++ rankedMultis
      .take(math.max(0, vocabSize - keptSingles.length))
      .map { case (p, c, _) => (p, c) }
    total = kept.iterator.map(_._2).sum
    val finalCounts = marginalPass(kept)
    val finalVocab = refresh(finalCounts, kept)
    unit = graft.functions.LatticeMarginalsExpr.QuantScale
    total = finalVocab.iterator.map(_._2).sum
    finalVocab.map { case (p, c) => (p, c, lpOf(c)) }
      .sortBy { case (p, c, _) => (-c, p) }
  }

  /** Train the full-EM model and ship the vocabulary table:
    * (rank, piece, exp_count (expected count, 6dp), logprob (6dp)) —
    * exp_count is fractional by nature (lattice marginals), unlike the
    * Viterbi table's integer count. */
  def trainUnigramEm(df: DataFrame, vocabSize: Int = 60, seedSize: Int = 500,
      maxPieceLen: Int = 6, nIter: Int = 3,
      textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    val model = trainModelEm(df, vocabSize, seedSize, maxPieceLen, nIter,
      textCol)
    val q = graft.functions.LatticeMarginalsExpr.QuantScale
    val rows = model.zipWithIndex.map { case ((p, c, lp), i) =>
      Row(i + 1, p, math.rint(c / q * 1e6) / 1e6, math.rint(lp * 1e6) / 1e6)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("piece", StringType, nullable = false),
        StructField("exp_count", DoubleType, nullable = false),
        StructField("logprob", DoubleType, nullable = false))))
  }

  /** Best-segmentation SCORE of one string under a piece→logprob map —
    * the prune step's alternative-cost Viterbi (driver-side; score
    * only, no backpointers; unreachable positions take the unk edge,
    * though with every character in-vocab that path never fires). */
  private[llm] def viterbiScore(w: String, lp: Map[String, Double],
      maxLen: Int): Double = {
    val n = w.length
    val score = new Array[Double](n + 1)
    var i = 1
    while (i <= n) {
      var best = Double.NegativeInfinity
      var j = math.max(0, i - maxLen)
      while (j < i) {
        lp.get(w.substring(j, i)) match {
          case Some(x) =>
            val sc = score(j) + x
            if (sc > best) best = sc
          case None =>
        }
        j += 1
      }
      if (best == Double.NegativeInfinity) best = score(i - 1) + UnkLp
      score(i) = best
      i += 1
    }
    score(n)
  }

  /** Marginal log-likelihood ln Z of one string (forward pass over the
    * same lattice as [[graft.functions.LatticeMarginalsExpr]]) — the
    * UnigramSuite dominance check's scoring helper. */
  private[graft] def logZ(w: String, lp: Map[String, Double],
      maxLen: Int): Double = {
    val n = w.length
    if (n == 0) return 0.0
    val NegInf = Double.NegativeInfinity
    def lse(a: Double, b: Double): Double =
      if (a == NegInf) b
      else if (b == NegInf) a
      else if (a >= b) a + math.log1p(math.exp(b - a))
      else b + math.log1p(math.exp(a - b))
    val alpha = new Array[Double](n + 1)
    var i = 1
    while (i <= n) {
      var acc = NegInf
      var j = math.max(0, i - maxLen)
      while (j < i) {
        lp.get(w.substring(j, i)) match {
          case Some(x) => acc = lse(acc, alpha(j) + x)
          case None =>
        }
        j += 1
      }
      if (acc == NegInf) acc = alpha(i - 1) + UnkLp
      alpha(i) = acc
      i += 1
    }
    alpha(n)
  }

  /** Single-threaded reference for the EM trainer — UnigramSuite's
    * ground truth. The AGGREGATION half (dictionary build, seed
    * ranking, freq-weighted count sums, refresh, loss prune) is
    * independently re-derived with plain hash maps; the per-word
    * lattice step deliberately calls the SAME
    * [[graft.functions.LatticeMarginalsExpr.marginals]] leaf the
    * expression uses — two separately-coded float orderings could
    * differ in ulps, and the bitwise pin is over the long-quantized
    * aggregate, exact only when leaf values agree exactly. */
  private[llm] def referenceUnigramEm(tokens: Iterator[String],
      vocabSize: Int = 60, seedSize: Int = 500, maxPieceLen: Int = 6,
      nIter: Int = 3): Seq[(String, Long, Double)] = {
    val dict = scala.collection.mutable.HashMap.empty[String, Long]
    tokens.foreach(w => dict(w) = dict.getOrElse(w, 0L) + 1L)

    val seedCnt = scala.collection.mutable.HashMap.empty[String, Long]
    dict.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= math.min(maxPieceLen, w.length - i)) {
          val p = w.substring(i, i + l)
          seedCnt(p) = seedCnt.getOrElse(p, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    val singles = seedCnt.filter(_._1.length == 1).toSeq.sortBy(_._1)
    val multis = seedCnt.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(seedSize)

    var vocab: Seq[(String, Long)] = singles ++ multis
    if (vocab.isEmpty) return Nil
    var unit: Double = 1.0
    var total: Long = vocab.iterator.map(_._2).sum
    def lpOf(cnt: Long): Double =
      if (cnt > 0) math.log(cnt.toDouble / total)
      else math.log(0.5 * unit / total)

    def countPassEm(model: Seq[(String, Long)]): Map[String, Long] = {
      val lpM = new java.util.HashMap[String, java.lang.Double](
        model.length * 2)
      model.foreach { case (p, c) => lpM.put(p, lpOf(c)) }
      val maxLen = model.iterator.map(_._1.length).max
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      dict.foreach { case (w, f) =>
        val m = graft.functions.LatticeMarginalsExpr.marginals(w, lpM, maxLen)
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          counts(e.getKey) =
            counts.getOrElse(e.getKey, 0L) + f * e.getValue.longValue()
        }
      }
      counts.toMap
    }
    def refresh(counts: Map[String, Long],
        model: Seq[(String, Long)]): Seq[(String, Long)] =
      model.flatMap { case (p, _) =>
        counts.get(p) match {
          case Some(c) => Some(p -> c)
          case None if p.length == 1 => Some(p -> 0L)
          case None => None
        }
      }

    var it = 0
    while (it < nIter) {
      val counts = countPassEm(vocab)
      vocab = refresh(counts, vocab)
      unit = graft.functions.LatticeMarginalsExpr.QuantScale
      total = vocab.iterator.map(_._2).sum
      it += 1
    }

    val lpAll = vocab.map { case (p, c) => p -> lpOf(c) }.toMap
    val maxL = vocab.iterator.map(_._1.length).max
    val keptSingles = vocab.filter(_._1.length == 1)
    val rankedMultis = vocab.filter(_._1.length >= 2)
      .map { case (p, c) =>
        val alt = viterbiScore(p, lpAll - p, maxL)
        (p, c, c.toDouble * (lpAll(p) - alt))
      }
      .sortBy { case (p, _, loss) => (-loss, p) }
    val kept = keptSingles ++ rankedMultis
      .take(math.max(0, vocabSize - keptSingles.length))
      .map { case (p, c, _) => (p, c) }
    total = kept.iterator.map(_._2).sum
    val finalCounts = countPassEm(kept)
    val finalVocab = refresh(finalCounts, kept)
    unit = graft.functions.LatticeMarginalsExpr.QuantScale
    total = finalVocab.iterator.map(_._2).sum
    finalVocab.map { case (p, c) => (p, c, lpOf(c)) }
      .sortBy { case (p, c, _) => (-c, p) }
  }

  /** Single-threaded reference — the UnigramSuite ground truth, same
    * spec in the textbook form with its own Viterbi (same tie-breaks:
    * max score, then fewer pieces, then smallest split point). */
  private[llm] def referenceUnigram(tokens: Iterator[String],
      vocabSize: Int = 60, seedSize: Int = 500, maxPieceLen: Int = 6,
      nIter: Int = 3): Seq[(String, Long, Double)] = {
    val dict = scala.collection.mutable.HashMap.empty[String, Long]
    tokens.foreach(w => dict(w) = dict.getOrElse(w, 0L) + 1L)

    val seedCnt = scala.collection.mutable.HashMap.empty[String, Long]
    dict.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= math.min(maxPieceLen, w.length - i)) {
          val p = w.substring(i, i + l)
          seedCnt(p) = seedCnt.getOrElse(p, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    val singles = seedCnt.filter(_._1.length == 1).toSeq.sortBy(_._1)
    val multis = seedCnt.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(seedSize)

    var vocab: Seq[(String, Long)] = singles ++ multis
    if (vocab.isEmpty) return Nil
    var total: Long = vocab.iterator.map(_._2).sum
    def lpOf(cnt: Long): Double =
      if (cnt > 0) math.log(cnt.toDouble / total)
      else math.log(0.5 / total)

    def viterbi(w: String, lp: Map[String, Double],
        maxLen: Int): Seq[String] = {
      val n = w.length
      val score = new Array[Double](n + 1)
      val np = new Array[Int](n + 1)
      val back = new Array[Int](n + 1)
      var i = 1
      while (i <= n) {
        var best = Double.NegativeInfinity
        var bestNp = Int.MaxValue
        var bestJ = -1
        var j = math.max(0, i - maxLen)
        while (j < i) {
          lp.get(w.substring(j, i)) match {
            case Some(x) =>
              val sc = score(j) + x
              if (sc > best || (sc == best && np(j) + 1 < bestNp)) {
                best = sc; bestNp = np(j) + 1; bestJ = j
              }
            case None =>
          }
          j += 1
        }
        if (bestJ < 0) {
          best = score(i - 1) + UnkLp; bestNp = np(i - 1) + 1; bestJ = i - 1
        }
        score(i) = best; np(i) = bestNp; back(i) = bestJ
        i += 1
      }
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var p = n
      while (p > 0) { out.prepend(w.substring(back(p), p)); p = back(p) }
      out.toSeq
    }

    def countPass(model: Seq[(String, Long)]): Map[String, Long] = {
      val lp = model.map { case (p, c) => p -> lpOf(c) }.toMap
      val maxLen = model.iterator.map(_._1.length).max
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      dict.foreach { case (w, f) =>
        viterbi(w, lp, maxLen).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + f)
      }
      counts.toMap
    }
    def refresh(counts: Map[String, Long],
        model: Seq[(String, Long)]): Seq[(String, Long)] =
      model.flatMap { case (p, _) =>
        counts.get(p) match {
          case Some(c) => Some(p -> c)
          case None if p.length == 1 => Some(p -> 0L)
          case None => None
        }
      }

    var it = 0
    while (it < nIter) {
      val counts = countPass(vocab)
      vocab = refresh(counts, vocab)
      total = vocab.iterator.map(_._2).sum
      it += 1
    }
    val ranked = vocab.sortBy { case (p, c) => (-c, p) }
    val kept = (ranked.take(vocabSize) ++
      ranked.drop(vocabSize).filter(_._1.length == 1))
    total = kept.iterator.map(_._2).sum
    val finalCounts = countPass(kept)
    val finalVocab = refresh(finalCounts, kept)
    total = finalVocab.iterator.map(_._2).sum
    finalVocab.map { case (p, c) => (p, c, lpOf(c)) }
      .sortBy { case (p, c, _) => (-c, p) }
  }
}
