package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed WordPiece vocabulary training (Schuster & Nakajima
  * 2012; the BERT tokenizer) — completing the trainer family next to
  * [[Bpe]] (frequency-greedy) and [[Unigram]] (prune-down LM):
  * WordPiece is merge-greedy like BPE but picks the pair maximizing
  * the LIKELIHOOD gain of a unigram LM over the symbol stream,
  *
  *   score(l, r) = count(lr) / (count(l) · count(r))
  *
  * — the pair whose merge most increases Σ c·ln p under the unigram
  * approximation (frequent-but-predictable pairs like ("francisc",
  * "##o") outrank merely-frequent ones). Symbols use the BERT layout:
  * word-initial pieces bare, continuations prefixed `##`, and merging
  * strips the right side's `##` (`"h" + "##e" → "he"`,
  * `"##l" + "##o" → "##lo"`).
  *
  * Same two-phase scale shape as [[Bpe.trainBpe]] (the corpus-sized
  * work is ONE tokenize + groupBy into the word-frequency dictionary;
  * every round after touches only the dictionary), with one extra
  * dictionary-sized aggregate per round: the symbol unigram counts
  * that the score's denominator needs. Both per-round tables join on
  * symbol keys (dictionary-scale, partial-aggregated), the argmax is
  * a one-row deterministic collect (score desc, then (l, r) asc; the
  * score is a double ratio of exact longs — identical on any
  * partitioning), and the merged frame takes a lazy localCheckpoint
  * materialized by the next round's collect: one job per round, the
  * CC-loop lesson. The merge fold binds (l, r, merged) as broadcast
  * COLUMNS so every round compiles the identical codegen class (the
  * trainBpe literal-codegen lesson).
  *
  * No cross-engine oracle (data-dependent per-round argmax — the BPE
  * argument); WordPieceSuite pins the merge table EXACTLY against
  * [[referenceWordPiece]], the textbook single-threaded form.
  */
object WordPiece {

  /** BERT continuation prefix. */
  val Hash = "##"

  /** Initial symbols of a word: first character bare, the rest
    * `##`-prefixed. */
  private def initialSymbols(w: Column): Column = {
    val chars = filter(split(w, ""), s => length(s) > 0)
    when(size(chars) >= 2,
      concat(slice(chars, 1, 1),
        transform(slice(chars, lit(2), size(chars) - 1),
          c => concat(lit(Hash), c))))
      .otherwise(chars)
  }

  /** Greedy leftmost-first single-pair merge — [[Bpe.mergeOne]] with
    * the replacement symbol passed IN (WordPiece's merged symbol is
    * not the plain concatenation: the right `##` strips). */
  private def mergeOne(sym: Column, l: Column, r: Column,
      merged: Column): Column =
    aggregate(sym, array().cast("array<string>"), (out, s) =>
      when(size(out) > 0 &&
          element_at(out, -1) === l && s === r,
        concat(slice(out, lit(1), size(out) - 1), array(merged)))
        .otherwise(concat(out, array(s))))

  /** The merged symbol for a pair: right side's continuation prefix
    * strips (it is interior after the merge). */
  private[llm] def mergedSymbol(l: String, r: String): String =
    l + (if (r.startsWith(Hash)) r.substring(Hash.length) else r)

  /** Train `nMerges` WordPiece merges; returns (step, left, right,
    * merged, pair_freq, score). Stops early when no candidate pair
    * reaches `minFreq` (score denominators never vanish: both unit
    * counts bound the pair count from below... from above — a pair
    * occurrence IS an occurrence of each side, so c(l), c(r) ≥ c(lr)
    * ≥ minFreq ≥ 1). */
  def trainWordPiece(df: DataFrame, nMerges: Int, minFreq: Long = 2L,
      textCol: String = "text"): DataFrame = {
    require(nMerges >= 1, s"nMerges=$nMerges must be >= 1")
    val spark = df.sparkSession
    val dict = df.select(
        explode_outer(TextAnalysis.tokens(col(textCol))).as("w"))
      .where(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), initialSymbols(col("w")).as("sym"))
    var cur = dict.transform(graft.functions.ExprUtils.barrier)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      val bound = graft.functions.ExprUtils.bindOnce(col("sym")) _
      val pairs = cur.select(col("freq"),
          explode_outer(bound { s =>
            when(size(s) >= 2,
              zip_with(slice(s, lit(1), size(s) - 1),
                slice(s, lit(2), size(s) - 1),
                (a, b) => struct(a.as("l"), b.as("r"))))
          }).as("p"))
        .where(col("p").isNotNull)
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pf"))
      // symbol unigram counts — dictionary-sized, partial-aggregated
      val units = cur.select(col("freq"),
          explode_outer(col("sym")).as("s"))
        .where(col("s").isNotNull)
        .groupBy("s").agg(sum("freq").as("c"))
      val scored = pairs
        .join(units.select(col("s").as("l"), col("c").as("cl")), "l")
        .join(units.select(col("s").as("r"), col("c").as("cr")), "r")
        .withColumn("score", col("pf").cast("double") /
          (col("cl").cast("double") * col("cr").cast("double")))
      val best = scored.where(col("pf") >= minFreq)
        .orderBy(col("score").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val l = best(0).getAs[String]("l")
        val r = best(0).getAs[String]("r")
        val m = mergedSymbol(l, r)
        merges += Row(step, l, r, m, best(0).getAs[Long]("pf"),
          best(0).getAs[Double]("score"))
        val pair = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(l, r, m)), 1),
          StructType(Seq(
            StructField("__ml", StringType, nullable = false),
            StructField("__mr", StringType, nullable = false),
            StructField("__mm", StringType, nullable = false))))
        cur = cur.crossJoin(broadcast(pair))
          .withColumn("sym",
            mergeOne(col("sym"), col("__ml"), col("__mr"), col("__mm")))
          .drop("__ml", "__mr", "__mm")
          .transform(graft.functions.ExprUtils.barrier)
        step += 1
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1),
      StructType(Seq(
        StructField("step", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("pair_freq", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false))))
  }

  /** The encode-side vocabulary from an ALREADY-TRAINED merge table
    * (the [[trainWordPiece]] output layout): the alphabet the
    * dictionary starts from (every initial symbol of every word) plus
    * the merged symbols, driver-side — no re-training (ADVICE r13:
    * building the vocabulary used to re-run the full nMerges-round
    * trainer on top of the one that produced the merge table).
    * Bounded: |alphabet| ≤ 2 × charset (bare + `##` forms), plus
    * nMerges entries. */
  def vocabFromMerges(df: DataFrame, merges: DataFrame,
      textCol: String = "text"): Seq[String] = {
    val alphabet = df.select(
        explode_outer(TextAnalysis.tokens(col(textCol))).as("w"))
      .where(col("w").isNotNull).distinct()
      .select(explode_outer(initialSymbols(col("w"))).as("s"))
      .where(col("s").isNotNull).distinct()
      .collect().map(_.getString(0))
    val merged = merges.select(col("step"), col("merged"))
      .collect().sortBy(_.getInt(0)).map(_.getString(1))
    (alphabet ++ merged).distinct.toSeq
  }

  private val vocabMemo = new graft.plans.PlanMemo[Seq[String]](16)

  /** The encode-side vocabulary a trained model ships, training the
    * merge table if this (corpus, params) combination has not been
    * trained in this JVM yet — memoized, so encode-after-train in one
    * session pays the nMerges training rounds once
    * ([[trainWordPiece]] itself stays unmemoized: the trainer API
    * always trains). A [[graft.plans.PlanMemo]], with its staleness
    * caveat. Callers holding a merge table should use
    * [[vocabFromMerges]] directly. */
  def trainVocab(df: DataFrame, nMerges: Int, minFreq: Long = 2L,
      textCol: String = "text"): Seq[String] =
    vocabMemo(df, textCol, nMerges, minFreq)(
      vocabFromMerges(df, trainWordPiece(df, nMerges, minFreq, textCol),
        textCol))

  /** Single-threaded reference WordPiece — the WordPieceSuite ground
    * truth in the textbook dictionary form. */
  private[llm] def referenceWordPiece(tokens: Iterator[String],
      nMerges: Int, minFreq: Long = 2L)
      : Seq[(Int, String, String, String, Long, Double)] = {
    val dict = scala.collection.mutable.HashMap.empty[List[String], Long]
    tokens.foreach { w =>
      val sym = w.headOption.map(_.toString).toList :::
        w.drop(1).map(Hash + _).toList
      if (sym.nonEmpty) dict(sym) = dict.getOrElse(sym, 0L) + 1L
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long, Double)]
    var step = 1
    var continue = true
    while (step <= nMerges && continue) {
      val pf = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val uc = scala.collection.mutable.HashMap.empty[String, Long]
      dict.foreach { case (sym, f) =>
        sym.foreach(s => uc(s) = uc.getOrElse(s, 0L) + f)
        sym.zip(sym.tail).foreach(p => pf(p) = pf.getOrElse(p, 0L) + f)
      }
      val best = pf.toSeq.filter(_._2 >= minFreq)
        .map { case ((l, r), f) =>
          (l, r, f, f.toDouble / (uc(l).toDouble * uc(r).toDouble))
        }
        .sortBy { case (l, r, _, sc) => (-sc, l, r) }.headOption
      best match {
        case Some((l, r, f, sc)) =>
          val m = mergedSymbol(l, r)
          out += ((step, l, r, m, f, sc))
          val next = dict.map { case (sym, cnt) =>
            val b = scala.collection.mutable.ListBuffer.empty[String]
            sym.foreach { s =>
              if (b.nonEmpty && b.last == l && s == r)
                b(b.length - 1) = m
              else b += s
            }
            (b.toList, cnt)
          }
          dict.clear()
          next.foreach { case (sym, cnt) =>
            dict(sym) = dict.getOrElse(sym, 0L) + cnt }
          step += 1
        case None => continue = false
      }
    }
    out.toSeq
  }

  /** Reference greedy longest-match-first (BERT MaxMatch) — the
    * WordPieceSuite ground truth for the native encode expression. */
  private[llm] def referenceEncode(word: String, vocab: Set[String],
      unk: String = "[UNK]"): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val prefix = if (i == 0) "" else Hash
      var j = word.length
      var hit: String = null
      while (j > i && hit == null) {
        val cand = prefix + word.substring(i, j)
        if (vocab.contains(cand)) hit = cand else j -= 1
      }
      if (hit == null) return Seq(unk) // BERT: any failure → whole-word UNK
      out += hit
      i = j
    }
    out.toSeq
  }
}
