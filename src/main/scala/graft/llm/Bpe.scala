package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE vocabulary training (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer-prep capstone: learn the merge table a production
  * tokenizer ships from the corpus itself.
  *
  * Classic two-phase shape, and the reason it scales: the CORPUS-sized
  * work is exactly one tokenize + groupBy into the word-frequency
  * DICTIONARY (Zipf: ~10⁸ distinct words even at web scale — a small
  * distributed table); every merge round after that touches only the
  * dictionary. Per round: adjacent-pair frequencies (explode +
  * partial-aggregated sum weighted by word freq), a ONE-ROW argmax
  * collect (freq desc, then (left, right) asc — fully deterministic),
  * and a map-only greedy left-to-right merge of the winning pair in
  * every word's symbol array. The iterative-loop lesson applies
  * verbatim (SCALE.md): the merged frame takes a LAZY localCheckpoint
  * and the next round's argmax collect is the materializing action —
  * one Spark job per merge round, lineage truncated.
  *
  * Scale path: one-at-a-time rounds are inherently SEQUENTIAL (each
  * merge changes the pair statistics the next argmax reads), so a
  * real 32k-merge vocabulary under [[trainBpe]] means 32k Spark jobs
  * of pure scheduler latency. [[trainBpeBatched]] is the production
  * remedy: per round it accepts a SYMBOL-DISJOINT subset of the top-B
  * pairs and applies them all in one map-only pass — rounds drop from
  * V to ~V/B (examples/BpeBatchProbe → SCALE.md). Disjointness (no
  * candidate shares a left, right, OR merged symbol with an accepted
  * one) is what makes the batch exact: merging (a,b) cannot create,
  * destroy, or cascade into occurrences of any other accepted pair,
  * so the pre-batch frequencies recorded for the accepted merges stay
  * true at apply time. Batched(B=1) ≡ sequential EXACTLY (BpeSuite
  * pin); batched(B>1) is the standard parallel-BPE relaxation (a
  * merge can no longer consume a pair CREATED earlier in the same
  * round), pinned against [[referenceBpeBatched]].
  *
  * No cross-engine oracle (the data-dependent per-round argmax cannot
  * ride a static SQL text in DuckDB 1.0 — no init-form list_reduce to
  * express the greedy merge, and recursive CTEs cannot aggregate over
  * the recursive reference). Instead BpeSuite pins the merge table
  * EXACTLY against an independent single-threaded reference
  * implementation, plus the overlapping-run greedy rule ("aaa" + (a,a)
  * → ["aa","a"]) and end-of-word marker semantics.
  */
object Bpe {

  /** End-of-word marker — a real symbol (standard BPE), so merges
    * distinguish word-final from word-internal contexts. */
  val EndOfWord = "</w>"

  /** Greedy left-to-right single-pair merge over a symbol array:
    * scan symbols, and whenever the running tail is `l` and the next
    * symbol is `r`, replace the tail with `l+r`. Because the merged
    * symbol is the CONCATENATION (≠ `l` unless degenerate), an
    * overlapping run like a,a,a under (a,a) merges leftmost-first to
    * aa,a — the standard rule — with no explicit overlap bookkeeping.
    *
    * `l`/`r` are COLUMNS (bound from a broadcast one-row frame), not
    * literals, so every merge round generates the IDENTICAL codegen
    * source and the whole training loop compiles ONCE — with baked
    * literals each of the nMerges rounds compiled its own class
    * (measured: 23 s cold → the literal codegen was ~80 % of it). */
  private[llm] def mergeOne(sym: Column, l: Column, r: Column): Column =
    aggregate(sym, array().cast("array<string>"), (out, s) =>
      when(size(out) > 0 &&
          element_at(out, -1) === l && s === r,
        concat(slice(out, lit(1), size(out) - 1), array(concat(l, r))))
        .otherwise(concat(out, array(s))))

  /** Initial symbol sequence of a word: its characters plus the
    * end-of-word marker. */
  private def initialSymbols(w: Column): Column =
    concat(filter(split(w, ""), s => length(s) > 0),
      array(lit(EndOfWord)))

  /** Key separator for the batch merge map: NUL never occurs in a
    * token (the tokenizer's alphabet) or in `</w>`, so
    * `l + Sep + r` is collision-free. */
  private[llm] val Sep = "\u0000"

  /** One greedy left-to-right pass applying a whole BATCH of
    * symbol-disjoint merges: `mm` maps `l + Sep + r` → merged. The
    * same fold as [[mergeOne]] with the equality test replaced by a
    * map probe — at each position at most one batch pair can match
    * (disjointness), so one pass applies them all. `map_contains_key`
    * guards the lookup (ANSI `element_at` throws on absent keys; the
    * CaseWhen branch only evaluates when the key exists). `mm` must be
    * a bare ATTRIBUTE (the bindOnce discipline — a `map_from_arrays`
    * inlined here would be rebuilt per symbol inside the lambda). */
  private[llm] def mergeBatch(sym: Column, mm: Column): Column =
    aggregate(sym, array().cast("array<string>"), (out, s) =>
      when(size(out) > 0 &&
          map_contains_key(mm, concat(element_at(out, -1), lit(Sep), s)),
        concat(slice(out, lit(1), size(out) - 1),
          array(element_at(mm, concat(element_at(out, -1), lit(Sep), s)))))
        .otherwise(concat(out, array(s))))

  private val mergesMemo =
    new graft.plans.PlanMemo[Seq[(Int, String, String, String, Long)]](16)

  /** The merge table the ENCODE path bakes into [[BpeEncodeExpr]],
    * training it if this (corpus, params) combination has not been
    * trained in this JVM yet — memoized, so encode-after-train in one
    * session pays the nMerges training rounds once (the
    * WordPiece.trainVocab precedent; [[trainBpe]]/[[trainMerges]]
    * stay unmemoized: the trainer API always trains). A
    * [[graft.plans.PlanMemo]]: rewriting the corpus files in place
    * within one JVM serves the STALE merge table. */
  def mergesFor(df: DataFrame, nMerges: Int, minFreq: Long = 2L,
      textCol: String = "text"): Seq[(Int, String, String, String, Long)] =
    mergesMemo(df, textCol, nMerges, minFreq)(
      trainMerges(df, nMerges, minFreq, textCol))

  /** [[trainBpe]] returning the merge list driver-side — the form
    * the encode path ([[BpeEncodeExpr]]) consumes as literals. */
  def trainMerges(df: DataFrame, nMerges: Int, minFreq: Long = 2L,
      textCol: String = "text"): Seq[(Int, String, String, String, Long)] =
    trainBpe(df, nMerges, minFreq, textCol)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq

  /** Train `nMerges` BPE merges on the corpus; returns the merge
    * table (step, left, right, merged, pair_freq) — the artifact a
    * tokenizer ships. Stops early when the best remaining pair's
    * frequency drops below `minFreq` (or no pairs remain). */
  def trainBpe(df: DataFrame, nMerges: Int, minFreq: Long = 2L,
      textCol: String = "text"): DataFrame = {
    require(nMerges >= 1, s"nMerges=$nMerges must be >= 1")
    val spark = df.sparkSession
    // Corpus-sized phase: ONE tokenize + partial-aggregated groupBy
    // into the word dictionary. explode_outer + null test on the
    // GENERATED column (the shingleInv re-inline lesson).
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
      // Adjacent pairs weighted by word frequency. A word of < 2
      // symbols yields null → dropped on the generated column.
      val pairs = cur.select(col("freq"),
          explode_outer(graft.functions.ExprUtils.bindOnce(col("sym")) { s =>
            when(size(s) >= 2,
              zip_with(slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
                (a, b) => struct(a.as("l"), b.as("r"))))
          }).as("p"))
        .where(col("p").isNotNull)
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pf"))
      // One-row deterministic argmax; this collect is ALSO the action
      // that materializes the previous round's lazy checkpoint — one
      // job per round (the CC-loop lesson).
      val best = pairs.orderBy(col("pf").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getAs[Long]("pf") < minFreq) done = true
      else {
        val l = best(0).getAs[String]("l")
        val r = best(0).getAs[String]("r")
        val pf = best(0).getAs[Long]("pf")
        merges += Row(step, l, r, l + r, pf)
        val pair = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(l, r)), 1),
          StructType(Seq(StructField("__ml", StringType, nullable = false),
            StructField("__mr", StringType, nullable = false))))
        cur = cur.crossJoin(broadcast(pair))
          .withColumn("sym", mergeOne(col("sym"), col("__ml"), col("__mr")))
          .drop("__ml", "__mr")
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
        StructField("pair_freq", LongType, nullable = false))))
  }

  /** Batched BPE training — the production path for deep vocabularies
    * (see object doc): per round, ONE pair-frequency job, a top-B
    * collect, greedy acceptance of a symbol-disjoint subset (scan in
    * (freq desc, left asc, right asc) order; accept a candidate iff
    * none of its three symbols {l, r, l+r} was used by an
    * already-accepted pair this round), then one [[mergeBatch]]
    * map-only pass applies them all. Rounds = ceil-ish vocab/B
    * instead of vocab; each accepted merge records its exact pre-batch
    * frequency (disjointness keeps it true at apply time). The
    * candidate WINDOW is the top min(batch, merges remaining) pairs —
    * a conflicting candidate inside the window is skipped this round
    * and simply wins a later one. `batch = 1` reproduces [[trainBpe]]
    * exactly (suite-pinned). */
  def trainBpeBatched(df: DataFrame, nMerges: Int, batch: Int,
      minFreq: Long = 2L, textCol: String = "text"): DataFrame = {
    require(nMerges >= 1, s"nMerges=$nMerges must be >= 1")
    require(batch >= 1, s"batch=$batch must be >= 1")
    val spark = df.sparkSession
    val dict = df.select(
        explode_outer(TextAnalysis.tokens(col(textCol))).as("w"))
      .where(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), initialSymbols(col("w")).as("sym"))
    var cur = dict.transform(graft.functions.ExprUtils.barrier)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var done = false
    while (merges.length < nMerges && !done) {
      val pairs = cur.select(col("freq"),
          explode_outer(graft.functions.ExprUtils.bindOnce(col("sym")) { s =>
            when(size(s) >= 2,
              zip_with(slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
                (a, b) => struct(a.as("l"), b.as("r"))))
          }).as("p"))
        .where(col("p").isNotNull)
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pf"))
      val window = math.min(batch, nMerges - merges.length)
      // Top-window collect — ALSO the action materializing the prior
      // round's lazy checkpoint (one job per round, the CC-loop
      // lesson). B rows, not one: still driver-bounded.
      val cands = pairs.orderBy(col("pf").desc, col("l").asc, col("r").asc)
        .limit(window).collect()
        .filter(_.getAs[Long]("pf") >= minFreq)
      if (cands.isEmpty) done = true
      else {
        val used = scala.collection.mutable.HashSet.empty[String]
        val accepted = scala.collection.mutable
          .ArrayBuffer.empty[(String, String, Long)]
        cands.foreach { c =>
          val (l, r) = (c.getAs[String]("l"), c.getAs[String]("r"))
          val syms = Seq(l, r, l + r)
          if (!syms.exists(used)) {
            accepted += ((l, r, c.getAs[Long]("pf")))
            used ++= syms
          }
        }
        accepted.foreach { case (l, r, pf) =>
          merges += Row(merges.length + 1, l, r, l + r, pf) }
        val mapRow = Row(accepted.map { case (l, r, _) => l + Sep + r }.toSeq,
          accepted.map { case (l, r, _) => l + r }.toSeq)
        val batchDf = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(mapRow), 1),
          StructType(Seq(
            StructField("__mk", ArrayType(StringType), nullable = false),
            StructField("__mv", ArrayType(StringType), nullable = false))))
        // __mm stays an ATTRIBUTE below the merge fold (bindOnce
        // discipline); the one-row cross join broadcasts, and the
        // codegen shape is identical every round (B rides in the DATA).
        cur = cur.crossJoin(broadcast(batchDf))
          .withColumn("__mm", map_from_arrays(col("__mk"), col("__mv")))
          .withColumn("sym", mergeBatch(col("sym"), col("__mm")))
          .drop("__mk", "__mv", "__mm")
          .transform(graft.functions.ExprUtils.barrier)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1),
      StructType(Seq(
        StructField("step", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("pair_freq", LongType, nullable = false))))
  }

  /** Single-threaded reference BPE over a token iterator — the
    * BpeSuite ground truth (same tokenizer, same tie-breaks, same
    * greedy rule), deliberately written in the textbook dictionary
    * form with none of the distributed machinery. */
  private[llm] def referenceBpe(tokens: Iterator[String], nMerges: Int,
      minFreq: Long = 2L): Seq[(Int, String, String, String, Long)] = {
    val dict = scala.collection.mutable.HashMap.empty[List[String], Long]
    tokens.foreach { w =>
      val sym = w.map(_.toString).toList :+ EndOfWord
      dict(sym) = dict.getOrElse(sym, 0L) + 1L
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var step = 1
    var continue = true
    while (step <= nMerges && continue) {
      val pf = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (sym, f) =>
        sym.zip(sym.tail).foreach(p => pf(p) = pf.getOrElse(p, 0L) + f)
      }
      val best = pf.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }.headOption
      best match {
        case Some(((l, r), f)) if f >= minFreq =>
          out += ((step, l, r, l + r, f))
          val next = dict.map { case (sym, cnt) =>
            val b = scala.collection.mutable.ListBuffer.empty[String]
            sym.foreach { s =>
              if (b.nonEmpty && b.last == l && s == r)
                b(b.length - 1) = l + r
              else b += s
            }
            (b.toList, cnt)
          }
          dict.clear()
          next.foreach { case (sym, cnt) =>
            dict(sym) = dict.getOrElse(sym, 0L) + cnt }
          step += 1
        case _ => continue = false
      }
    }
    out.toSeq
  }

  /** [[referenceBpe]] extended with [[trainBpeBatched]]'s batching
    * rule — the batched suite ground truth, same textbook form. */
  private[llm] def referenceBpeBatched(tokens: Iterator[String],
      nMerges: Int, batch: Int, minFreq: Long = 2L)
      : Seq[(Int, String, String, String, Long)] = {
    val dict = scala.collection.mutable.HashMap.empty[List[String], Long]
    tokens.foreach { w =>
      val sym = w.map(_.toString).toList :+ EndOfWord
      dict(sym) = dict.getOrElse(sym, 0L) + 1L
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var continue = true
    while (out.length < nMerges && continue) {
      val pf = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (sym, f) =>
        sym.zip(sym.tail).foreach(p => pf(p) = pf.getOrElse(p, 0L) + f)
      }
      val window = math.min(batch, nMerges - out.length)
      val cands = pf.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }
        .take(window).filter(_._2 >= minFreq)
      if (cands.isEmpty) continue = false
      else {
        val used = scala.collection.mutable.HashSet.empty[String]
        val accepted = scala.collection.mutable
          .ArrayBuffer.empty[(String, String, Long)]
        cands.foreach { case ((l, r), f) =>
          val syms = Seq(l, r, l + r)
          if (!syms.exists(used)) { accepted += ((l, r, f)); used ++= syms }
        }
        accepted.foreach { case (l, r, f) =>
          out += ((out.length + 1, l, r, l + r, f)) }
        val bm = accepted.map { case (l, r, _) => (l, r) -> (l + r) }.toMap
        val next = dict.map { case (sym, cnt) =>
          val b = scala.collection.mutable.ListBuffer.empty[String]
          sym.foreach { s =>
            if (b.nonEmpty && bm.contains((b.last, s)))
              b(b.length - 1) = bm((b.last, s))
            else b += s
          }
          (b.toList, cnt)
        }
        dict.clear()
        next.foreach { case (sym, cnt) =>
          dict(sym) = dict.getOrElse(sym, 0L) + cnt }
      }
    }
    out.toSeq
  }
}
