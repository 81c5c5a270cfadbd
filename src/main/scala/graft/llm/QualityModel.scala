package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier — the GPT-3/CCNet-style filter: a
  * linear model separating "reference-like" text from junk, used to
  * score (and downweight or drop) crawl documents. Here the negative
  * class is built SELF-SUPERVISED from the corpus itself — each
  * positive doc gets a deterministically corrupted twin (vowels
  * stripped: fluent-prose signals collapse — stopword hits vanish,
  * mean word length shrinks, punctuation density rises) — so the
  * pipeline needs no external labels, the common bootstrap when no
  * curated reference corpus is at hand.
  *
  * Features are the existing map-only signal family
  * ([[TextAnalysis.qualitySignals]] + [[TextAnalysis.repetitionSignals]]
  * + log token count); the model is L2 logistic regression.
  *
  * Determinism (the ivfTopK KMeans discipline): the fit input is
  * hash-repartitioned by id and sorted within partitions, so LBFGS's
  * partition-wise gradient sums see identical points in identical
  * order regardless of how the corpus arrived — same seed ⇒ identical
  * coefficients ⇒ identical scores (pinned across partitionings in
  * QualityModelSuite).
  *
  * Scale shape: feature extraction is map-only (scan speed); the fit
  * consumes the corpus + its twin once per LBFGS iteration over a
  * CACHED input (Spark ML re-evaluates uncached input per iteration
  * — the KMeans lesson); scoring is map-only with the coefficients
  * as literals. At 100 TB fit on a seeded SAMPLE (the quantizer
  * argument: a linear model needs a sketch, not every row). */
object QualityModel {

  /** Deterministic corruption: strip vowels — destroys the fluency
    * signals while keeping length/structure in-distribution. */
  def corrupt(text: Column): Column = translate(text, "aeiouAEIOU", "")

  /** Deterministic word-order shuffle: tokens reordered by token hash.
    * Preserves the token MULTISET — every per-row surface feature is
    * (nearly) unchanged — while destroying bigram structure: the
    * corruption class only the corpus-LM features can see, which makes
    * it the held-out task separating [[fitFused]] from [[fit]]
    * (QualityModelSuite). Pair it with token-REBUILT positives
    * (`concat_ws(" ", tokens(text))`) so punctuation loss doesn't leak
    * a surface signal. */
  def shuffleTokens(text: Column): Column =
    // hash salted with the POSITION: keyed on the token alone this is
    // a sort, not a shuffle — duplicate tokens land adjacent and the
    // repeated-bigram runs light up top_bigram_frac (measured: the
    // base model read 0.91 held-out accuracy off that artifact)
    concat_ws(" ", transform(array_sort(transform(
      TextAnalysis.tokens(text),
      (t, i) => struct(xxhash64(t, i).as("h"), t.as("t")))),
      s => s.getField("t")))

  private val FeatureCols = Seq("punct_ratio", "stopword_ratio",
    "mean_word_len", "dup_token_frac", "top_bigram_frac", "ln_tokens")

  /** Map-only feature frame: (idCol, label, features…) for any
    * (idCol, text) input. */
  def featurize(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sig = TextAnalysis.repetitionSignals(
      TextAnalysis.qualitySignals(df, textCol), textCol)
    sig.select(col(idCol) +: FeatureCols.map {
      case "ln_tokens" =>
        log(greatest(col("n_tokens"), lit(1)).cast("double")).as("ln_tokens")
      case c => col(c).cast("double").as(c)
    }: _*)
  }

  /** Fitted model as plain numbers — scoring then needs no ML
    * runtime, just a column expression. */
  final case class Model(coefficients: Seq[Double], intercept: Double)

  private val FusedFeatureCols = FeatureCols ++ Seq("unigram_lp", "bigram_lp")

  /** Floor log-prob for a doc with no tokens/bigrams to score (junk by
    * definition): ln of a vanishing probability, far below any real
    * corpus score. */
  private val LmFloor = -20.0

  /** Corpus-LM features of `df`'s docs under unigram + bigram MLE
    * models trained on `lm` (the CCNet recipe's actual signal: a
    * reference-corpus language model scoring candidates): per doc the
    * mean token log-prob ln(tf/T) and mean bigram log-prob ln(c2/c1),
    * with unseen events floored at ln(0.5/total) — deterministic,
    * engine-free smoothing (no fit). Rounded to 4dp: per-doc sums of
    * logs are float-order-sensitive across partitionings (the reason
    * the BASE features are all per-row expressions), and 4dp is the
    * typicality convention that absorbs it.
    *
    * Scale shape: the same skew-safe chain as typicality/bigramLogprob
    * — per-(doc, term) counts partial-aggregate before any shuffle,
    * the LM count tables derive from pre-collapsed rows (Zipf head
    * arrives collapsed), totals ride as broadcast one-row aggregates,
    * join-backs are AQE-splittable. No window, nothing corpus-sized
    * in one task. */
  def lmFeatures(df: DataFrame, lm: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    lmFeaturesFrom(df, lmCounts(lm, textCol), idCol, textCol)

  /** The trained LM as count tables — built once, consumed by every
    * [[lmFeaturesFrom]] evaluation.
    *
    * Round-13 tokenize-once restructure (the round-12 verdict's open
    * lever): unigram and bigram counts come from ONE tagged-term pass
    * (`all`: kind 0 = token, 1 = bigram), not separate token/bigram
    * explodes — the expensive tokenization runs once per text pass
    * instead of twice (final plan: 12 shuffle stages → 7, LmPlanProbe)
    * — and `c1`/`totals` derive from `all`'s aggregate WITHOUT a kind
    * filter (a filter on the grouping column would push below the
    * aggregate and re-run the explode). `c1` therefore also carries
    * kind-0 "context" sums — harmless rows the per-kind conditional
    * aggregation never reads.
    *
    * Materialization is CALLER-CHOSEN (`materialize` on [[lmCounts]]):
    * column pruning specializes each of `all`'s three consumers, so
    * NO exchange/stage reuse fires between them (measured, LmPlanProbe
    * — revising the round-10 "exchange reuse already dedupes" claim)
    * and a lazy `all` recomputes its explode per consumer. The fused
    * FIT evaluates the LM side ~3× (two class branches + scoring), so
    * [[fitFused]]/[[trainScoreFused]] pass `materialize = true`: an
    * eager `localCheckpoint` (vocab-sized, ContextCleaner-managed — no
    * unpersist hook exists for the lazily-scored output) runs the
    * explode once. Measured at sf0.1 (LmCacheProbe, same-session
    * arms): trainScoreFused ~9.7 → ~6.9 s; the round-10 InMemoryRelation
    * persist of the OLD two-table layout stays retired (it measured
    * slower then; plain persist also loses to ckpt here, 7.9 vs 6.9).
    * Single-evaluation paths ([[lmFeatures]], [[scoreWithFused]]) stay
    * lazy — the eager job costs more than it saves there (1.7 → 2.2
    * s measured). */
  private[llm] final case class LmCounts(all: DataFrame, c1: DataFrame,
      totals: DataFrame)

  /** One row per token occurrence (kind 0) AND bigram occurrence
    * (kind 1) — the single text pass both LM feature families derive
    * from. */
  private def taggedTerms(d: DataFrame, textCol: String,
      idCols: Seq[Column]) =
    d.select(idCols :+ explode_outer(graft.functions.ExprUtils.bindOnce(
        TextAnalysis.tokens(col(textCol))) { t =>
        val tokStructs = transform(t,
          x => struct(lit(0).as("kind"), x.as("term")))
        val bgStructs = when(size(t) >= 2,
          zip_with(slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => struct(lit(1).as("kind"),
              concat(a, lit(" "), b).as("term"))))
        // coalesce to an EMPTY array of the same struct type (concat
        // with a null array nulls the whole result, dropping the
        // doc's tokens with it)
        concat(tokStructs, coalesce(bgStructs,
          slice(tokStructs, lit(1), lit(0))))
      }).as("kt"): _*)
      .where(col("kt").isNotNull)
      .select(idCols :+ col("kt.kind").as("kind") :+
        col("kt.term").as("term"): _*)

  private[llm] def lmCounts(lm: DataFrame, textCol: String = "text",
      materialize: Boolean = false): LmCounts = {
    val all0 = taggedTerms(lm, textCol, Nil).groupBy("kind", "term")
      .agg(count(lit(1)).as("lm_cnt"))
    // materialize ⇒ one eager construction-time job (the bpe_train /
    // dropHotKeys contract — the fused fit is construction-eager
    // anyway, so this adds no new caller obligation)
    val all = if (materialize) all0.localCheckpoint(true) else all0
    // no kind filter anywhere below `all` — see the LmCounts scaladoc
    val c1 = all
      .withColumn("ctx", substring_index(col("term"), " ", 1))
      .groupBy("kind", "ctx").agg(sum("lm_cnt").as("c1"))
    val totals = all.groupBy("kind")
      .agg(sum("lm_cnt").cast("double").as("tot"))
    LmCounts(all, c1, totals)
  }

  private[llm] def lmFeaturesFrom(df: DataFrame, lm: LmCounts,
      idCol: String, textCol: String): DataFrame = {
    // one doc-side pass: per-(doc, kind, term) counts join the LM
    // tables on (kind, …), then ONE groupBy(id) computes both
    // features via per-kind conditional sums. A single-token doc has
    // no kind-1 rows, so its bigram sums aggregate to null and floor
    // below — same as the old missing-row left join.
    val lp = taggedTerms(df, textCol, Seq(col(idCol)))
      .groupBy(col(idCol), col("kind"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .join(lm.all, Seq("kind", "term"), "left")
      .withColumn("ctx", substring_index(col("term"), " ", 1))
      .join(lm.c1, Seq("kind", "ctx"), "left")
      .join(broadcast(lm.totals), Seq("kind"), "left")
      .groupBy(col(idCol))
      .agg(
        round(sum(when(col("kind") === 0, col("cnt") *
            log(coalesce(col("lm_cnt").cast("double"), lit(0.5))
              / col("tot"))))
          / sum(when(col("kind") === 0, col("cnt"))), 4).as("unigram_lp"),
        round(sum(when(col("kind") === 1, col("cnt") *
            when(col("lm_cnt").isNull, log(lit(0.5) / col("tot")))
              .otherwise(log(col("lm_cnt").cast("double") / col("c1")))))
          / sum(when(col("kind") === 1, col("cnt"))), 4).as("bigram_lp"))
    df.select(col(idCol))
      .join(lp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("unigram_lp"), lit(LmFloor)).as("unigram_lp"),
        coalesce(col("bigram_lp"), lit(LmFloor)).as("bigram_lp"))
  }

  /** Fit the discriminator on corpus ∪ corrupted twin. The two
    * classes are told apart by an explicit `cls` flag carried through
    * the union — never by shifting ids (an id-offset scheme silently
    * collides positive and shifted-negative rows on any corpus whose
    * ids reach the offset, duplicating rows through the label join and
    * corrupting the fit). (cls, id) is unique by construction, so it
    * is also the canonical-layout sort key. */
  def fit(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      corruptFn: Column => Column = corrupt): Model = {
    val pos = df.select(col(idCol), col(textCol))
    val neg = df.select(col(idCol), corruptFn(col(textCol)).as(textCol))
    val feats = featurize(pos, idCol, textCol)
        .withColumn("label", lit(1.0)).withColumn("cls", lit(1))
      .unionByName(featurize(neg, idCol, textCol)
        .withColumn("label", lit(0.0)).withColumn("cls", lit(0)))
    fitOn(feats, FeatureCols, idCol)
  }

  /** [[fit]] with the corpus-LM features fused in (the full CCNet
    * recipe): the unigram/bigram MLE models are trained on the RAW
    * corpus (the positive class) once, and BOTH classes score under
    * them — a corrupted twin's tokens and bigrams are mostly unseen,
    * so its LM features collapse toward the floor while the surface
    * features stay in-distribution. This is the signal family that
    * separates corruptions the per-row features cannot see (e.g.
    * word-order shuffles, which preserve every base feature but
    * destroy bigram likelihood — pinned in QualityModelSuite). */
  def fitFused(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      corruptFn: Column => Column = corrupt): Model =
    fitFusedWith(df,
      lmCounts(df.select(col(textCol)), textCol, materialize = true),
      idCol, textCol, corruptFn)

  private def fitFusedWith(df: DataFrame, lm: LmCounts, idCol: String,
      textCol: String, corruptFn: Column => Column): Model = {
    val pos = df.select(col(idCol), col(textCol))
    val neg = df.select(col(idCol), corruptFn(col(textCol)).as(textCol))
    def cls(d: DataFrame, label: Double, c: Int) =
      featurize(d, idCol, textCol)
        .join(lmFeaturesFrom(d, lm, idCol, textCol), Seq(idCol))
        .withColumn("label", lit(label)).withColumn("cls", lit(c))
    fitOn(cls(pos, 1.0, 1).unionByName(cls(neg, 0.0, 0)),
      FusedFeatureCols, idCol)
  }

  private def fitOn(feats: DataFrame, featureCols: Seq[String],
      idCol: String): Model = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
    // Canonical fit layout (the KMeans determinism lesson) + cache
    // (ML re-evaluates uncached input per LBFGS iteration).
    val fitInput = assembler.transform(
        feats.repartition(16, col("cls"), col(idCol))
          .sortWithinPartitions("cls", idCol))
      .select("features", "label").persist()
    val m =
      try new LogisticRegression()
        .setMaxIter(50).setRegParam(0.01).setStandardization(true)
        .fit(fitInput)
      finally fitInput.unpersist(blocking = false)
    Model(m.coefficients.toArray.toSeq, m.intercept)
  }

  private def sigmoid(model: Model, cols: Seq[String]): Column = {
    val margin = cols.zipWithIndex.map { case (c, i) =>
      col(c) * lit(model.coefficients(i)) }.reduce(_ + _) +
      lit(model.intercept)
    round(lit(1.0) / (lit(1.0) + exp(-margin)), 4)
  }

  /** Score docs MAP-ONLY under a fitted model: (idCol, q_score =
    * sigmoid(w·x + b), rounded to 4 decimals) — coefficients ride as
    * literals, no model UDF in the scan path. */
  def scoreWith(df: DataFrame, model: Model, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    featurize(df, idCol, textCol).select(col(idCol),
      sigmoid(model, FeatureCols).as("q_score"))

  /** Score under a FUSED model (see [[fitFused]]): base features stay
    * per-row; the LM features join against the `lm`-corpus count
    * tables — no longer map-only, but the same skew-safe aggregation
    * shape as typicality (the count tables, not the corpus, are the
    * join state). */
  def scoreWithFused(df: DataFrame, lm: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    scoreWithFusedFrom(df, lmCounts(lm, textCol), model, idCol, textCol)

  private def scoreWithFusedFrom(df: DataFrame, lm: LmCounts,
      model: Model, idCol: String, textCol: String): DataFrame =
    featurize(df, idCol, textCol)
      .join(lmFeaturesFrom(df, lm, idCol, textCol), Seq(idCol))
      .select(col(idCol), sigmoid(model, FusedFeatureCols).as("q_score"))

  // The fit is partitioning-deterministic (canonical fit layout
  // above), so the memoized coefficients are the ones any fresh fit
  // would produce.
  private val fitMemo = new graft.plans.PlanMemo[Model](16)

  /** The fitted base discriminator for APPLY-side compositions
    * (llm_e2e_score_sample), training it if this (corpus, cols)
    * combination has not been fitted in this JVM yet — memoized, the
    * wordpiece/bpe/unigram encode precedent. [[fit]]/[[trainScore]]
    * stay unmemoized: the trainer API always trains. A
    * [[graft.plans.PlanMemo]]: rewriting the corpus files in place
    * within one JVM serves the STALE coefficients. */
  def modelFor(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Model =
    fitMemo(df, idCol, textCol)(fit(df, idCol, textCol))

  /** Train on corpus ∪ corrupted twin, then score EVERY corpus doc.
    * The positive-class feature frame is consumed twice (the fit's
    * class-1 branch and the scoring pass are the SAME featurize over
    * the same rows) — the lazy checkpoint runs the regexp-heavy
    * signal pass once (round-15: trainScore 2.8 → 2.3 s, NoopTime).
    * The fit input reaching [[fitOn]] is value-identical to
    * `fit(df)`'s, so the model (and every q_score) is unchanged. */
  def trainScore(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pos = df.select(col(idCol), col(textCol))
    val neg = df.select(col(idCol), corrupt(col(textCol)).as(textCol))
    val posFeats = featurize(pos, idCol, textCol).transform(graft.functions.ExprUtils.barrier)
    val feats = posFeats
        .withColumn("label", lit(1.0)).withColumn("cls", lit(1))
      .unionByName(featurize(neg, idCol, textCol)
        .withColumn("label", lit(0.0)).withColumn("cls", lit(0)))
    val model = fitOn(feats, FeatureCols, idCol)
    posFeats.select(col(idCol),
      sigmoid(model, FeatureCols).as("q_score"))
  }

  /** [[trainScore]] with the fused (base + corpus-LM) feature family.
    * Same shared-positive-frame shape: the class-1 fit branch and the
    * scoring pass both need featurize + lmFeaturesFrom over the raw
    * corpus — the checkpoint runs those two corpus passes once
    * (round-15 measured, SCALE.md). Fit input and scores are
    * value-identical to the unshared form. */
  def trainScoreFused(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lm = lmCounts(df.select(col(textCol)), textCol,
      materialize = true)
    val pos = df.select(col(idCol), col(textCol))
    val neg = df.select(col(idCol), corrupt(col(textCol)).as(textCol))
    def fused(d: DataFrame) = featurize(d, idCol, textCol)
      .join(lmFeaturesFrom(d, lm, idCol, textCol), Seq(idCol))
    val posFeats = fused(pos).transform(graft.functions.ExprUtils.barrier)
    val feats = posFeats
        .withColumn("label", lit(1.0)).withColumn("cls", lit(1))
      .unionByName(fused(neg)
        .withColumn("label", lit(0.0)).withColumn("cls", lit(0)))
    val model = fitOn(feats, FusedFeatureCols, idCol)
    posFeats.select(col(idCol),
      sigmoid(model, FusedFeatureCols).as("q_score"))
  }
}
