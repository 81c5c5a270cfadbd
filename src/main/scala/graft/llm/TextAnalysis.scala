package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (n-gram/stopword heuristic), quality scoring, token
  * counting, document fingerprinting. All pure Catalyst expressions —
  * map-only, codegen'd, no shuffle: at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Lowercase word tokens. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-delimited token count. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish subword-granularity count: letter runs, digit runs, and
    * single punctuation marks each count as one token (the common
    * pre-tokenizer split). */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"),
      lit(0)))

  /** Stopword lists per language for the lang-ID heuristic. Tiny on
    * purpose: the heuristic (count stopword hits per language, argmax
    * with a fixed tie order) is the operator; richer lists are data. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni", "zai", "bu"))

  /** Per-language stopword-hit score. */
  def langScore(toks: Column, lang: String): Column = {
    val list = array(stopwords.toMap.apply(lang).map(lit): _*)
    size(filter(toks, t => array_contains(list, t)))
  }

  /** Language-ID: argmax of stopword scores, ties broken by the fixed
    * order of `stopwords`; all-zero scores → "und" (undetermined). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = stopwords.map { case (l, _) => l -> langScore(toks, l) }
    val maxScore = greatest(scores.map(_._2): _*)
    val pick = scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
    pick
  }

  /** Quality signals: lengths, punctuation ratio, stopword ratio, mean
    * word length, and a keep/drop verdict — the standard pretraining
    * quality-filter shape (C4/Gopher-style thresholds). */
  def qualitySignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nChars = length(t)
    val nTokens = tokenCount(t)
    val punct = size(regexp_extract_all(t, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val stopHits = langScore(toks, "en")
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("punct_ratio", round(punct / greatest(nChars, lit(1)), 4))
      // denominator = the SAME word tokenizer the hits come from —
      // dividing [a-z0-9]+ hits by the \S+ count let the "ratio"
      // exceed 1 on punctuation-joined text ("the,and,of" = 3 hits /
      // 1 whitespace token)
      .withColumn("stopword_ratio",
        round(stopHits / greatest(size(toks), lit(1)), 4))
      .withColumn("mean_word_len",
        round(length(regexp_replace(t, "\\s+", "")) /
          greatest(nTokens, lit(1)), 4))
      .withColumn("verdict",
        when(nTokens >= 5 && nTokens <= 100000 &&
          col("punct_ratio") < 0.2 && col("mean_word_len") < 15,
          lit("keep")).otherwise(lit("drop")))
  }

  /** Corpus-relative typicality scoring — the CCNet/C4-style
    * language-model quality filter with the corpus itself as the LM:
    * each document scores the MEAN UNIGRAM LOG-PROBABILITY of its
    * tokens under the corpus unigram distribution
    * (avg over occurrences of ln(tf(token) / total_tokens)).
    * Gibberish, rare-token spam, and out-of-distribution docs score
    * far below the corpus median; the threshold is the caller's
    * policy (percentiles are data, not operator constants).
    *
    * Scale shape: NO window by token. A
    * `count(*) over (partition by tok)` would shuffle every raw token
    * occurrence keyed by a Zipf-skewed vocabulary and materialize each
    * token's whole partition in ONE WindowExec task — the head token
    * of a natural corpus is 3-5 % of ALL occurrences, so at 100 TB
    * that is a ~10¹¹-row straggler with no partial aggregation and no
    * AQE skew-split (AQE cannot split window partitions). Instead:
    * (1) groupBy(id, tok) occurrence counts — partial-aggregated, and
    * the id in the key spreads even the hottest token across every
    * map task; (2) groupBy(tok) term frequencies from those counts —
    * also partial-aggregated, so the Zipf head collapses map-side to
    * one row per task before the shuffle; (3) tf joins back on tok —
    * a keyed join AQE can skew-split, unlike a window. The per-doc
    * aggregate then uses sum(cnt·ln tf) ≡ sum over occurrences of
    * ln tf. No vocabulary ever collects or broadcasts statically (a
    * web-scale vocab is itself huge; AQE may demote the tf side from
    * MEASURED sizes at fixture scale, which is the right call there).
    * The corpus token total rides as a broadcast single-row MAP-ONLY
    * aggregate (the scalar-subquery shape — no driver action, no
    * explode; measured round 5: ReuseExchange never fires across the
    * crossJoin, so routing the total through the token frame would
    * re-run the whole tokenize).
    *
    * Docs with zero word tokens emit no row (no distribution to
    * score them under). */
  def typicality(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // explode_outer + null test on the GENERATED column: the implicit
    // explode filter re-runs the tokenizer regexp per predicate term
    // (the Dedup.shingleInv lesson)
    val toks = df.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("tok"))
      .where(col("tok").isNotNull)
    // Per-(doc, tok) occurrence counts: the only pass over raw
    // occurrences, and it partial-aggregates before its shuffle. The
    // lazy localCheckpoint dedupes the table's two consumers (tf and
    // the per-doc join) — ReusedExchange never fires here because
    // each consumer prunes different columns (round-13 LM-table
    // lesson). Round 13 measured checkpointing as a LOSS, but that
    // A/B ran under QueryTime's count(), which eliminates the
    // unique-key join and prunes the very work being measured
    // (CLAUDE.md probe lesson); the round-15 noop-sink re-measurement
    // (NoopTime, min-of-5 at sf0.1) has the checkpoint WINNING across
    // the whole LM family: typicality 0.82 → 0.65 s (9 → 7 jobs),
    // bigram_lm 1.79 → 1.08 (14 → 8), kn_lm 2.31 → 1.15 (21 → 12),
    // kn3_lm 3.24 → 1.60 (28 → 15), kn3_lm_bos 10.67 → 2.56 under
    // identical co-tenant load — SCALE.md round 15.
    val docTok = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.functions.ExprUtils.barrier)
    // Corpus term frequency per token, from the counts (not the raw
    // occurrences): the skewed key arrives pre-collapsed.
    val tf = docTok.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("tf"))
    val perDoc = docTok.join(tf, "tok")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_toks"),
        sum(col("cnt") * log(col("tf").cast("double"))).as("sum_ln_tf"))
    val total = df.agg(
      sum(size(tokens(col(textCol)))).cast("long").as("n_total"))
    perDoc.crossJoin(broadcast(total))
      .select(col(idCol), col("n_toks"),
        round(col("sum_ln_tf") / col("n_toks")
          - log(col("n_total").cast("double")), 4)
          .as("unigram_logprob"))
  }

  /** Corpus-trained bigram LM score (the CCNet-style perplexity filter
    * one order up from [[typicality]]'s unigram): per doc, the mean
    * log-probability of its token bigrams under the corpus MLE model
    * `p(b|a) = c(a,b) / c(a·)`, where the context count `c(a·)` sums
    * the bigram counts by first token — so it excludes doc-final
    * occurrences and `p(·|a)` normalizes exactly. Gibberish and
    * boilerplate separate on this score the way the paper's wikipedia
    * LM separates crawl text.
    *
    * Same skew-safe chain as typicality: per-(doc, bigram) counts
    * partial-aggregate before the shuffle, the corpus counts derive
    * from the PRE-COLLAPSED table (a hot bigram arrives as one row
    * per containing doc), and the join-backs are AQE-splittable — no
    * window-by-bigram anywhere. Join keys are the bigram strings for
    * cross-engine exactness; at 100 TB swap in md5-long hashed keys
    * (the minhash-md5 machinery) — counts then collide with
    * probability ~n²/2⁶⁴, deterministically in both engines.
    * Docs with < 2 tokens have no bigrams and return NULL score. */
  def bigramLogprob(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bigr = df.select(col(idCol),
      explode_outer(graft.functions.ExprUtils.bindOnce(
        tokens(col(textCol))) { t =>
        when(size(t) >= 2,
          zip_with(slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => concat(a, lit(" "), b)))
      }).as("bg"))
      .where(col("bg").isNotNull)
    val docBg = bigr.groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.functions.ExprUtils.barrier)
    val c2 = docBg.groupBy("bg").agg(sum("cnt").as("c2"))
      .transform(graft.functions.ExprUtils.barrier)
    val c1 = c2.withColumn("ctx", substring_index(col("bg"), " ", 1))
      .groupBy("ctx").agg(sum("c2").as("c1"))
    val perDoc = docBg.join(c2, "bg")
      .withColumn("ctx", substring_index(col("bg"), " ", 1))
      .join(c1, "ctx")
      .groupBy(col(idCol))
      .agg(sum("cnt").as("n_bigrams"),
        round(sum(col("cnt") * (log(col("c2").cast("double"))
            - log(col("c1").cast("double")))) / sum(col("cnt")), 4)
          .as("bigram_logprob"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** Interpolated Kneser–Ney bigram log-probability per document — the
    * smoothing the actual CCNet/KenLM filter uses, one rung up from
    * [[bigramLogprob]]'s raw MLE. With fixed discount D (Chen &
    * Goodman's KN-fix, default 0.75):
    *
    *   P(b|a) = ( (c(ab) − D) + D·N₁₊(a·) · N₁₊(·b)/N₁₊(··) ) / c(a·)
    *
    * where N₁₊(a·)/N₁₊(·b) are the distinct right/left continuation
    * type counts and N₁₊(··) the distinct bigram types: the discount
    * mass a context gives up is redistributed by how many distinct
    * contexts a word FOLLOWS (the "San Francisco" argument — "francisco"
    * is frequent but predictable, so its continuation weight is low).
    * Per context the smoothed P(·|a) still sums to exactly 1 (the
    * first terms give (c(a·) − D·N₁₊(a·))/c(a·), the backoff term
    * restores D·N₁₊(a·)/c(a·) — pinned in LlmSuite). Trained and
    * scored on the corpus itself, so every scored bigram has
    * c(ab) ≥ 1 and the numerator (c − D) stays positive: no max(·,0)
    * clamp and no zero denominators.
    *
    * Same skew-safe shape as [[bigramLogprob]]: all type/total counts
    * derive from the PRE-COLLAPSED per-(doc, bigram) table (partial
    * aggregation collapses hot bigrams before their shuffle; the
    * distinct-type counts are plain `count(*)` over the already-
    * distinct bigram table — no count(DISTINCT) Expand anywhere), the
    * joins are AQE-splittable equi joins on bigram/token keys, the
    * N₁₊(··) scalar rides a broadcast one-row crossJoin, and no
    * window touches an unbounded key. The arithmetic is written with
    * the same association and explicit double casts as the DuckDB
    * oracle so both engines evaluate bit-identical IEEE expressions
    * before the (1-ulp) ln and the 4-dp round. */
  def knBigramLogprob(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75): DataFrame = {
    // the no-clamp argument above (c − D > 0 for every SEEN bigram)
    // needs D < 1; D ≥ 1 would send log() NULL/negative silently
    require(discount > 0.0 && discount < 1.0,
      s"discount=$discount must be in (0, 1)")
    val bigr = df.select(col(idCol),
      explode_outer(graft.functions.ExprUtils.bindOnce(
        tokens(col(textCol))) { t =>
        when(size(t) >= 2,
          zip_with(slice(t, lit(1), size(t) - 1),
            slice(t, lit(2), size(t) - 1),
            (a, b) => concat(a, lit(" "), b)))
      }).as("bg"))
      .where(col("bg").isNotNull)
    // docBg feeds c2 + the per-doc join; c2 feeds four consumers.
    // Both are lazily checkpointed so each lineage runs once: the
    // round-13 "recompute cheaper" A/B was a count()-harness artifact
    // (the final unique-key left join — and with it the whole perDoc
    // chain — was eliminated under count(); CLAUDE.md probe lesson).
    // Re-measured round 15 with the noop sink: kn_lm 2.31 → 1.15 s,
    // jobs 21 → 12 (NoopTime min-of-5 at sf0.1, SCALE.md round 15).
    val docBg = bigr.groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.functions.ExprUtils.barrier)
    val c2 = docBg.groupBy("bg").agg(sum("cnt").as("c2"))
      .transform(graft.functions.ExprUtils.barrier)
    // per-context totals AND distinct-continuation types in one pass
    // over the distinct-bigram table (its rows are the types)
    val ctxTab = c2.withColumn("ctx", substring_index(col("bg"), " ", 1))
      .groupBy("ctx").agg(sum(col("c2")).as("c1"),
        count(lit(1)).as("n1f"))
    val contTab = c2
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .groupBy("w2").agg(count(lit(1)).as("n1b"))
    val nAll = c2.agg(count(lit(1)).cast("double").as("n_all"))
    val d = lit(discount)
    val num = (col("c2").cast("double") - d) +
      (d * col("n1f").cast("double")) *
        (col("n1b").cast("double") / col("n_all"))
    val p = num / col("c1").cast("double")
    val perDoc = docBg.join(c2, "bg")
      .withColumn("ctx", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(ctxTab, "ctx")
      .join(contTab, "w2")
      .crossJoin(broadcast(nAll))
      .groupBy(col(idCol))
      .agg(sum("cnt").as("n_bigrams"),
        round(sum(col("cnt") * log(p)) / sum(col("cnt")), 4)
          .as("kn_logprob"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus
    * document by how much more likely its HASHED-N-GRAM profile is
    * under a target distribution than under the raw corpus —
    * `log w(x) = Σ_b c_x(b) · (ln p_t(b) − ln p_r(b))` over B hash
    * buckets, with add-one smoothing on both bucket models. Feed the
    * weights to [[Sampling.sampleByScore]] / [[Sampling.weightedReservoir]]
    * and you have the LLaMA-style "select raw crawl that looks like
    * the reference corpus" pipeline end to end.
    *
    * Features are unigrams + bigrams hashed into `buckets` via the
    * SAME md5 bucket both engines rebuild exactly
    * ([[Sampling.hashBucket]] / the oracle's md5BucketSql) — hash
    * collisions are part of the method (that is DSIR's point: fixed
    * feature dimension at any vocabulary), and both engines collide
    * identically. One tagged explode produces both feature kinds (the
    * round-13 tokenize-once lesson); per-(doc, bucket) counts
    * partial-aggregate before their shuffle; target and raw bucket
    * tables derive from the PRE-COLLAPSED table; the smoothing-mass
    * scalar rides ONE one-row broadcast crossJoin (whitelisted
    * scalar-subquery shape). The per-doc sum decomposes as
    * `Σ c·(ln(ct+1) − ln(cr+1)) + n·(ln(Tr+B) − ln(Tt+B))` so totals
    * never join per feature row. Arithmetic is written with the
    * oracle's exact association over exact longs; ln is within 1 ulp
    * and the 4-dp round absorbs it (the bigram-LM argument).
    *
    * Exact identity pinned in LlmSuite: when the target IS the corpus,
    * ct = cr per bucket and Tt = Tr, so every document scores exactly
    * 0.0. Docs with no tokens return NULL. */
  def dsirWeights(df: DataFrame, targetPred: Column,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 4096): DataFrame = {
    val feats = df.select(col(idCol),
      explode_outer(graft.functions.ExprUtils.bindOnce(
        tokens(col(textCol))) { t =>
        concat(t, coalesce(
          when(size(t) >= 2,
            zip_with(slice(t, lit(1), size(t) - 1),
              slice(t, lit(2), size(t) - 1),
              (a, b) => concat(a, lit(" "), b))),
          array().cast("array<string>")))
      }).as("ng"))
      .where(col("ng").isNotNull)
      .select(col(idCol),
        Sampling.hashBucket(concat(lit("dsir_"), col("ng")),
          buckets).as("b"))
    // ONE flagged doc-bucket count table feeds all four consumers
    // (target counts, raw counts, totals, the per-doc join base). A
    // lazy localCheckpoint materializes it once inside the first
    // action — without it the corpus-sized tokenize+md5 pass ran FOUR
    // times (ReusedExchange never fires here: each consumer prunes
    // different columns, the round-13 LM-table lesson; measured 4×
    // regexp_extract_all in the plan; same-harness A/B at sf0.1:
    // min 2.92 s / spikes to 13 s without vs stable 1.61 s with —
    // the md5-per-element recompute is what tips this one to the
    // checkpoint, unlike the plain-tokenize LM family, SCALE.md).
    val dbt = feats.groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(
        df.where(targetPred).select(col(idCol)).withColumn("__t", lit(1)),
        Seq(idCol), "left")
      .transform(graft.functions.ExprUtils.barrier)
    val db = dbt.select(col(idCol), col("b"), col("c"))
    val tcnt = dbt.where(col("__t") === 1)
      .groupBy("b").agg(sum("c").as("ct"))
    val rcnt = db.groupBy("b").agg(sum("c").as("cr"))
    val tots = dbt.agg(
      sum(col("c")).as("tr"),
      coalesce(sum(when(col("__t") === 1, col("c"))), lit(0L)).as("tt"))
    val bD = lit(buckets.toLong)
    // tr/tt are one-row constants — grouping by them (in BOTH engines,
    // identically) lets the Δ term reference them un-aggregated
    val perDoc = db.join(tcnt, Seq("b"), "left")
      .join(rcnt, Seq("b"))
      .crossJoin(broadcast(tots))
      .groupBy(col(idCol), col("tr"), col("tt"))
      .agg(sum("c").as("n_feats"),
        round(
          sum(col("c") *
            (log((coalesce(col("ct"), lit(0L)) + 1).cast("double"))
              - log((col("cr") + 1).cast("double"))))
          + sum(col("c")) *
            (log((col("tr") + bD).cast("double"))
              - log((col("tt") + bD).cast("double"))), 4)
          .as("log_w"))
      .select(col(idCol), col("n_feats"), col("log_w"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** Interpolated Kneser–Ney TRIGRAM log-probability per document —
    * [[knBigramLogprob]] one order up, with the full KN recursion the
    * production (KenLM-style) model uses: the top level discounts raw
    * trigram counts, and the BACKOFF level uses CONTINUATION counts,
    * not raw counts (the modified-counts insight that distinguishes
    * KN from plain absolute discounting):
    *
    *   P₃(c|ab) = ( (c₃(abc) − D) + D·N₁₊(ab·)·P₂(c|b) ) / c₂(ab·)
    *   P₂(c|b)  = ( (ĉ(bc) − D) + D·N̂(b·)·Pc(c) ) / ĉ(b·)
    *
    * where ĉ(bc) = N₁₊(·bc) (distinct left contexts of the bigram —
    * one count per row of the distinct-trigram table grouped by
    * suffix), ĉ(b·)/N̂(b·) its per-context total/type count, and
    * Pc(c) = N₁₊(·c)/N₁₊(··) over those mid-level types. By default
    * all statistics derive from trigram-INTERIOR positions (no
    * sentence-boundary markers); `markers = true` opts into the
    * standard <s> <s> … </s> padding — both modes fully oracled
    * (llm_kn3_lm / llm_kn3_lm_bos share one parameterized text);
    * scoring only ever evaluates trigrams the corpus contains, whose
    * suffix bigrams therefore exist in every backoff table, so with
    * D < 1 no numerator clamps and no zero denominators arise (same
    * argument as the bigram operator). Σ_c P₃(c|ab) = 1 exactly —
    * the redistribution identity telescopes through both levels —
    * pinned in LlmSuite.
    *
    * Same skew-safe shape as the bigram operator: every table derives
    * from the PRE-COLLAPSED per-(doc, trigram) counts via
    * partial-aggregated groupBys and plain count(*) over
    * already-distinct tables (no Expand), joins are AQE-splittable
    * string-keyed equi joins (md5-long keys are the 100 TB swap, the
    * bigram note), the N₁₊(··) scalar rides the whitelisted one-row
    * broadcast crossJoin, and the arithmetic mirrors the oracle's
    * association and DOUBLE casts exactly. Docs with < 3 tokens
    * return NULL. docTg/c3/mid are lazily checkpointed: the three
    * tables fan out to six consumers whose pruned projections defeat
    * exchange reuse, so without the barrier the tokenize+count
    * lineage re-ran per consumer (28 AQE jobs). The round-13
    * "recompute cheaper" verdict was a count()-harness artifact (the
    * final unique-key left join was eliminated, taking the whole
    * perDoc chain with it); the round-15 noop re-measurement has the
    * checkpoint winning 2× (kn3_lm 3.24 → 1.60 s, 28 → 15 jobs;
    * kn3_lm_bos 10.67 → 2.56 s under identical load — NoopTime,
    * SCALE.md round 15). */
  def knTrigramLogprob(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75,
      markers: Boolean = false): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount=$discount must be in (0, 1)")
    // markers = true: the standard sentence-boundary convention —
    // every doc's token stream pads to <s> <s> w₁ … w_n </s>, so
    // initial words are scored in a boundary context and the LM
    // assigns mass to ending (the round-13 "trigram-INTERIOR only"
    // simplification becomes opt-out). The marker strings cannot
    // collide with real tokens ([a-z0-9]+ only) and carry no spaces,
    // so every substring_index/split_part derivation is unchanged.
    // Changing markers changes EVERY count table and the score of
    // every doc — the oracle is parameterized from one text
    // (kn3SqlFor, the ivfPqResSqlFor convention). With markers a
    // 1-token doc has trigrams (n+1 of them); only empty docs stay
    // NULL. The padded array is re-bound so the concat runs once per
    // row, not once per slice reference.
    def trigrams(t: Column): Column =
      zip_with(
        zip_with(slice(t, lit(1), size(t) - 2),
          slice(t, lit(2), size(t) - 2),
          (a, b) => concat(a, lit(" "), b)),
        slice(t, lit(3), size(t) - 2),
        (ab, c) => concat(ab, lit(" "), c))
    val tri = df.select(col(idCol),
      explode_outer(graft.functions.ExprUtils.bindOnce(
        tokens(col(textCol))) { t0 =>
        if (markers)
          when(size(t0) >= 1, graft.functions.ExprUtils.bindOnce(
            concat(array(lit("<s>"), lit("<s>")), t0,
              array(lit("</s>"))))(trigrams))
        else when(size(t0) >= 3, trigrams(t0))
      }).as("tg"))
      .where(col("tg").isNotNull)
    val docTg = tri.groupBy(col(idCol), col("tg"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.functions.ExprUtils.barrier)
    // distinct-trigram counts: the one table everything derives from
    val c3 = docTg.groupBy("tg").agg(sum("cnt").as("c3"))
      .transform(graft.functions.ExprUtils.barrier)
    def w(n: Int) = substring_index(col("tg"), " ", n)
    def wLast(n: Int) = substring_index(col("tg"), " ", -n)
    // top-level context (ab): raw total + distinct continuations
    val ctx2 = c3.withColumn("ab", w(2))
      .groupBy("ab").agg(sum(col("c3")).as("c2ab"),
        count(lit(1)).as("n3ab"))
    // mid level: continuation counts of the suffix bigram (bc) =
    // distinct left contexts = rows of c3 per suffix
    val mid = c3.withColumn("bc", wLast(2))
      .groupBy("bc").agg(count(lit(1)).as("chat_bc"))
      .transform(graft.functions.ExprUtils.barrier)
    // mid-level context (b): total + types over the ĉ table
    val midCtx = mid
      .withColumn("b", substring_index(col("bc"), " ", 1))
      .groupBy("b").agg(sum(col("chat_bc")).as("chat_b"),
        count(lit(1)).as("nhat_b"))
    // bottom: continuation probability over mid-level types
    val cont = mid
      .withColumn("c", substring_index(col("bc"), " ", -1))
      .groupBy("c").agg(count(lit(1)).as("n1c"))
    val nAll = mid.agg(count(lit(1)).cast("double").as("n_all"))
    val d = lit(discount)
    val p2Num = (col("chat_bc").cast("double") - d) +
      (d * col("nhat_b").cast("double")) *
        (col("n1c").cast("double") / col("n_all"))
    val p2 = p2Num / col("chat_b").cast("double")
    val p3Num = (col("c3").cast("double") - d) +
      (d * col("n3ab").cast("double")) * p2
    val p3 = p3Num / col("c2ab").cast("double")
    val perDoc = docTg.join(c3, "tg")
      .withColumn("ab", w(2))
      .withColumn("bc", wLast(2))
      .withColumn("c", wLast(1))
      .join(ctx2, "ab")
      .join(mid, "bc")
      .join(midCtx.withColumnRenamed("b", "__b"),
        substring_index(col("bc"), " ", 1) === col("__b"))
      .join(cont, "c")
      .crossJoin(broadcast(nAll))
      .groupBy(col(idCol))
      .agg(sum("cnt").as("n_trigrams"),
        round(sum(col("cnt") * log(p3)) / sum(col("cnt")), 4)
          .as("kn3_logprob"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  /** Unicode text normalization — the cleaning pass every pipeline
    * runs BEFORE fingerprinting/tokenizing: NFC canonical composition
    * (native [[graft.functions.NfcNormalizeExpr]] — composed and
    * decomposed é otherwise hash to different dedup fingerprints),
    * control/format characters mapped to spaces (Cc + Cf: zero-width
    * spaces, BOMs, bidi marks, and \n\t themselves — mapping rather
    * than deleting is the conservative word-boundary choice AND what
    * makes the pass IDEMPOTENT: deleting a Cf that sits between
    * spaces would mint a fresh whitespace run for a second pass to
    * collapse), then whitespace collapsed to single spaces, trimmed.
    * Map-only; the regexes stay in the Java-regex ∩ RE2 common
    * dialect (the PII lesson). Idempotence suite-pinned. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(
      graft.functions.NfcNormalizeExpr.nfc_normalize(text),
      "[\\p{Cc}\\p{Cf}]", " "), "\\s+", " "))

  /** Canonical content fingerprint: md5 of whitespace-normalized,
    * lowercased text — the exact-dedup key. trim runs AFTER the \s+
    * collapse: trim strips only spaces, so trimming first left a
    * trailing tab/newline to survive as a trailing space and split
    * identical documents into different fingerprints (review catch;
    * collapse-then-trim makes every boundary whitespace a plain
    * space first). */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Winnowing fingerprints (MOSS-style rolling selection): hash every
    * k-token shingle, slide a w-wide window over the positional hash
    * sequence, keep each window's minimum, distinct the picks. Two
    * documents sharing any sufficiently long passage are guaranteed to
    * share a fingerprint (the winnowing guarantee); at 100 TB the
    * selected set is ~2/(w+1) of the shingles — a compact, joinable
    * dedup/provenance key set. Shingle hash = first 8 md5 digest bytes
    * as a big-endian long (`TokenMd5Hash64Expr` — codegen'd, and
    * reproducible in DuckDB for the oracle). Fewer shingles than w →
    * one global minimum; no shingles → empty.
    *
    * The hash array is `bindOnce`-pinned: it is referenced by many
    * lambda subterms, and CollapseProject would otherwise re-evaluate
    * it per reference (SCALE.md lesson 1). */
  def winnowFingerprints(text: Column, k: Int = 4, w: Int = 4): Column = {
      // Positional (non-distinct) md5-longs of the k-gram shingles in
      // ONE native pass — bit-identical to the HOF chain it replaced
      // (shingle strings via element_at/concat_ws, then
      // TokenMd5Hash64Expr), which built every shingle string
      // interpreted per element.
      val hs = graft.functions.ShingleMd5Hash64Expr.shingle_md5_hash64(
        tokens(text), k, distinct = false)
      graft.functions.ExprUtils.bindOnce(hs) { h =>
        when(size(h) >= w,
          array_distinct(transform(sequence(lit(0), size(h) - w),
            i => array_min(slice(h, i + 1, lit(w))))))
          .otherwise(when(size(h) > 0, array(array_min(h)))
            .otherwise(array().cast("array<bigint>")))
      }
    }

  /** Repetition signals (Gopher-style filters): duplicate-token
    * fraction plus top bigram/trigram fractions — heavily repetitive
    * documents (boilerplate, keyword stuffing, generation loops) score
    * high and get filtered before training. Map-only: the fractions
    * are single codegen'd passes per row ([[graft.functions.TopShingleFreqExpr]]). */
  def repetitionSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val dupTok = graft.functions.ExprUtils.bindOnce(
      tokens(col(textCol))) { t =>
      when(size(t) > 0,
        round(lit(1) - size(array_distinct(t)) / size(t), 4))
        .otherwise(lit(0.0))
    }
    // coalesce: NULL text nulls the token array and thus the native
    // expression; the oracle's CASE..ELSE [] path yields 0.0, so the
    // engines must agree on 0.0 (and the row stays internally
    // consistent with dup_token_frac's 0.0)
    df.withColumn("dup_token_frac", dupTok)
      .withColumn("top_bigram_frac", coalesce(round(
        graft.functions.TopShingleFreqExpr
          .top_shingle_freq(tokens(col(textCol)), 2), 4), lit(0.0)))
      .withColumn("top_trigram_frac", coalesce(round(
        graft.functions.TopShingleFreqExpr
          .top_shingle_freq(tokens(col(textCol)), 3), 4), lit(0.0)))
  }

  /** PII patterns, restricted to the Java-regex ∩ RE2 common dialect
    * (no backrefs, no lookaround, explicit char classes) so the DuckDB
    * oracle reproduces matches exactly. Order matters for overlaps:
    * emails first (they contain dots and digits), then IPv4s, then
    * phone-ish digit runs — both engines apply the same order.
    * These constants are interpolated into single-quoted DuckDB string
    * literals (LlmQueries.piiSql escapes ' as '' on the way in). */
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val Ipv4Re =
    "\\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}" +
      "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b"
  final val PhoneRe = "\\+?[0-9][0-9()\\-\\s]{7,}[0-9]"

  /** PII scrubbing — the pretraining hygiene pass (C4/Pile-style):
    * redact emails, IPv4 addresses, and phone-ish digit runs with
    * typed placeholders. Map-only regexp chain: runs at scan speed at
    * any corpus size; counts come from the SAME patterns so the
    * audit trail matches the redaction exactly. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** Redacted text + per-kind counts. Each count is taken at ITS
    * redaction stage (emails on raw text, IPs on email-redacted text,
    * phones after both), so every count equals the number of
    * replacements that stage actually made — digits inside an email
    * local part never double-count as a phone.
    *
    * stage1/stage2 appear in several output columns of ONE collapsed
    * projection: top-level-projection subexpressions are deduplicated
    * by whole-stage-codegen CSE (the ProtoParseExpr precedent — this
    * is NOT the HOF-lambda trap bindOnce exists for). */
  def piiCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val stage1 = regexp_replace(col(textCol), EmailRe, "[EMAIL]")
    val stage2 = regexp_replace(stage1, Ipv4Re, "[IP]")
    df.withColumn("n_email",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))))
      .withColumn("n_ip",
        size(regexp_extract_all(stage1, lit(Ipv4Re), lit(0))))
      .withColumn("n_phone",
        size(regexp_extract_all(stage2, lit(PhoneRe), lit(0))))
      .withColumn("clean", regexp_replace(stage2, PhoneRe, "[PHONE]"))
  }

  // HTML boilerplate patterns — Java∩RE2 dialect like the PII set
  // (non-greedy + inline flags are in both; no backreferences or
  // lookaround). Tags must START with a letter so a bare "a < b" in
  // prose survives; script/style bodies go wholesale (their content —
  // including `<` and `&&` — is code, not text).
  final val HtmlScriptRe = "(?is)<script\\b[^>]*>.*?</script>"
  final val HtmlStyleRe = "(?is)<style\\b[^>]*>.*?</style>"
  final val HtmlCommentRe = "(?s)<!--.*?-->"
  final val HtmlTagRe = "(?s)</?[A-Za-z][^>]*>"

  /** HTML boilerplate stripping — the extraction step in front of
    * every crawl-derived corpus (C4/CCNet strip markup before any
    * dedup or quality pass): drop script/style/comment blocks, drop
    * tags (replaced by a space so `<p>a</p><p>b</p>` keeps its word
    * boundary), THEN decode the common entities — order matters, a
    * decoded `&lt;b&gt;` must surface as literal text, never as a
    * strippable tag — with `&amp;` decoded LAST so `&amp;lt;` round-
    * trips to the literal `&lt;` (the single-pass decode rule), and
    * collapse whitespace. Every stage is a codegen'd string function;
    * map-only. The DuckDB oracle runs the identical chain (RE2 needs
    * the explicit 'g' flag where Spark replaces globally). */
  def stripHtml(text: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(text, HtmlScriptRe, " "),
        HtmlStyleRe, " "),
      HtmlCommentRe, " ")
    val noTags = regexp_replace(noBlocks, HtmlTagRe, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (k, v)) =>
        org.apache.spark.sql.functions.replace(c, lit(k), lit(v))
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** URL canonicalization — the key derivation under URL-level dedup,
    * the FIRST dedup pass of a crawl pipeline (two fetches of one
    * page differ only in case/port/tracking noise): lowercase scheme
    * and host, strip a leading `www.`, strip the scheme's default
    * port, drop the fragment, strip `utm_*`/`fbclid`/`gclid` tracking
    * params (re-anchoring the query's `?` when the first param dies),
    * and strip trailing path slashes. Pure regexp_extract/replace
    * composition — group references are `$1` here and `\\1` in the
    * DuckDB oracle (the one dialect difference; patterns themselves
    * are Java∩RE2). A value without a `scheme://` passes through
    * UNCHANGED — garbage never silently collides on a mangled key. */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostRaw = lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host0 = regexp_replace(hostRaw, "^www\\.", "")
    val host = when(scheme === "http",
        regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val rest0 = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    // Leading tracking params FIRST: '?utm=..&utm2=..&real=..' →
    // '?real=..' — the '?' re-anchor happens only when a leading
    // param was actually stripped. The old unconditional
    // '^([^?&]*)&' → '$1?' rewrite mangled a legal literal '&' in a
    // query-less path (RFC 3986 path sub-delim): '/a&b' became
    // '/a?b', silently colliding distinct URLs (ADVICE r14; fixed in
    // BOTH engines — urlNormCtes carries the same two regexes).
    val rest1 = regexp_replace(rest0,
      "\\?((utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&)+", "?")
    val rest2 = regexp_replace(rest1,
      "[?&](utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*", "")
    val rest3 = regexp_replace(rest2, "/+(\\?|$)", "$1")
    val rest = regexp_replace(rest3, "\\?$", "")
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host, rest))
  }

  /** Context-window chunking — split documents into overlapping token
    * windows (`chunkSize` tokens every `stride`; stride < chunkSize
    * gives the standard training overlap).
    *
    * Exact window rule: ONE chunk per stride offset s = 0, stride,
    * 2·stride, … for every s < n_tokens — chunk i covers tokens
    * [i·stride, min(i·stride + chunkSize, n_tokens)). Tail windows are
    * emitted even when a previous window already covered their tokens
    * (100 tokens at size 64 / stride 48 → chunks at 0, 48, 96; the
    * 4-token chunk 2 is fully contained in chunk 1). The rule is
    * deliberately positional, not coverage-minimal: chunk_id stays a
    * pure function of (offset, stride) and the layout never depends on
    * neighboring windows. The oracle and suite pin exactly this.
    * One row per chunk with a deterministic `chunk_id`. Map-only
    * explode: no shuffle, and the chunk layout is a pure function of
    * the text, so it is reproducible across engines/partitionings. */
  def chunkTokens(df: DataFrame, chunkSize: Int = 64, stride: Int = 48,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkSize >= 1 && stride >= 1,
      s"chunkSize=$chunkSize and stride=$stride must be >= 1")
    // bindOnce: the token array feeds every struct field of every
    // window (SCALE.md lesson 1)
    val chunks = graft.functions.ExprUtils.bindOnce(
      tokens(col(textCol))) { t =>
      when(size(t) > 0,
        transform(sequence(lit(0), size(t) - 1, lit(stride)),
          s => struct(
            (s / stride).cast("int").as("chunk_id"),
            concat_ws(" ", slice(t, s + 1, lit(chunkSize))).as("chunk_text"),
            size(slice(t, s + 1, lit(chunkSize))).as("n_tokens"))))
        .otherwise(array().cast(
          "array<struct<chunk_id:int,chunk_text:string,n_tokens:int>>"))
    }
    // explode_outer + null test on the GENERATED column: plain
    // explode's implicit size/notnull filter re-runs the whole chunk
    // build per predicate term (the Dedup.shingleInv lesson)
    df.select(col(idCol).as("doc_id"), explode_outer(chunks).as("c"))
      .where(col("c").isNotNull)
      .select(col("doc_id"), col("c.chunk_id"), col("c.chunk_text"),
        col("c.n_tokens"))
  }

  /** Per-document NOVELTY scoring — the memorization/redundancy
    * metric: the fraction of a doc's distinct n-gram shingles whose
    * GLOBAL first owner (minimum doc id over the whole corpus) is the
    * doc itself. An exact copy scores 0 (its original owns every
    * shingle), a tail-extended near-copy scores ≈ the tail's share,
    * fresh text scores ≈ 1 — the soft counterpart of the dedup
    * operators, usable as a downweighting signal where dropping is
    * too blunt. Output: (idCol, n_shingles, n_novel, novelty); docs
    * with fewer than `n` tokens have no shingles and are absent.
    *
    * Scale shape (the [[typicality]] playbook, on shingles): md5-long
    * hashed shingles (cross-engine, [[Dedup.shingleSetsMd5]]) explode
    * to an inverted index; the owner table is a partial-aggregated
    * groupBy(shingle) min; the join back is a skewed-probe vs
    * one-row-per-key build (a stopword shingle in every doc is the
    * hot key) — AQE's case, same as the line-dedup and typicality
    * joins; the per-doc rollup partial-aggregates. No window, no
    * all-pairs anywhere. */
  def noveltyScores(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    // Two consumers (owner + the join back) would each re-run the
    // md5-shingle explode — exactly the md5-grade recompute the
    // round-13 discriminator says to checkpoint (the llm_dsir case).
    val inv = Dedup.shingleSetsMd5(df, idCol, textCol, n)
      .select(col("id"), explode_outer(col("sh")).as("s"))
      .where(col("s").isNotNull)
      .transform(graft.functions.ExprUtils.barrier)
    val owner = inv.groupBy("s").agg(min("id").as("owner"))
    inv.join(owner, Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") === col("id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel") / col("n_shingles"), 4).as("novelty"))
  }

  /** Per-document top-`topN` terms by tf-idf — the classic
    * keyword/topic signal (and the retrieval-side complement of
    * [[typicality]]'s rarity scoring): score(term, doc) =
    * tf(term, doc) · ln(N / df(term)). Output one row per kept term:
    * (idCol, term, tf, df, tfidf, rank); docs with no word tokens
    * emit nothing.
    *
    * Scale shape — the typicality playbook verbatim: per-(doc, term)
    * counts partial-aggregate the raw occurrences (the doc id in the
    * key spreads the Zipf head); document frequency derives from the
    * PRE-COLLAPSED counts (one row per containing doc); the df
    * join-back is keyed (AQE-splittable), never a window-by-term; the
    * corpus doc count rides as a broadcast one-row aggregate. The
    * only window partitions by DOC — bounded by a doc's distinct
    * terms, not the corpus. Ranking uses the ROUNDED score (term-asc
    * ties) so rank is reproducible cross-engine. */
  def tfidfTopTerms(df: DataFrame, topN: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("term"))
      .where(col("term").isNotNull)
    // Two consumers (dfreq + the scored join) with different pruned
    // projections — exchange reuse never fires, so the lazy
    // checkpoint runs the tokenize+count lineage once (the round-15
    // LM-family noop re-measurement, SCALE.md round 15).
    val docTerm = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.functions.ExprUtils.barrier)
    val dfreq = docTerm.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(
      sum(when(size(tokens(col(textCol))) > 0, 1L).otherwise(0L))
        .as("n_docs"))
    val scored = docTerm.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") *
        log(col("n_docs").cast("double") / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topN)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /** Corpus-drift report: per-language Jensen–Shannon divergence
    * between the token distributions of two corpus slices (side 0 vs
    * side 1 of `sideCol` — crawl snapshots, sources, time windows).
    * JS = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m) with m = (p+q)/2, terms with
    * zero mass contributing zero — bounded by ln 2, symmetric, and
    * finite even on disjoint vocabularies, which is why it is the
    * standard distribution-shift monitor for training-data pipelines.
    * Output: (lang, n_tokens_a, n_tokens_b, n_terms, js_div).
    *
    * Scale shape: ONE pass over raw occurrences into a
    * partial-aggregated groupBy(lang, term) with conditional sums per
    * side (the Zipf head collapses map-side); per-language totals
    * derive from the pre-collapsed table and join back on the tiny
    * lang key (broadcast); the final rollup partial-aggregates. No
    * window, no driver materialization, nothing corpus-sized in one
    * task. */
  def tokenDrift(df: DataFrame, sideCol: Column,
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val toks = df.select(col(langCol).as("lang"), sideCol.as("side"),
      explode_outer(tokens(col(textCol))).as("term"))
      .where(col("term").isNotNull)
    // jsFromCounts consumes cnts twice (totals + the join) — the lazy
    // checkpoint runs the tokenize+count lineage once (round-15
    // noop re-measurement; StreamingDrift supplies its own cnts from
    // the reference store, so the barrier lives here, not there).
    val cnts = toks.groupBy("lang", "term")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") =!= 0, 1L).otherwise(0L)).as("cb"))
      .transform(graft.functions.ExprUtils.barrier)
    jsFromCounts(cnts)
  }

  /** Per-language JS divergence from a `(lang, term, ca, cb)` counts
    * frame — the math half of [[tokenDrift]], shared with
    * [[graft.streaming.StreamingDrift]] (which supplies side A from a
    * persistent reference store and side B from a micro-batch). */
  private[graft] def jsFromCounts(cnts: DataFrame): DataFrame = {
    val tots = cnts.groupBy("lang")
      .agg(sum("ca").as("ta"), sum("cb").as("tb"))
    // A language with ZERO total mass on one side (e.g. a brand-new
    // language in a StreamingDrift batch, absent from the reference
    // store) makes the bare ratio 0/0 = NULL — and that NULL rides
    // inside the OTHER side's denominator (p+q), nulling js_div for
    // exactly the language-flip case the monitor exists to catch.
    // Guarded, p=0 there and the math stays finite: each present term
    // contributes ½·q·ln(2q/q) = ½·q·ln 2, so a fully one-sided
    // language reports js_div = ln2/2 ≈ 0.3466 — the p-side KL term of
    // the empty measure is zero by convention, and ln2/2 is the
    // formula's ceiling for a zero-mass side (well above the
    // zero-drift baseline, which is what the monitor needs).
    val p = when(col("ta") > 0, col("ca") / col("ta")).otherwise(lit(0.0))
    val q = when(col("tb") > 0, col("cb") / col("tb")).otherwise(lit(0.0))
    // p/m = 2p/(p+q): no epsilon games — the CASE guards kill the
    // zero-mass terms before the log ever sees a 0.
    val contrib =
      when(col("ca") > 0, lit(0.5) * p * log(lit(2.0) * p / (p + q)))
        .otherwise(lit(0.0)) +
      when(col("cb") > 0, lit(0.5) * q * log(lit(2.0) * q / (p + q)))
        .otherwise(lit(0.0))
    cnts.join(broadcast(tots), "lang")
      .groupBy("lang")
      .agg(max("ta").as("n_tokens_a"), max("tb").as("n_tokens_b"),
        count(lit(1)).as("n_terms"),
        round(sum(contrib), 4).as("js_div"))
  }

  /** Word n-gram shingles from a MATERIALIZED token array column.
    * `toks` must be a plain column reference, not the `tokens(text)`
    * expression: an inlined expression would be re-evaluated at every
    * `element_at` inside the lambda (≈ 3×|shingles| full-text regex
    * scans per document — measured 3× query slowdown at sf0.1).
    * Guarded: Spark's `sequence` counts DOWN when start > stop, so
    * short docs short-circuit to an empty array. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Per-document Shannon entropies — the Gopher-family gibberish
    * signal the ratio features miss: keyboard-mash and repeated-char
    * junk reads LOW character entropy while base64/hex blobs read
    * HIGH; template spam reads LOW token entropy at normal char
    * entropy. Output: (idCol, char_entropy, token_entropy), natural
    * log, 4dp, empty docs read 0.0.
    *
    * Shape: the typicality playbook — explode, per-(doc, unit)
    * partial-aggregated counts, one groupBy(doc) with the
    * H = ln n − Σ cnt·ln cnt / n identity (one pass, no per-doc
    * probability materialization), join the two unit families back on
    * the id. Everything is doc-bounded; no windows. */
  def entropySignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // Native per-row expressions (round 15): per-document entropy
    // needs no distribution — the old explode → two-level groupBy →
    // join-back chain (kept below as the suite's cross-implementation
    // reference) paid 2 explodes (one row per CHARACTER of the
    // corpus), 4 exchanges and 2 joins for a per-row computation.
    // Map-only now; zero exchanges (plan-pinned in its suite test).
    df.select(col(idCol),
      coalesce(round(graft.functions.EntropyExpr
        .char_entropy(col(textCol)), 4), lit(0.0)).as("char_entropy"),
      coalesce(round(graft.functions.EntropyExpr
        .token_entropy(col(textCol)), 4), lit(0.0)).as("token_entropy"))

  /** The distributed chain [[entropySignals]] replaced — kept as the
    * cross-implementation test reference (EntropyExpr ≡ this chain,
    * suite-pinned incl. surrogate-pair and empty/null edge cases). */
  private[graft] def entropySignalsChain(df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def entropyOf(unit: Column, outCol: String): DataFrame =
      df.select(col(idCol), explode_outer(unit).as("u"))
        .where(col("u").isNotNull && col("u") =!= "")
        .groupBy(col(idCol), col("u")).agg(count(lit(1)).as("cnt"))
        .groupBy(col(idCol))
        .agg(round(
          log(sum("cnt")) - sum(col("cnt") * log(col("cnt"))) / sum("cnt"),
          4).as(outCol))
    val chars = entropyOf(split(col(textCol), ""), "char_entropy")
    val toks = entropyOf(tokens(col(textCol)), "token_entropy")
    df.select(col(idCol))
      .join(chars, Seq(idCol), "left")
      .join(toks, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("char_entropy"), lit(0.0)).as("char_entropy"),
        coalesce(col("token_entropy"), lit(0.0)).as("token_entropy"))
  }
}
