package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash-groupBy), n-gram Jaccard
  * (inverted-index join), MinHash+LSH (signature → band → bucket
  * join), SimHash (hamming bands), embedding-cosine near-dup.
  *
  * Scale stance (100 TB): nothing here compares all pairs. Exact dedup
  * is one hash-partitioned groupBy on a 32-byte key; Jaccard joins
  * only docs sharing a shingle, with a document-frequency cap to
  * bound hot-shingle skew; MinHash/SimHash bucket by band key so the
  * candidate join is per-bucket; embedding dedup blocks on a key.
  */
object Dedup {

  /** Exact dedup: group by content fingerprint; keep the min doc_id
    * (deterministic representative), count the copies. */
  def exact(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Line-level exact dedup (C4/CCNet-style boilerplate removal):
    * every line whose normalized content already appeared earlier in
    * the corpus — at a lower (doc, position) — is removed; each
    * distinct line survives exactly once, at its globally-first
    * occurrence, and documents are reassembled from their surviving
    * lines in order. Document-level dedup cannot touch this: two docs
    * sharing only a navigation header are nowhere near any whole-doc
    * threshold, yet at corpus scale that header is millions of copies
    * of boilerplate. Lines whose NORMALIZED form is empty (blank or
    * whitespace-only) are exempt — they are formatting, and collapsing
    * every blank line in the corpus onto one document would mangle all
    * the others.
    *
    * Output: one row per input doc — (idCol, text_dedup, n_removed);
    * a doc losing every line keeps an empty `text_dedup`.
    *
    * 100 TB shape: split + outer-posexplode is map-only; the
    * first-occurrence frame is ONE partial-aggregated groupBy on the
    * line fingerprint taking the min of a (doc, pos) struct — a
    * groupBy, not a window, so a footer shared by millions of docs
    * combines map-side instead of sorting onto one reducer; the keep
    * test is a shuffle join back on the fingerprint, where that same
    * hot line is a skewed PROBE key against a one-row build group —
    * AQE's skew-join split is the designed handler (blank lines skip
    * the join entirely: the exempt fingerprint is filtered out of the
    * build side, so they fall out of the left join as keep=true).
    * Reassembly is one groupBy on the doc id, bounded per group by
    * document length. Nothing broadcasts the corpus and nothing is
    * quadratic. The fingerprint is coalesced before riding the join:
    * posexplode_outer makes the line column nullable, and a nullable
    * expression in a join key makes Catalyst infer isnotnull(<expr>)
    * and re-run the md5 chain inside the scan filter (SCALE.md
    * round-6 re-inline lesson). */
  /** md5 of the normalized empty string — the line-dedup exempt
    * fingerprint (blank separator lines are structure, not
    * boilerplate). */
  private[graft] val EmptyLineFp = "d41d8cd98f00b204e9800998ecf8427e"

  /** The per-line table both the batch and streaming line dedup build
    * on: one row per (doc, position) with the normalized-line md5
    * fingerprint. */
  private[graft] def lineTable(df: DataFrame, idCol: String,
      textCol: String, sep: String): DataFrame =
    df.select(col(idCol), posexplode_outer(split(
        coalesce(col(textCol), lit("")), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "pos", "line")
      .withColumn("fp",
        coalesce(TextAnalysis.fingerprint(col("line")), lit("")))

  /** Reassemble per-doc text from a line table carrying a boolean
    * `keep` column: kept lines re-join in position order, dropped
    * lines are counted. Shared by batch and streaming line dedup so
    * the output contract cannot drift. */
  private[graft] def reassembleLines(lines: DataFrame, idCol: String,
      sep: String): DataFrame =
    lines.groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("line"))))),
          x => x("line"))).as("text_dedup"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))

  def dedupLines(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\n"): DataFrame = {
    val lines = lineTable(df, idCol, textCol, sep)
    val firsts = lines.where(col("fp") =!= EmptyLineFp)
      .groupBy("fp")
      .agg(min(struct(col(idCol), col("pos"))).as("first"))
    reassembleLines(
      lines.join(firsts, Seq("fp"), "left")
        .withColumn("keep", col("first").isNull ||
          struct(col(idCol), col("pos")) === col("first")),
      idCol, sep)
  }

  /** Distinct HASHED shingle set per doc: (id, sh: array<long>, sz).
    *
    * Shingle strings are never built: tokens hash once to longs, and a
    * shingle hash is `xxhash64` over the n token hashes — pure long
    * arithmetic. This matters twice over: (a) string n-gram
    * construction was the measured hot spot, and (b) CollapseProject
    * inlines a multi-referenced alias into every consumer (filter +
    * h32 + signature all re-evaluated the full shingle expression —
    * observed in the optimized plan), so the expression must be cheap
    * even when duplicated. Jaccard over hashed sets equals Jaccard
    * over string sets modulo ~1e-8 64-bit collisions. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.HashedShinglesExpr.hashed_shingles(
        TextAnalysis.tokens(col(textCol)), n).as("sh"))

  /** The pure-`functions._` shingle chain the native expression
    * replaced (kept as the cross-implementation test reference —
    * HashedShinglesExprSuite asserts bit-identical output). */
  private[graft] def shingleSetsHof(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val th = transform(TextAnalysis.tokens(col(textCol)), t => xxhash64(t))
    // bindOnce: CollapseProject would otherwise inline the token-hash
    // expression into every element_at below (≈3×|shingles| full
    // re-tokenizations per doc — see ExprUtils.bindOnce).
    val sh = graft.functions.ExprUtils.bindOnce(th) { t =>
      when(size(t) >= n,
        array_distinct(transform(
          sequence(lit(0), size(t) - n),
          i => xxhash64((0 until n).map(j =>
            element_at(t, i + j + 1)): _*))))
        .otherwise(array().cast("array<bigint>"))
    }
    df.select(col(idCol).as("id"), sh.as("sh"))
  }

  /** N-gram Jaccard near-dup pairs via inverted index:
    * explode shingles → drop shingles with document frequency >
    * `maxDf` (hot-key cap: a stopword-ish shingle shared by millions
    * of docs would otherwise create a quadratic join) → self-join per
    * shingle, with the LENGTH bound riding IN the join condition —
    * J ≥ t forces min(|a|,|b|) ≥ t·max(|a|,|b|), so mismatched-length
    * pairs die at the probe instead of flowing through the aggregate
    * (measured 2-4× on the 10× corpus; output identical) → count
    * common → Jaccard from set sizes. Emits pairs `id_a < id_b` with
    * `jaccard >= threshold`.
    *
    * Why count-common verify and not candidate-pairs + payload
    * join-back (the minhash shape): on a corpus of short documents
    * sharing common phrases, pairs-sharing-ANY-shingle outnumber true
    * near-dups by 4000× (measured: 40 M co-occurring pairs for 10 k
    * near-dups at the 10× probe) — a verify join-back would ship two
    * shingle ARRAYS per candidate (~20 GB) where this shape ships
    * only narrow count rows through one partial-aggregated shuffle.
    * Prefix filtering (Bayardo et al., WWW'07) halves candidates but
    * forces exactly that payload verify — measured 7× slower end to
    * end here (SCALE.md round-5 note). Banding schemes (MinHash
    * below) are the honest lever when candidate volume explodes. */
  def ngramJaccardPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, threshold: Double = 0.6,
      maxDf: Int = 1000): DataFrame = {
    // coalesce makes sz provably non-null: sz rides the length-bound
    // JOIN condition, so Catalyst otherwise infers isnotnull(size(sh))
    // and pushes it into the scan filter — re-running the shingle pass
    // there (empty docs never reach the join anyway: their null
    // exploded rows die in shingleInv).
    val sets = shingleSets(df, idCol, textCol, n)
      .withColumn("sz", coalesce(size(col("sh")), lit(0)))
    // Inverted index on the hashed shingles: the join/shuffle key is a
    // long, not a multi-word string.
    val inv = shingleInv(sets)
    // Hot-shingle cap: a stopword-ish shingle shared by millions of
    // docs would otherwise create a quadratic join (dropHotKeys).
    val capped = dropHotKeys(inv, Seq("h"), maxDf)
    // True self-join (same plan on both sides) → Spark reuses the
    // shuffle exchange instead of recomputing the whole lineage twice.
    // The bound uses t − 6e-5, not t: the output filter compares the
    // 4-decimal ROUNDED jaccard, which admits pairs with true
    // J ≥ t − 5e-5, and those satisfy only min ≥ (t − 5e-5)·max. The
    // looser bound (plus double-arithmetic headroom) can only ADMIT
    // extra candidates — never drop a pair the rounded filter keeps.
    val tEff = threshold - 6e-5
    capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("b.sz") >= col("a.sz") * tEff &&
          col("a.sz") >= col("b.sz") * tEff)
      .groupBy(col("a.id"), col("b.id"), col("a.sz"), col("b.sz"))
      .agg(count(lit(1)).as("common"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("common") /
          (col("a.sz") + col("b.sz") - col("common")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** N-gram CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ threshold —
    * the asymmetric companion to [[ngramJaccardPairs]], catching a
    * document fully (or mostly) CONTAINED in a larger one: quoted
    * passages, boilerplate inclusions, tail-extended copies — pairs
    * whose Jaccard is low precisely because the sizes differ, which
    * the Jaccard length bound (min ≥ t·max) deliberately discards.
    * Same inverted-index shape and count-common verify; NO length
    * bound can ride this join (size asymmetry is the signal), so the
    * `maxDf` hot-shingle cap is the load-bearing scale lever here —
    * a stopword-ish shingle's quadratic candidate tail has no other
    * guard in the containment setting.
    *
    * Like [[ngramJaccardPairs]], common/sz count xxhash64-HASHED
    * shingles while the DuckDB oracle joins raw trigram strings (the
    * accepted minhash precedent — 1035 vs 1036 candidates): a 64-bit
    * collision shrinks a set on the Spark side only, and because the
    * denominator here is least(|A|,|B|), a single collision weighs
    * proportionally MORE on short documents than under Jaccard's
    * union denominator — none observed in the fixtures (both SFs
    * hash-match). */
  def ngramContainmentPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, threshold: Double = 0.9,
      maxDf: Int = 1000): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
      .withColumn("sz", coalesce(size(col("sh")), lit(0)))
    val inv = shingleInv(sets)
    val capped = dropHotKeys(inv, Seq("h"), maxDf)
    capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id"), col("b.id"), col("a.sz"), col("b.sz"))
      .agg(count(lit(1)).as("common"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("common") / least(col("a.sz"), col("b.sz")), 4)
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Verbatim duplicate-passage SPANS — exact-substring dedup at the
    * PASSAGE level (the Lee et al. "Deduplicating Training Data Makes
    * Language Models Better" signal): the doc-level family above says
    * two documents overlap; this says WHERE and HOW LONG, so a
    * pipeline can cut the repeated passage instead of dropping whole
    * documents. Emits one row per maximal verbatim run of
    * ≥ `minTokens` tokens shared by a document pair, with the
    * token-offset start in each doc.
    *
    * Shape: positional md5-long k-gram hashes (the winnow hash —
    * DuckDB-reproducible, so the WHOLE pipeline carries a
    * cross-engine oracle) → `maxDf` hot-hash cap (boilerplate
    * k-grams shared by everything would square the match join — the
    * ngram/containment lever) → self-join on hash for positional
    * matches → gaps-and-islands on (pair, posA−posB): consecutive
    * positions at a fixed alignment are ONE verbatim run, detected
    * with a row_number window PARTITIONED BY (pair, alignment) —
    * bounded by document length, never by corpus size (not the
    * typicality Zipf hazard). A run of m consecutive k-grams is
    * m + k − 1 verbatim tokens.
    *
    * Output: (id_a, id_b, a_start, b_start, n_tokens), id_a < id_b,
    * 0-based token offsets; a doc pair sharing several distinct
    * passages (or the same passage at several alignments) emits one
    * row per run. */
  def duplicateSpans(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, minTokens: Int = 16,
      maxDf: Int = 1000): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(minTokens >= k,
      s"minTokens=$minTokens must be >= k=$k (a single matching " +
        "k-gram already witnesses k verbatim tokens)")
    val capped = dropHotKeys(positionalHashes(df, idCol, textCol, k),
      Seq("h"), maxDf)
    val m = capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.p").as("pa"), (col("a.p") - col("b.p")).as("diff"))
    runsFromMatches(m, k, minTokens)
  }

  /** Cross-frame duplicate-passage spans: maximal verbatim runs of
    * ≥ `minTokens` tokens that a `docs` document shares with ANY
    * `ref` document — the [[duplicateSpans]] machinery with the
    * self-join replaced by a docs×ref hash join. Output shape is
    * IDENTICAL to [[duplicateSpans]] with the ref doc as the `id_a`
    * side (a_start = offset in the ref doc) and the corpus doc as
    * `id_b` (b_start = offset in it), so [[cutSpans]] consumes the
    * result unchanged — the cut falls on the CORPUS doc, whatever the
    * two frames' id spaces are (they may overlap: a doc matching
    * itself across frames emits its full-length span, the
    * benchmark-in-corpus case).
    *
    * Scale shape: ref (a benchmark/blocklist frame) is small by
    * definition, so its positional index is the join's build side;
    * the corpus side carries the `maxDf` hot-hash cap — boilerplate
    * k-grams shared corpus-wide would otherwise fan out against every
    * ref occurrence. */
  def duplicateSpansAgainst(docs: DataFrame, ref: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 8,
      minTokens: Int = 16, maxDf: Int = 1000): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(minTokens >= k,
      s"minTokens=$minTokens must be >= k=$k")
    val posD = dropHotKeys(positionalHashes(docs, idCol, textCol, k),
      Seq("h"), maxDf)
    val posR = positionalHashes(ref, idCol, textCol, k)
    val m = posR.as("a").join(posD.as("b"), col("a.h") === col("b.h"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.p").as("pa"), (col("a.p") - col("b.p")).as("diff"))
    runsFromMatches(m, k, minTokens)
  }

  /** Positional k-gram md5-long hashes, exploded to (id, p, h) rows.
    * posexplode_OUTER, then drop the null rows AFTER the generate:
    * plain posexplode adds an implicit `size(hs) > 0 AND hs IS NOT
    * NULL` filter that pushdown re-inlines BELOW the projection's
    * exchange — the whole shingle-hash pass re-evaluates per
    * predicate term in a separate stage (measured 3× per row per
    * side; the bindOnce lesson in pushdown clothing). The outer
    * generate has no implicit filter; the null check on the
    * GENERATED column is a per-row long test. */
  private def positionalHashes(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.ShingleMd5Hash64Expr.shingle_md5_hash64(
        TextAnalysis.tokens(col(textCol)), k, distinct = false).as("hs"))
      .select(col("id"), posexplode_outer(col("hs")))
      .toDF("id", "p", "h")
      .where(col("h").isNotNull)

  /** Gaps-and-islands over positional matches (id_a, id_b, pa, diff):
    * consecutive a-positions at a fixed alignment are ONE verbatim
    * run; the window is PARTITIONED BY (pair, alignment) — bounded by
    * document length, never corpus size. A run of m consecutive
    * k-grams is m + k − 1 verbatim tokens. */
  private def runsFromMatches(m: DataFrame, k: Int,
      minTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "diff").orderBy("pa")
    m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "diff", "isl")
      .agg(min(col("pa")).as("a_min"), max(col("pa")).as("a_max"))
      .select(col("id_a"), col("id_b"),
        col("a_min").cast("long").as("a_start"),
        (col("a_min") - col("diff")).cast("long").as("b_start"),
        (col("a_max") - col("a_min") + k).cast("long").as("n_tokens"))
      .where(col("n_tokens") >= minTokens)
  }

  /** Cut duplicated passages OUT of documents — the second half of
    * passage-level dedup: [[duplicateSpans]] says WHERE two docs share
    * a verbatim run; this removes each run from the HIGHER-id doc
    * (greedy keep-lowest-id, the exact-dedup representative rule —
    * the passage survives in the id_a side), so near-copies shrink to
    * their novel remainder instead of being dropped whole.
    *
    * Contract: spans are TOKEN offsets of this engine's canonical
    * `[a-z0-9]+` lowercase token stream, so `text_cut` is the
    * token-level reconstruction (lowercased, punctuation-free) — the
    * same stream every downstream operator here consumes (token
    * counts, fingerprints, packing). Docs with no spans pass through
    * with `text_cut` = their own token reconstruction (n_removed 0),
    * keeping the column comparable corpus-wide.
    *
    * Shape: per-doc interval merge (overlapping cut ranges union) via
    * a running-max window PARTITIONED BY doc — bounded by a doc's
    * span count, never corpus size; merged intervals collect to ONE
    * array per doc and join back to the corpus (left join — spans
    * frames are tiny next to the corpus); the cut itself is a
    * map-only filter over the token array. Deterministic regardless
    * of window tie order: islands depend only on the interval SET.
    *
    * `keep` threads extra `docs` columns (language, source, ...)
    * through to the output unchanged — composed pipelines need their
    * metadata on the cut rows without a second corpus join. */
  def cutSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      keep: Seq[String] = Nil): DataFrame = {
    val iv = spans.select(col("id_b").as("id"), col("b_start").as("s"),
      (col("b_start") + col("n_tokens")).as("e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("s")
    val withMax = iv.withColumn("prev_max", max(col("e")).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)))
    val grp = withMax
      .withColumn("ni", when(col("prev_max").isNull ||
        col("s") > col("prev_max"), 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
    val merged = grp.groupBy(col("id"), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivs = merged.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    docs.join(ivs, docs(idCol) === ivs("id"), "left")
      .select(docs(idCol) +: keep.map(docs(_)) :+ col(textCol) :+
        col("ivs"): _*)
      .select(col(idCol) +: keep.map(col) :+
        // native cut loop (round 15): the HOF chain (kept below as
        // cutSpansHof, the suite's cross-implementation reference)
        // evaluated its lambdas interpreted, per token × per interval
        graft.functions.CutTokensExpr.cut_tokens(
          TextAnalysis.tokens(col(textCol)), col("ivs")).as("c"): _*)
      .select(col(idCol) +: keep.map(col) :+ col("c.text_cut") :+
        col("c.n_removed"): _*)
  }

  /** The pure-`functions._` cut chain [[cutSpans]]' native expression
    * replaced — kept as the cross-implementation test reference
    * (CutTokensExprSuite-style pin lives in LlmSuite: native ≡ this
    * chain on the fixture incl. null text, span-less docs, and
    * everything-cut docs). Same signature and output. */
  private[graft] def cutSpansHof(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      keep: Seq[String] = Nil): DataFrame = {
    val iv = spans.select(col("id_b").as("id"), col("b_start").as("s"),
      (col("b_start") + col("n_tokens")).as("e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("s")
    val withMax = iv.withColumn("prev_max", max(col("e")).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)))
    val grp = withMax
      .withColumn("ni", when(col("prev_max").isNull ||
        col("s") > col("prev_max"), 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
    val merged = grp.groupBy(col("id"), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivs = merged.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    docs.join(ivs, docs(idCol) === ivs("id"), "left")
      .select(docs(idCol) +: keep.map(docs(_)) :+ col(textCol) :+
        col("ivs"): _*)
      .select(col(idCol) +: keep.map(col) :+
        graft.functions.ExprUtils.bindOnce(
          TextAnalysis.tokens(col(textCol))) { t =>
          // guard: Spark's sequence counts DOWN when start > stop, so
          // an empty token array would yield [0, -1], not []
          val keptIdx = filter(
            when(size(t) > 0, sequence(lit(0), size(t) - 1))
              .otherwise(array().cast("array<int>")), i =>
            when(col("ivs").isNull, lit(true)).otherwise(
              !exists(col("ivs"), v =>
                i >= v.getField("s") && i < v.getField("e"))))
          struct(
            concat_ws(" ", transform(keptIdx,
              i => element_at(t, (i + 1).cast("int")))).as("text_cut"),
            when(size(t) > 0,
              (size(t) - size(keptIdx)).cast("long")).otherwise(lit(0L))
              .as("n_removed"))
        }.as("c"): _*)
      .select(col(idCol) +: keep.map(col) :+ col("c.text_cut") :+
        col("c.n_removed"): _*)
  }

  /** Distinct hashed shingle sets with md5-LONG shingle hashes
    * (first 8 digest bytes of the shingle STRING, big-endian): the
    * cross-engine-reproducible twin of [[shingleSets]] — DuckDB can
    * rebuild the exact hashes from `md5(shingle)` hex, which xxhash64
    * cannot offer. Used by the oracled MinHash variant. */
  private[graft] def shingleSetsMd5(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.ShingleMd5Hash64Expr.shingle_md5_hash64(
        TextAnalysis.tokens(col(textCol)), n, distinct = true).as("sh"))

  /** Deterministic MinHash parameters — delegates to the ONE shared
    * derivation (`MinHashSignatureExpr.params`) so the native
    * expression, this HOF form, and the DuckDB oracle literals can
    * never desynchronize. */
  private val P = graft.functions.MinHashSignatureExpr.P
  private[graft] def minhashParams(k: Int, seed: Long): Seq[(Long, Long)] =
    hashParams(k, seed)
  private def hashParams(k: Int, seed: Long): Seq[(Long, Long)] = {
    val (a, b) = graft.functions.MinHashSignatureExpr.params(k, seed)
    a.zip(b).toSeq
  }

  /** MinHash signature from raw 64-bit shingle hashes (any sign): each
    * hash folds to [0, P) and each of `k` affine functions takes the
    * min of (a*h+b) mod P, in a single aggregate pass. This is the
    * pure-`functions._` form, kept for reference/SQL-only contexts;
    * `minhashLshPairs` uses the native `MinHashSignatureExpr`
    * (identical semantics, one imperative pass, no per-element
    * boxing). Empty set → NULL sig. */
  def minhashSignature(hashes: Column, k: Int = 32, seed: Long = 42L): Column = {
    val params = hashParams(k, seed)
    val aArr = array(params.map(p => lit(p._1)): _*)
    val bArr = array(params.map(p => lit(p._2)): _*)
    val sig = aggregate(hashes,
      array_repeat(lit(P), k),
      (acc, h) => zip_with(zip_with(aArr, bArr,
          (a, b) => pmod(a * pmod(h, lit(P)) + b, lit(P))), acc,
        (cand, cur) => least(cand, cur)))
    when(size(hashes) > 0, sig).otherwise(lit(null))
  }

  /** MinHash+LSH near-dup pairs: signature → `bands` band keys →
    * per-band bucket join for candidates → exact Jaccard verify.
    * Candidates are only pairs agreeing on a full band (standard LSH
    * guarantee), so the join is bucket-local — the scale path. */
  def minhashLshPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.6, seed: Long = 42L): DataFrame =
    lshPairsFromSets(shingleSets(df, idCol, textCol, n), k, bands,
      threshold, seed, exactBandKey = false)

  /** The oracle-reproducible MinHash variant: md5-long shingle hashes
    * ([[shingleSetsMd5]]) and EXACT string band keys (the raw
    * `_`-joined signature slice) instead of their murmur3 hash —
    * every step is then rebuildable in standard SQL, so the full
    * signature → band → candidate → Jaccard-verify pipeline gets a
    * cross-engine correctness check rather than a rows-only one.
    * String keys cost a wider shuffle key than the hashed long
    * (~40 bytes vs 8); the default operator keeps the hashed key. */
  def minhashLshPairsMd5(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.6, seed: Long = 42L): DataFrame =
    lshPairsFromSets(shingleSetsMd5(df, idCol, textCol, n), k, bands,
      threshold, seed, exactBandKey = true)

  /** Drop rows whose key value is shared by more than `maxPerKey`
    * rows — the shared hot-key lever (ngram's maxDf blacklist,
    * simhash/embed-LSH bucket caps). Hot keys number at most
    * N/maxPerKey and are tiny on any Zipf-shaped corpus, but that
    * bound is DATA-dependent, so the driver-side materialization is
    * capped at `maxHotLiteral` keys (a hard memory bound,
    * ~8 bytes/key):
    *  - ≤ cap, one key: the keys become a literal hash-set filter
    *    (`NOT isin` → InSet) fused into the scan — map-only, no join,
    *    and cheaper than the anti-join it replaces;
    *  - ≤ cap, compound key: a LocalRelation anti-join — the build
    *    side is driver-local rows with statically-known tiny size, so
    *    the planner broadcasts a provably bounded relation (not the
    *    unbounded aggregate lineage);
    *  - > cap (an adversarially flat df profile just above
    *    maxPerKey): a shuffle anti-join with NO forced broadcast —
    *    AQE sizes the build side at runtime. Quadratic-tail safety
    *    never depended on the literal path; this keeps the cap
    *    correct on the pathological corpus instead of OOMing.
    * The bounded probe costs one aggregate job at plan-construction
    * time; the former broadcast ran the same aggregate inside its
    * exchange build, so total work is unchanged in the common case.
    */
  /** Inverted index from (id, sz, sh): explode_OUTER + a null filter
    * on the GENERATED column. Plain explode's implicit
    * `size(sh) > 0 AND sh IS NOT NULL` filter gets pushed below the
    * shingle projection's exchange and re-evaluates the whole shingle
    * pass per predicate term in a separate stage (SCALE.md round-6
    * lesson — measured 24 → 8 plan occurrences on dup_spans); the
    * outer generate has no implicit filter and the null test lands on
    * a generated long. Empty sets emit one null row → filtered:
    * row-identical to the plain explode. */
  private def shingleInv(sets: DataFrame): DataFrame =
    sets.select(col("id"), col("sz"), explode_outer(col("sh")).as("h"))
      .where(col("h").isNotNull)

  /** Probe memo for [[dropHotKeys]]: the probe is an EAGER job at
    * plan-construction time (the plan SHAPE depends on its result).
    * Each entry holds ≤ maxHotLiteral+1 bare-key rows. */
  private val probeMemo =
    new graft.plans.PlanMemo[Array[org.apache.spark.sql.Row]](64)

  private[llm] def dropHotKeys(df: DataFrame, keys: Seq[String],
      maxPerKey: Int, maxHotLiteral: Int = 10000): DataFrame =
    if (maxPerKey == Int.MaxValue) df
    else {
      val hot = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n")).where(col("n") > maxPerKey)
        .select(keys.map(col): _*)
      // limit(cap + 1): a complete key set when within the cap, a
      // cheap overflow signal when not (which keys arrive is then
      // irrelevant — the fallback recomputes the full set lazily)
      val probe = probeMemo(hot, maxHotLiteral)(
        hot.limit(maxHotLiteral + 1).collect())
      if (probe.isEmpty) df
      else if (probe.length > maxHotLiteral)
        df.join(hot, keys, "left_anti")
      else if (keys.length == 1) {
        // Null-key parity with the anti-join forms: an equality
        // anti-join never matches a NULL key, so null-key rows are
        // KEPT there even when null is itself a hot key — the literal
        // filter must do the same. `!isin` alone is three-valued
        // (null-key rows evaluate to NULL → dropped), and a null hot
        // VALUE in the isin list would poison every non-matching
        // compare to NULL, so nulls are excluded from the list and
        // null-key rows pass explicitly.
        val vs = probe.map(_.get(0)).filter(_ != null).toSeq
        val k = col(keys.head)
        df.where(k.isNull || !k.isin(vs: _*))
      } else {
        val local = df.sparkSession.createDataFrame(
          java.util.Arrays.asList(probe: _*),
          org.apache.spark.sql.types.StructType(
            hot.schema.map(_.copy(nullable = true))))
        df.join(local, keys, "left_anti")
      }
    }

  /** (id, sh, sig) from raw (id, sh) hashed-shingle sets — the
    * signature half of the LSH pipeline, shared by
    * [[lshPairsFromSets]] and the streaming twin
    * [[graft.streaming.StreamingNearDup]] (one banding derivation —
    * the two paths can never desynchronize). Empty sets → NULL sig
    * (MinHashSignatureExpr contract). */
  private[graft] def sigSets(rawSets: DataFrame, k: Int,
      seed: Long): DataFrame =
    rawSets.withColumn("sig", graft.functions.MinHashSignatureExpr
      .minhash_signature(col("sh"), k, seed))

  /** Bare (id, band, band_key) rows from a (…, sig) frame — see the
    * inline notes in [[lshPairsFromSets]] for why band rows carry no
    * payload, why the key is 64-bit hashed by default, and why NULL
    * sigs must become null keys (filtered here) rather than "" (one
    * giant false bucket). */
  private[graft] def bandRowsFromSigs(sets: DataFrame, k: Int,
      bands: Int, exactBandKey: Boolean): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands=$bands must divide the signature width k=$k (and be in " +
        "[1, k]): bands > k degenerates every band key to the empty " +
        "slice — an all-pairs candidate join; a non-divisor silently " +
        "drops the signature tail")
    val rows = k / bands
    val bandKey: Column => Column = bnd => {
      val slice = concat_ws("_", (0 until rows).map(r =>
        element_at(col("sig"),
          (bnd * rows + r + 1).cast("int"))): _*)
      when(col("sig").isNotNull,
        if (exactBandKey) slice else xxhash64(slice, bnd))
    }
    sets.select(col("id"),
      posexplode_outer(transform(
        sequence(lit(0), lit(bands - 1)), bandKey)))
      .withColumnRenamed("col", "band_key")
      .withColumnRenamed("pos", "band")
      .where(col("band_key").isNotNull)
  }

  /** MinHash signature-agreement Jaccard estimate (4dp) — the
    * streaming twins' verify ([[graft.streaming.StreamingNearDup]] /
    * [[graft.streaming.StreamingFuzzyDedup]]): unbiased for true
    * Jaccard, std ≈ sqrt(J(1−J)/k). One definition so the twins and
    * the llm_neardup_stream oracle can never drift. */
  private[graft] def sigEstimate(a: Column, b: Column, k: Int): Column =
    round(aggregate(zip_with(a, b,
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k, 4)

  private def lshPairsFromSets(rawSets: DataFrame, k: Int, bands: Int,
      threshold: Double, seed: Long, exactBandKey: Boolean): DataFrame = {
    // The hashed shingle sets are the verification payload too:
    // Jaccard over them equals Jaccard over string sets (modulo ~1e-8
    // collisions), and only longs ship through the shuffles.
    // No size(sh) pre-filter: that predicate gets pushed below the
    // shingle projection and re-evaluates the shingle pass per term
    // (the shingleInv lesson). Empty sets produce a NULL signature
    // (MinHashSignatureExpr contract) which the band explode below
    // turns into null band keys → filtered there, one cheap test on
    // generated values.
    // sets feeds two differently-pruned consumers (the band explode
    // needs sig, the verify payload needs sh), so the shingle pass
    // runs twice — but a lazy checkpoint here measured a NET LOSS
    // round 15 (NoopTime interleaved A/B): the standalone pair
    // queries gain ~0.1 s while every dedupClusters consumer (which
    // already materializes the pairs lineage ONCE via the eager edges
    // checkpoint) pays the barrier for nothing (dedup_best 2.46 →
    // 2.80 s). Recompute stays.
    val sets = sigSets(rawSets, k, seed)
    // Band rows carry ONLY (id, band, band_key): candidate generation
    // and dedup shuffle bare keys. The shingle-hash arrays join back
    // in afterwards, once per surviving pair — not once per band
    // collision (arrays through a SortAggregate dedup measured 7×
    // slower at sf0.1).
    // 64-bit hashed band key: a 32-bit key space saturates at 100 TB
    // scale (10^10 docs × 8 bands over 2^32 values ≈ 19 docs/bucket
    // from pure hash collisions — every one a false candidate that
    // pays the payload join + Jaccard verify). xxhash64 keeps chance
    // bucket collisions ~0 at any realistic corpus for 8 bytes of key.
    // NULL sig (empty doc) → null band key: concat_ws would otherwise
    // skip the null elements and key every empty doc to "" — one
    // giant false bucket.
    val banded = bandRowsFromSigs(sets, k, bands, exactBandKey)
    // True self-join; the shuffle_hash hint pins BOTH sides to the
    // same shuffle exchange (a broadcast on one side would break
    // exchange reuse and recompute the signature lineage twice).
    val cand = banded.as("l").hint("shuffle_hash")
      .join(banded.as("r").hint("shuffle_hash"),
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Verification join-back is a SHUFFLED hash join by id. Build
    // sides (the hinted left): first join builds the BARE candidate
    // longs; the second necessarily builds (pairs + sh_a) — the
    // surviving pairs plus one shingle array each, since the output
    // row needs both arrays. Both builds are O(pairs), far below the
    // corpus-sized probe side in rows AND bytes; building the corpus
    // side instead would hold every doc's shingle set in the hash
    // tables. Round 3 broadcast the payload side to save a shuffle at
    // sf0.1; that ships every doc's shingle array through the driver
    // to every executor — a hard OOM at 100 TB. Both fetches alias the
    // SAME (id, sh) subplan shuffled by id, so the exchange
    // canonicalizes equal and the shingle compute + shuffle run once;
    // AQE may still demote a side to broadcast at runtime when the
    // MEASURED size allows — adaptive, not baked in.
    // Payload arrays are sorted ONCE PER DOC here (before the shuffle
    // and the two joins) so the per-PAIR verify is a single merge pass
    // (SortedJaccardExpr) instead of two hash-set builds per pair —
    // pairs outnumber docs by orders of magnitude at scale, so the
    // sort amortizes.
    val hs = sets.select(col("id"), sort_array(col("sh")).as("sh"))
    cand.hint("shuffle_hash")
      .join(hs.as("ja"), col("id_a") === col("ja.id"))
      .hint("shuffle_hash")
      .join(hs.as("jb"), col("id_b") === col("jb.id"))
      .withColumn("jaccard", round(graft.functions.SortedJaccardExpr
        .sorted_jaccard(col("ja.sh"), col("jb.sh")), 4))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Per-token 64-bit hashes from md5 (deterministic across engines):
    * two 32-bit halves of the md5 hex combined into one long. Compute
    * ONCE per doc and materialize — the 64 bit-vote expressions below
    * would otherwise each re-md5 every token (no subexpression
    * elimination inside higher-order-function lambdas). */
  def tokenMd5s(text: Column): Column =
    transform(TextAnalysis.tokens(text), t => md5(t))

  def tokenHashes64(md5s: Column): Column =
    transform(md5s, m =>
      shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long")))

  /** Transitive dedup clusters from near-dup pairs: connected
    * components by iterative min-label propagation. Each doc gets the
    * minimum id of its component as `cluster_rep` (the kept
    * representative; everything else in the component is a duplicate).
    *
    * Scale: pair sets within `maxDriverPairs` take a bounded
    * driver-side union-find (one probe job; labels return as a
    * LocalRelation so downstream joins broadcast). Above the cap,
    * each iteration is one keyed join + aggregate (shuffle by
    * id); iterations needed = O(log component-diameter) — near-dup
    * components are shallow in practice. The loop converges when no
    * label changes (exact), bounded by `maxIter` as a runaway guard.
    * Both paths produce the identical (id, cluster_rep = component
    * min) labels (suite-pinned).
    *
    * Memory note: the returned frame is backed by the final
    * iteration's `localCheckpoint` blocks (a checkpointed frame
    * cannot be unpersisted without losing its data — the lineage is
    * truncated). Superseded iterations' blocks, and the final one's
    * once the returned Dataset goes unreferenced, are freed by the
    * ContextCleaner; long-lived sessions holding MANY results should
    * write them out and drop the references.
    */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 20,
      maxDriverPairs: Int = 200000): DataFrame = {
    // Bounded driver fast path (round 16 — the dropHotKeys
    // bounded-probe discipline): near-dup pair tables behind LSH
    // banding and the registered df/bucket caps are O(true
    // duplicates), so on bounded inputs — a micro-batch, a fixture,
    // one shard of a corpus — the whole component computation fits
    // the driver. limit(cap+1) keeps the probe a hard memory bound
    // (collected Rows, ~100 B or more per pair — not the 16 B of two
    // longs): within the cap, union-find locally and return the
    // labels as a LocalRelation (downstream label joins then
    // BROADCAST instead of shuffling, and the iterative loop's
    // 3-4 jobs collapse to the one probe job); above it, the
    // distributed min-propagation loop below stays the scale path —
    // at the price of one extra pass over the pair lineage on the
    // pathological corpus, the same trade dropHotKeys makes. NOT
    // memoized: labels are query RESULTS, not a reusable trained
    // artifact — every invocation recomputes from its inputs.
    // Ids are read as BIGINT on both paths (an INT pair table gets
    // the same output schema above and below the cap); a probe
    // holding a NULL id falls through to the loop. Only integral ids
    // widen exactly: a string id would fail inside the cast, and a
    // fractional one would truncate and merge distinct documents.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq("id_a", "id_b").foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"dedupClusters needs integral ids; column $c is ${t.simpleString} " +
          "(accepted: tinyint, smallint, int, bigint)")
    }
    val ids = pairs.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b"))
    val probe = ids.limit(maxDriverPairs + 1).collect()
    if (probe.length <= maxDriverPairs &&
        !probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
      val parent = new java.util.HashMap[Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression (value replacement only — never
        while (c != r) { // a structural modification of the map)
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      probe.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        // attach the LARGER root under the smaller: the root is then
        // always its component's minimum id, so find(id) IS the
        // loop's cluster_rep (min label of the component)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val ids = parent.keySet().toArray(new Array[java.lang.Long](0))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
      ids.foreach { id =>
        rows.add(org.apache.spark.sql.Row(id.longValue(), find(id))) }
      return pairs.sparkSession.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_rep",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    // Symmetric edge list, materialized ONCE as an eager local
    // checkpoint: every iteration's plan then starts from the stored
    // blocks instead of carrying (and re-optimizing) the full near-dup
    // lineage — round 1 paid a growing analysis/optimization cost per
    // loop on top of the jobs themselves. (On a real cluster this is
    // `checkpoint` to reliable storage; localCheckpoint is the
    // single-JVM equivalent. Superseded iterations' blocks are freed
    // by the ContextCleaner once their datasets go unreferenced.)
    val edges = ids.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(ids.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    // Convergence via the monotone invariant: min-propagation only
    // ever decreases labels, so Σrep is strictly decreasing until the
    // fixpoint — one cheap agg per iteration instead of a self-join
    // diff. (Decimal sum: exact, no float round-off at any scale.)
    // The checkpoint is LAZY and this agg is the action that
    // materializes it, so checkpoint + convergence probe are ONE job
    // per iteration (eager checkpoint + separate agg was two).
    def repSum(df: DataFrame): java.math.BigDecimal = Option(
      df.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO) // empty pair set
    // init = first propagation step folded in: rep0 = min(id, neighbors)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("rep"))
      .transform(graft.functions.ExprUtils.barrier)
    var prevSum = repSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Two-hop step: neighbor-min propagation PLUS pointer jumping
      // (rep := rep of rep). Jumping alone halves the remaining
      // distance-to-root each iteration (O(log diameter) total), and
      // the neighbor term keeps single-hop edges flowing; both fold
      // into the same shuffle-by-id join pass.
      val candidate = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("cid"))
        .agg(min(col("rep")).as("nrep"))
      val jump = labels.select(col("id").as("jid"), col("rep").as("jrep"))
      labels = labels
        .join(candidate, labels("id") === candidate("cid"), "left")
        .join(jump, labels("rep") === col("jid"), "left")
        .select(col("id"),
          least(col("rep"),
            coalesce(col("nrep"), col("rep")),
            coalesce(col("jrep"), col("rep"))).as("rep"))
        .transform(graft.functions.ExprUtils.barrier)
      val curSum = repSum(labels) // the iteration's ONLY job
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      iter += 1
    }
    labels.withColumnRenamed("rep", "cluster_rep")
  }

  /** Quality-weighted representative selection: keep each near-dup
    * cluster's HIGHEST-scoring member (ties → lowest id) instead of
    * the lowest-id convention the e2e pipelines use — the choice a
    * production dedup actually wants, since the lowest id is an
    * arbitrary member while the score can encode length, quality, or
    * recency. `scored` is (idCol, scoreCol) per document; `pairs` is
    * any near-dup pair table (id_a, id_b) — minhash, ngram, simhash,
    * embedding. Docs absent from `pairs` are singleton clusters and
    * keep themselves.
    *
    * Output: one row per cluster — (idCol = winner id, scoreCol =
    * winner score, cluster_size).
    *
    * Scale shape: cluster labels come from [[dedupClusters]] (pointer
    * jumping, one job per iteration); the winner is ONE
    * partial-aggregated groupBy on the cluster rep — max of a
    * (score, −id) struct, NEVER a window (the dedupLines lesson: a
    * rank-1 window moves whole clusters into single tasks; the
    * struct-max combines map-side). Score must be non-null. */
  def dedupBest(scored: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "q_score"): DataFrame = {
    val labels = dedupClusters(pairs)
      .select(col("id").as(idCol), col("cluster_rep"))
    scored.join(labels, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col(idCol)))
      .groupBy("cluster_rep")
      .agg(
        // argmax with a deterministic tie-break: max over the
        // (score, −id) struct picks highest score then LOWEST id
        // (ids are non-negative longs, so negation is exact)
        max(struct(col(scoreCol).as("q"),
          (-col(idCol)).cast("long").as("nid"))).as("w"),
        count(lit(1)).as("cluster_size"))
      .select((-col("w.nid")).as(idCol), col("w.q").as(scoreCol),
        col("cluster_size"))
  }

  /** 64-bit SimHash from pre-computed token hashes: each output bit is
    * the sign of the per-bit vote sum across tokens. */
  def simhashFromHashes(hs: Column): Column = {
    val bits = (0 until 64).map { j =>
      val vote = aggregate(hs, lit(0), (acc, h) =>
        acc + when(shiftrightunsigned(h, j).bitwiseAND(lit(1L)) === 1L,
          lit(1)).otherwise(lit(-1)))
      when(vote > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash near-dup pairs: band the 64-bit simhash into `bands`
    * equal-width chunks; pairs agreeing on any chunk are candidates;
    * verify hamming ≤ `maxHamming`. Pigeonhole guarantee: `maxHamming`
    * flipped bits cannot touch all `bands` chunks iff
    * `maxHamming ≤ bands - 1`, so recall is exact within the radius.
    * Default 8×8-bit bands → guaranteed recall for hamming ≤ 7
    * (the round-2 4×16 banding capped the radius at 3, which missed
    * two-thirds of real near-dups; more bands = more candidates per
    * doc — 8 band keys — but each bucket is finer, so the candidate
    * join stays bucket-local at scale). */
  def simhashPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 7,
      bands: Int = 8, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands=$bands must evenly divide 64 (and be >= 2)")
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming exceeds the ${bands}x${64 / bands}-bit " +
        s"banding recall guarantee (<=${bands - 1}); raise `bands` " +
        "before widening the radius")
    val width = 64 / bands
    val mask = (1L << width) - 1
    // Native one-pass expressions end-to-end: tokens → md5-longs
    // (TokenMd5Hash64Expr — bit-identical to the hex/conv SQL chain
    // the oracle uses, but codegen'd, no hex strings) → simhash.
    val simExpr = graft.functions.SimHash64Expr.simhash64(
      graft.functions.TokenMd5Hash64Expr.token_md5_hash64(
        TextAnalysis.tokens(col(textCol))))
    // sim rides the hamming-bound JOIN condition, so a nullable sim
    // makes Catalyst infer isnotnull(simhash64(...)) and push the
    // whole signature pass into the scan filter (the shingleInv/sz
    // lesson). simhash64 is null ONLY for null text: filter that on
    // the RAW column (cheap scan predicate), then coalesce is the
    // identity and sim is provably non-null.
    val sigs = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), coalesce(simExpr, lit(0L)).as("sim"))
    val banded0 = sigs.select(col("id"), col("sim"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sim"), b * width)
          .bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("col", "chunk")
      .withColumnRenamed("pos", "band")
    // Hot-bucket cap (off by default): a chunk value shared by far
    // more docs than chance means that band does not discriminate its
    // region (low-entropy short docs pile onto few signatures), and a
    // FIXED 2^width key space makes bucket sizes — and so candidate
    // probes, Σ size² — grow quadratically with the corpus (measured
    // 14× wall at a 10× scale-up). The cap trades bounded recall loss
    // (a ≤maxHamming pair is only lost if EVERY matching band is hot)
    // for bounded work — the same lever as ngramJaccardPairs' maxDf.
    val banded = dropHotKeys(banded0, Seq("band", "chunk"), maxBucket)
    val l = banded.select(col("band"), col("chunk"), col("id").as("id_a"),
      col("sim").as("sim_a"))
    val r = banded.select(col("band"), col("chunk"), col("id").as("id_b"),
      col("sim").as("sim_b"))
    // The hamming bound rides IN the join condition: with the full
    // signature already on both band rows, failing candidates die at
    // the probe instead of flowing through dropDuplicates — the
    // downstream volume drops from every band collision to actual
    // near-dups (the probe compares stay; they are codegen'd integer
    // ops). Same final pairs as filtering after dedup.
    l.as("l").join(r.as("r"),
        col("l.band") === col("r.band") &&
          col("l.chunk") === col("r.chunk") &&
          col("id_a") < col("id_b") &&
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(
        col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .select("id_a", "id_b", "hamming")
  }
}
