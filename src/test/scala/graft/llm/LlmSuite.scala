package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.LlmQueries

class LlmSuite extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups planted copies under one fingerprint") {
    val out = LlmQueries.exactDedup(spark, sf0001)
    assert(out.count() == 500) // 500 distinct texts
    val dupGroups = out.where(col("n_copies") === 2).count()
    assert(dupGroups == 50) // every 10th doc planted
    // representative is the original, not the planted id
    assert(out.where(col("keep_id") >= 1000000).count() == 0)
  }

  test("line dedup: boilerplate lines survive exactly once at their " +
      "globally-first occurrence; blank lines are exempt") {
    val out = LlmQueries.lineDedup(spark, sf0001)
    assert(out.count() == 550) // 500 docs + 50 exact copies
    val rm = out.select(col("doc_id"), col("n_removed"))
      .as[(Long, Long)].collect().toMap
    // doc 0 is the first occurrence of its header AND the footer
    assert(rm(0L) == 0)
    // docs 1-19 own their source's header, lose only the footer
    (1L to 19L).foreach(d => assert(rm(d) == 1, s"doc $d"))
    // later originals lose header+footer, keep their unique body
    assert(rm(25L) == 2 && rm(499L) == 2)
    // the +1000000 exact copies lose every line → empty text
    assert((0L until 50L).forall(i => rm(1000000L + i * 10) == 3))
    val copies = out.where(col("doc_id") >= 1000000L)
    assert(copies.where(col("text_dedup") =!= "").count() == 0)
    // reassembly preserves line order: doc 1's output is header+body
    val d1 = out.where(col("doc_id") === 1L)
      .select("text_dedup").as[String].head()
    assert(d1.startsWith("begin shared preamble for source 1 end\n"))
    assert(!d1.contains("global footer"))
    // blank-line exemption: two docs sharing only blank lines keep them
    val blanky = Seq((1L, "alpha\n\nbeta"), (2L, "gamma\n\ndelta"))
      .toDF("doc_id", "text")
    val b = Dedup.dedupLines(blanky).orderBy("doc_id")
      .select("text_dedup").as[String].collect()
    assert(b.sameElements(Array("alpha\n\nbeta", "gamma\n\ndelta")))
    // plan shape: groupBy+join, never a window over the hot fingerprint
    assert(!LlmQueries.lineDedup(spark, sf0001).queryExecution
      .optimizedPlan.toString.contains("Window"),
      "line dedup plans a window — the hot boilerplate key would " +
        "sort onto one reducer")
  }

  test("entropySignals: hand-computable H, gibberish discrimination, " +
      "empty and degenerate docs") {
    val docs = Seq(
      (1L, "aaaa"),            // one symbol → char H = 0
      (2L, "abcd"),            // uniform 4 → char H = ln 4
      (3L, ""),                // empty → 0.0 both
      (4L, "go go go go"),     // one repeated token → token H = 0
      (5L, "the quick brown fox jumps over the lazy dog and then " +
        "runs far away home tonight"),   // prose
      (6L, "asdfgh qwerty asdfgh qwerty asdfgh qwerty asdfgh " +
        "qwerty asdfgh qwerty asdfgh qwerty")) // keyboard-mash template
      .toDF("doc_id", "text")
    val out = TextAnalysis.entropySignals(docs)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 == 0.0)
    assert(math.abs(out(2L)._1 - math.log(4.0)) < 1e-3, s"${out(2L)}")
    assert(out(3L) == ((0.0, 0.0)))
    assert(out(4L)._2 == 0.0, s"repeated token entropy: ${out(4L)}")
    // the signal's point: template spam reads LOWER token entropy
    // than prose of similar length
    assert(out(6L)._2 < out(5L)._2,
      s"template ${out(6L)._2} not below prose ${out(5L)._2}")
  }

  test("entropySignals: native expression ≡ the distributed chain " +
      "(edge cases incl. surrogate pairs), codegen path, map-only plan") {
    val docs = Seq(
      (1L, "aaaa"), (2L, "abcd"), (3L, ""), (4L, "go go go go"),
      (5L, "The quick  Brown43 fox! 7x"), // case, digits, punct, runs
      (6L, "héllo wörld héllo"),          // non-ASCII separators
      (7L, "a𝄞 b 𝄞 c"), // U+1D11E surrogate pair
      (8L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val native = TextAnalysis.entropySignals(docs)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val chain = TextAnalysis.entropySignalsChain(docs)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    // Per-field closeness, not exact tuple equality: the two sides sum
    // the entropy terms in different orders (native HashMap iteration
    // vs the chain's partition-order aggregate), so a value landing
    // within float noise of a 4dp rounding boundary could flip one
    // side only (ADVICE r15). The hand-computed codegen asserts below
    // stay exact.
    assert(native.map(_._1) == chain.map(_._1),
      s"native ids $native != chain ids $chain")
    native.zip(chain).foreach { case (n, c) =>
      assert(math.abs(n._2 - c._2) <= 1e-4 &&
        math.abs(n._3 - c._3) <= 1e-4,
        s"native $n != chain $c beyond rounding tolerance")
    }
    // zero exchanges: per-doc entropy is per-row work now
    val plan = TextAnalysis.entropySignals(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"entropy plan shuffles:\n$plan")
    // the codegen path compiles and runs (no silent fallback)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val ce = graft.functions.EntropyExpr(
      BoundReference(0, StringType, nullable = true), tokenMode = false)
    val te = graft.functions.EntropyExpr(
      BoundReference(0, StringType, nullable = true), tokenMode = true)
    val proj = GenerateUnsafeProjection.generate(Seq(ce, te))
    val r = proj(InternalRow(UTF8String.fromString("ab AB x")))
    // chars "ab AB x": n=7, ' '×2 the only repeat → H = ln7 − 2ln2/7
    assert(math.abs(r.getDouble(0) -
      (math.log(7.0) - 2 * math.log(2.0) / 7.0)) < 1e-12)
    // tokens (lowercased): ab×2, x → H = ln3 − 2ln2/3
    assert(math.abs(r.getDouble(1) -
      (math.log(3.0) - 2 * math.log(2.0) / 3.0)) < 1e-12)
    assert(proj(InternalRow(null)).isNullAt(0))
  }

  test("dedupBest keeps the highest-scoring cluster member, not the " +
      "lowest id; winner selection is aggregated, never a window") {
    // hand graph: cluster {1,2,3} (3 scores highest), {5,6} tie on
    // score (lowest id 5 wins), singleton 9 keeps itself
    val scored = Seq((1L, 0.1), (2L, 0.9), (3L, 0.95), (5L, 0.4),
      (6L, 0.4), (9L, 0.2)).toDF("doc_id", "q_score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.dedupBest(scored, pairs)
      .as[(Long, Double, Long)].collect().toSet
    assert(out == Set((3L, 0.95, 3L), (5L, 0.4, 2L), (9L, 0.2, 1L)))
    // the registered query scores by mean_word_len: the planted
    // 4-word tail pulls each copy's mean toward ~4.25, so copies win
    // SOME clusters and originals win others — both directions must
    // occur, proving selection is score-driven, not the lowest-id
    // convention (which could never pick a +1000000 copy)
    val q = LlmQueries.dedupBest(spark, sf0001)
    assert(!q.queryExecution.optimizedPlan.toString.contains("Window"),
      "dedupBest plans a window — a hot cluster would sort onto one " +
        "reducer")
    val dupWinners = q.where(col("cluster_size") >= 2)
      .select("doc_id").as[Long].collect().toSet
    assert(dupWinners.exists(_ >= 1000000L),
      "no planted copy ever outscored its original — selection looks " +
        "id-driven")
    assert(dupWinners.exists(_ < 1000000L),
      "no original ever won — score fixture degenerate")
  }

  test("dropHotKeys: literal, local-relation, and shuffle-fallback " +
      "forms drop exactly the over-cap keys") {
    // key "a" appears 3×, "b" 2×, "c" 1× — cap 2 drops exactly the
    // "a" rows; compound (k, g): ("a", 0) 3×, rest once
    val df = Seq(("a", 0), ("a", 0), ("a", 0), ("b", 0), ("b", 1),
      ("c", 1)).toDF("k", "g")
    val expect = Set(("b", 0), ("b", 1), ("c", 1))
    def got(out: org.apache.spark.sql.DataFrame) =
      out.as[(String, Int)].collect().toSet
    // single key → literal NOT-isin filter: map-only, NO join planned
    val lit1 = Dedup.dropHotKeys(df, Seq("k"), maxPerKey = 2)
    assert(got(lit1) == expect)
    assert(!lit1.queryExecution.executedPlan.toString.contains("Join"),
      "single-key literal path still plans a join")
    // compound key → LocalRelation anti-join (driver-bounded build)
    val multi = Dedup.dropHotKeys(df, Seq("k", "g"), maxPerKey = 2)
    assert(got(multi) == expect)
    assert(multi.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"),
      "compound-key path lost its local-relation build side")
    // over the literal cap → shuffle anti-join fallback (no forced
    // broadcast), output identical
    val fb = Dedup.dropHotKeys(df, Seq("k"), maxPerKey = 2,
      maxHotLiteral = 0)
    assert(got(fb) == expect)
    val fbPlan = fb.queryExecution.optimizedPlan.toString
    assert(fbPlan.contains("Join LeftAnti"), "fallback lost the anti join")
    assert(!fbPlan.contains("ResolvedHint"),
      "fallback must leave sizing to AQE, not force a broadcast")
    // cap off → untouched frame
    assert(got(Dedup.dropHotKeys(df, Seq("k"), Int.MaxValue)) ==
      df.as[(String, Int)].collect().toSet)
  }

  test("dropHotKeys: null keys are kept by every form — literal path " +
      "matches anti-join three-valued semantics") {
    // an equality anti-join never matches a NULL key, so null-key rows
    // survive the join forms even when null itself is over the cap;
    // the literal NOT-isin form must agree (bare !isin would evaluate
    // to NULL on them and silently drop)
    val df = Seq(Some("a"), Some("a"), Some("a"), Some("b"), None, None,
      None).map(k => (k, 1)).toDF("k", "g")
    val expect = Set((Some("b"), 1), (None, 1))
    def got(out: org.apache.spark.sql.DataFrame) =
      out.as[(Option[String], Int)].collect().toSet
    val lit1 = Dedup.dropHotKeys(df, Seq("k"), maxPerKey = 2)
    assert(got(lit1) == expect, "literal path diverges on null keys")
    assert(!lit1.queryExecution.executedPlan.toString.contains("Join"),
      "single-key literal path still plans a join")
    val fb = Dedup.dropHotKeys(df, Seq("k"), maxPerKey = 2,
      maxHotLiteral = 0)
    assert(got(fb) == expect, "fallback diverges on null keys")
    val multi = Dedup.dropHotKeys(df, Seq("k", "g"), maxPerKey = 2)
    assert(got(multi) == expect, "compound path diverges on null keys")
  }

  test("e2e fuzzy: planted near-copies pass the exact stage and are " +
      "dropped by the fuzzy stage") {
    // Stage attribution for llm_e2e_prepare_fuzzy: the mixed corpus
    // plants exact copies (+1000000, every 10th doc) AND tail-extended
    // near-copies (+2000000, every 7th doc). The near-copies ride
    // UNIQUE fingerprints, so the exact stage can't touch them — only
    // the minhash-pair → cluster → keep-lowest-rep stage drops them.
    val exact = LlmQueries.keptDeduped(
        LlmQueries.docsWithMixedDups(spark, sf0001))
      .select("doc_id").as[Long].collect().toSet
    val fuzzy = LlmQueries.fuzzySurvivors(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    // exact stage: all exact copies gone, ALL near-copies still there
    assert(!exact.exists(id => id >= 1000000 && id < 2000000),
      "an exact copy survived the exact stage")
    val nearInExact = exact.filter(_ >= 2000000)
    val expectedNear = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0).count()
    assert(nearInExact.size == expectedNear,
      s"${nearInExact.size}/$expectedNear near-copies survived the " +
        "exact stage (their fingerprints are unique by construction)")
    // fuzzy stage: every planted near-copy dropped (measured exactly
    // 72/72 at sf0.001 — deterministic: seeded minhash, md5 hashes)
    assert(fuzzy.subsetOf(exact))
    assert(!fuzzy.exists(_ >= 2000000),
      "a planted near-copy survived the fuzzy stage")
    // the stage drops non-reps only: survivors shrink, nothing appears
    val dropped = exact -- fuzzy
    assert(dropped.size >= expectedNear,
      "fuzzy dropped fewer docs than the planted near-copies alone")
  }

  test("e2e spans: partial-overlap twins survive both doc-level stages " +
      "and lose exactly their duplicated passage") {
    def filler(id: Long): String =
      (1 to 40).map(i => s"zq${id}f$i").mkString(" ")
    val survivors = LlmQueries.fuzzySurvivorsOf(
      LlmQueries.keptDeduped(LlmQueries.docsWithSpliceDups(spark, sf0001)))
    val survIds = survivors.select("doc_id").as[Long].collect().toSet
    val twinIds = survIds.filter(id => id >= 3000000 && id < 4000000)
    // EVERY planted twin survives exact dedup (unique filler
    // fingerprint) AND fuzzy dedup (Jaccard vs its base provably
    // < 0.5: ≤22 common prefix shingles vs ≥40 filler shingles) —
    // the doc-level family's structural blind spot
    val nPlanted = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 9 === 0).count()
    assert(twinIds.size == nPlanted,
      s"${twinIds.size}/$nPlanted twins survived the doc-level stages")
    // the span stage cuts the duplicated passage, nothing else: for
    // every twin whose base has >= 24 tokens and itself survived,
    // text_cut is EXACTLY the 40 filler tokens and n_removed == 24
    val spans = Dedup.duplicateSpans(survivors)
    val cut = Dedup.cutSpans(survivors, spans, keep = Seq("lang"))
    val cutById = cut
      .where(col("doc_id") >= 3000000 && col("doc_id") < 4000000)
      .select("doc_id", "text_cut", "n_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val baseTokens = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 9 === 0)
      .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("n"))
      .as[(Long, Int)].collect().toMap
    val eligible = twinIds.filter { id =>
      val base = id - 3000000
      baseTokens.getOrElse(base, 0) >= 24 && survIds.contains(base)
    }
    assert(eligible.size >= 40, s"only ${eligible.size} eligible twins")
    eligible.foreach { id =>
      val (text, removed) = cutById(id)
      assert(text == filler(id - 3000000),
        s"twin $id kept/lost the wrong tokens: $text")
      assert(removed == 24L, s"twin $id n_removed $removed != 24")
    }
  }

  test("decontaminate cut: half-contaminated docs keep their clean " +
      "half; verbatim benchmark docs are cut to empty") {
    def filler(id: Long): String =
      (1 to 40).map(i => s"zq${id}f$i").mkString(" ")
    val out = LlmQueries.all("llm_decontaminate_cut")(spark, sf0001)
      .select("doc_id", "text_cut", "n_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // the bloom flag stage yields the identical cut corpus
    val bench0 = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 13 === 0).select("doc_id", "text")
    val outBloom = Decontaminate.cutContaminated(
        LlmQueries.docsWithContamTwins(spark, sf0001), bench0,
        bloom = true)
      .select("doc_id", "text_cut", "n_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(outBloom == out, "bloom cutContaminated diverged")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val benchTokens = docs.where(col("doc_id") % 13 === 0)
      .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("n"))
      .as[(Long, Int)].collect().toMap
    // every corpus doc passes through (cut-everything-through shape)
    assert(out.size == docs.count() + benchTokens.size)
    // half-contaminated twins: contaminated prefix excised, the clean
    // filler half SURVIVES — where clean() would drop the whole doc
    val pinnedTwins = benchTokens.filter(_._2 >= 24).keys.toSeq
    assert(pinnedTwins.size >= 25)
    pinnedTwins.foreach { base =>
      val (text, removed) = out(base + 4000000)
      assert(text == filler(base), s"twin of $base: wrong remainder")
      assert(removed == 24L, s"twin of $base: n_removed $removed")
    }
    // ...and the whole-doc decontaminate WOULD have flagged them all
    val flagged = graft.llm.Decontaminate.contaminated(
        LlmQueries.docsWithContamTwins(spark, sf0001),
        docs.where(col("doc_id") % 13 === 0).select("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    pinnedTwins.foreach(base => assert(flagged.contains(base + 4000000),
      s"twin of $base escaped the winnow flag stage"))
    // benchmark docs present verbatim in the corpus: fully excised
    // (>= 16 tokens — below that no span clears minTokens and the doc
    // passes through uncut)
    benchTokens.foreach { case (id, n) =>
      val (text, removed) = out(id)
      if (n >= 16) {
        assert(text == "", s"bench doc $id not fully cut: $text")
        assert(removed == n.toLong, s"bench doc $id removed $removed/$n")
      } else assert(removed == 0L, s"short bench doc $id was cut")
    }
  }

  test("ngram jaccard finds every planted near-dup pair") {
    val pairs = LlmQueries.ngramJaccard(spark, sf0001)
    val planted = pairs
      .where(col("id_b") === col("id_a") + 1000000).count()
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0).count()
    assert(planted == expected)
  }

  test("containment: every planted tail-extended copy contains its " +
      "original at exactly 1.0") {
    // appending tokens keeps every original shingle, so the original
    // set is a strict subset of its extended copy: containment 1.0
    // even where Jaccard is diluted by the added shingles
    val pairs = LlmQueries.all("llm_containment")(spark, sf0001)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect()
    val planted = pairs.filter { case (a, b, _) => b == a + 1000000 }
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0).count()
    assert(planted.length == expected,
      s"${planted.length}/$expected planted containment pairs")
    assert(planted.forall(_._3 == 1.0))
  }

  test("containment: planted pairs survive an aggressive maxDf cap — " +
      "they ride rare shingles") {
    // The registered query caps hot shingles (the only quadratic-tail
    // guard containment has). The planted copies must not depend on
    // hot shingles: even a cap 40× tighter than the registered 2000
    // keeps every planted pair at containment 1.0 (dropping a hot
    // shingle removes it from BOTH sets' index entries, but sz stays
    // full — so only common falls; rare-shingle overlap carries it).
    val pairs = graft.llm.Dedup.ngramContainmentPairs(
        LlmQueries.docsWithNearDups(spark, sf0001),
        threshold = 0.9, maxDf = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val planted = pairs.count { case (a, b) => b == a + 1000000 }
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0).count()
    assert(planted == expected, s"$planted/$expected planted pairs at maxDf=50")
  }

  test("dup spans: every planted tail-copy pair emits the full-document " +
      "verbatim span at offset 0/0") {
    // the copy = original text + 4 appended tokens, so the ENTIRE
    // original is one verbatim run at alignment 0 — the span must
    // start at token 0 in both docs and cover the original's full
    // token count (for originals long enough to clear minTokens)
    val spans = LlmQueries.all("llm_dup_spans")(spark, sf0001)
      .as[(Long, Long, Long, Long, Long)].collect()
    // size(tokens(...)): the SAME canonical [a-z0-9]+ stream the span
    // pipeline consumes — whitespace tokenCount only coincides on
    // punctuation-free lowercase fixtures (ADVICE r6)
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .where(col("n") >= 16)
      .as[(Long, Long)].collect().toMap
    assert(expected.nonEmpty)
    expected.foreach { case (id, n) =>
      assert(spans.exists { case (a, b, as_, bs, nt) =>
        a == id && b == id + 1000000 && as_ == 0 && bs == 0 && nt == n
      }, s"planted pair ($id, ${id + 1000000}) missing its full span of $n")
    }
    // spans never extend past either document's verbatim overlap: the
    // planted pair's run cannot exceed the original's length
    spans.filter { case (a, b, _, _, _) => b == a + 1000000 }
      .foreach { case (a, _, _, _, nt) =>
        expected.get(a).foreach(n => assert(nt <= n, s"span $nt > doc $n"))
      }
  }

  test("cut spans: planted copies shrink to the probe tail; originals " +
      "pass through untouched") {
    val spans = LlmQueries.all("llm_dup_spans")(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val cutIds = spans.map(_._2).toSet // cut side = higher id
    val cut = LlmQueries.all("llm_cut_spans")(spark, sf0001)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val longOriginals = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0)
      .where(size(TextAnalysis.tokens(col("text"))) >= 16)
      .select("doc_id").as[Long].collect()
    assert(longOriginals.nonEmpty)
    longOriginals.foreach { id =>
      val copy = id + 1000000
      // a copy that only duplicates ITS original keeps exactly the
      // 4-token appended tail; copies also cut by natural spans (or
      // originals that are themselves someone's b-side) are excluded
      if (spans.count { case (_, b) => b == copy } == 1) {
        val (text, removed) = cut(copy)
        assert(text == "graft dup probe tail",
          s"copy $copy cut to '$text'")
        assert(removed > 0)
      }
      if (!cutIds.contains(id))
        assert(cut(id)._2 == 0L, s"original $id lost tokens")
    }
    // conservation: n_removed equals the token-count drop, corpus-wide
    val bad = LlmQueries.all("llm_cut_spans")(spark, sf0001).as("c")
      .join(LlmQueries.docsWithNearDups(spark, sf0001).as("d"),
        col("c.doc_id") === col("d.doc_id"))
      .where(TextAnalysis.tokenCount(col("d.text"))
        - TextAnalysis.tokenCount(col("c.text_cut")) =!= col("c.n_removed"))
      .count()
    assert(bad == 0)
  }

  test("cutSpans: native CutTokensExpr ≡ the HOF chain (fixture + " +
      "null text, span-less, everything-cut docs), codegen path") {
    // fixture parity: the registered query's corpus through both
    // implementations, row-for-row
    val docs = LlmQueries.docsWithNearDups(spark, sf0001)
    val spans = Dedup.duplicateSpans(docs)
    val native = Dedup.cutSpans(docs, spans)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val hof = Dedup.cutSpansHof(docs, spans)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(native == hof)
    // hand edges: null text, no spans, everything cut, overlap merge
    val d2 = Seq((1L, "a b c d e f"), (2L, null.asInstanceOf[String]),
      (3L, "x y z")).toDF("doc_id", "text")
    val s2 = Seq((0L, 1L, 0L, 1L, 3L),  // cut [1,4) of doc 1
      (0L, 1L, 0L, 2L, 3L),             // overlapping [2,5) → merge [1,5)
      (0L, 3L, 0L, 0L, 3L))             // everything of doc 3
      .toDF("id_a", "id_b", "a_start", "b_start", "n_tokens")
    val n2 = Dedup.cutSpans(d2, s2)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val h2 = Dedup.cutSpansHof(d2, s2)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(n2 == h2, s"native $n2 != hof $h2")
    assert(n2 == Seq((1L, "a f", 4L), (2L, "", 0L), (3L, "", 3L)))
    // codegen path compiles and runs (no silent fallback)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val toksT = ArrayType(StringType)
    val ivsT = ArrayType(StructType(Seq(
      StructField("s", LongType), StructField("e", LongType))))
    val expr = graft.functions.CutTokensExpr(
      BoundReference(0, toksT, nullable = true),
      BoundReference(1, ivsT, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val toks = new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), UTF8String.fromString("b"),
      UTF8String.fromString("c")))
    val ivs = new GenericArrayData(Array[Any](InternalRow(1L, 2L)))
    val out = proj(InternalRow(toks, ivs)).getStruct(0, 2)
    assert(out.getUTF8String(0).toString == "a c")
    assert(out.getLong(1) == 1L)
    val outNull = proj(InternalRow(null, null)).getStruct(0, 2)
    assert(outNull.getUTF8String(0).toString == "")
    assert(outNull.getLong(1) == 0L)
  }

  test("minhash LSH recall vs exact jaccard is high, precision exact") {
    val exact = LlmQueries.ngramJaccard(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = LlmQueries.minhashLsh(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH verifies candidates with EXACT jaccard → no false positives
    assert(lsh.subsetOf(exact))
    // recall over planted+natural pairs ≥ 90%
    assert(lsh.size.toDouble / exact.size >= 0.9,
      s"recall ${lsh.size}/${exact.size}")
  }

  test("md5-variant minhash agrees with the xxhash variant on planted dups") {
    // Same banding pipeline, different shingle hash + exact band keys:
    // both must find every planted near-dup (jaccard ≈ 0.9 pairs pass
    // every band with high probability and are verified exactly).
    val md5 = LlmQueries.minhashMd5(spark, sf0001)
      .where(col("id_b") === col("id_a") + 1000000).count()
    val xx = LlmQueries.minhashLsh(spark, sf0001)
      .where(col("id_b") === col("id_a") + 1000000).count()
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0).count()
    // Banding is probabilistic per hash family: a planted pair can
    // miss all 8 bands by chance. Deterministic per family+seed —
    // md5 catches 72/72 here, xxhash 71/72.
    assert(md5 == expected, s"md5 variant planted recall $md5/$expected")
    assert(xx >= expected - 2, s"xxhash variant planted recall $xx/$expected")
  }

  test("hot-bucket caps: generous cap is a no-op, tight cap only drops") {
    // simhash: a cap larger than any bucket must change nothing
    val base = LlmQueries.simhashDup(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val roomy = Dedup.simhashPairs(
      LlmQueries.docsWithNearDups(spark, sf0001),
      maxHamming = 7, bands = 8, maxBucket = 1000000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(roomy == base)
    // a tight cap can only REMOVE pairs (drops hot buckets, never adds)
    val tight = Dedup.simhashPairs(
      LlmQueries.docsWithNearDups(spark, sf0001),
      maxHamming = 7, bands = 8, maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(base) && tight.size < base.size)
    // embed LSH: same contract
    val ebase = LlmQueries.embedDupLsh(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val eroomy = Similarity.cosineDupPairsLsh(
      LlmQueries.embsWithDups(spark, sf0001), threshold = 0.999,
      maxBucket = 1000000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(eroomy == ebase)
    val etight = Similarity.cosineDupPairsLsh(
      LlmQueries.embsWithDups(spark, sf0001), threshold = 0.999,
      maxBucket = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(etight.subsetOf(ebase))
  }

  test("simhash: planted near-dups collide within small hamming distance") {
    val pairs = LlmQueries.simhashDup(spark, sf0001)
    val planted = pairs.where(col("id_b") === col("id_a") + 1000000).count()
    val expected = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0).count()
    assert(planted >= (expected * 0.8).toLong, s"$planted/$expected")
  }

  test("embedding scaled copies have cosine exactly 1 and are all found") {
    val out = LlmQueries.embedDup(spark, sf0001)
    assert(out.count() == 100) // 500/5 planted
    assert(out.where(col("sim") === 1.0).count() == 100)
  }

  test("embed dup clusters: planted scaled copies form exact 2-clusters") {
    // cross-family composition: md5 hyperplane-LSH pairs through the
    // text CC operator. At threshold 0.999 the only pairs are the
    // planted (v, v+1000000) scaled copies, so every cluster is
    // exactly {v, v+1000000} with the lower id as representative.
    val out = LlmQueries.embedDupClusters(spark, sf0001).collect()
    assert(out.length == 100) // 500/5 planted copies
    out.foreach { r =>
      assert(r.getAs[Long]("cluster_rep") % 5 == 0, r.toString)
      assert(r.getAs[Long]("cluster_rep") < 1000000, r.toString)
      assert(r.getAs[Long]("cluster_size") == 2, r.toString)
    }
  }

  test("semdedup: every planted copy lands in its original's cell and " +
      "is dropped at sim 1.0; all originals kept") {
    val out = LlmQueries.semDedup(spark, sf0001).collect()
    assert(out.length == 600) // one row per input vector (500 + 100)
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    val copies = out.filter(_.getAs[Long]("id") >= 1000000)
    assert(copies.length == 100)
    copies.foreach { r =>
      // scaling preserves the argmax cell → the copy sees its original
      assert(r.getAs[Int]("cid") ==
        byId(r.getAs[Long]("id") - 1000000).getAs[Int]("cid"), r.toString)
      assert(r.getAs[Int]("kept") == 0, r.toString)
      assert(r.getAs[Double]("max_prior_sim") == 1.0, r.toString)
    }
    // natural within-cell sims sit far below 0.999 → originals all kept
    out.filter(_.getAs[Long]("id") < 1000000).foreach { r =>
      assert(r.getAs[Int]("kept") == 1, r.toString)
    }
  }

  test("two-level quantizer assignment: exact at full probe, floors at P=2/3, " +
      "planted copies stay with their originals") {
    // Machinery exactness pin (data-independent): with coarseProbe =
    // nCoarse every group is probed, so the two-level route MUST equal
    // flat argmax row-for-row — any divergence is a tie-break or
    // union-construction bug, not an approximation.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = Similarity.lowestIdCentroids(e, 16, vecCol = "v")
    def agree(p: Int): Double = {
      val r = e.select(
          Similarity.flatAssignFn(cents)(col("v")).as("f"),
          Similarity.hierarchicalAssignFn(cents, 4, coarseProbe = p)(
            col("v")).as("h"))
        .agg(sum(when(col("f") === col("h"), 1L).otherwise(0L)),
          count(lit(1))).head()
      r.getLong(0).toDouble / r.getLong(1)
    }
    assert(agree(4) == 1.0, "exhaustive coarse probe must equal flat argmax")
    // Agreement floors at the approximate widths (HierAssignProbe:
    // 0.846 at P=2, 0.946 at P=3 — the fixture's near-isotropic
    // vectors are the hard case; clustered data routes better).
    assert(agree(3) >= 0.9, s"P=3 agreement ${agree(3)}")
    assert(agree(2) >= 0.8, s"P=2 agreement ${agree(2)}")
    // Planted-copy invariant through the semDedupFrom hook: the
    // assignment is a pure function of DIRECTION (normalized dots,
    // deterministic ties), so a 1.5×-scaled copy routes identically —
    // every copy shares its original's cell and is dropped at sim 1.0,
    // and every original survives, same as the flat registered query.
    val dup = LlmQueries.embsWithDups(spark, sf0001)
    val cents2 = Similarity.lowestIdCentroids(dup, nCentroids = 16)
    val out = Similarity.semDedupFrom(dup, cents2, threshold = 0.999,
      assignFn = Some(Similarity.hierarchicalAssignFn(cents2, 4))).collect()
    assert(out.length == 600)
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    val copies = out.filter(_.getAs[Long]("id") >= 1000000)
    assert(copies.length == 100)
    copies.foreach { r =>
      assert(r.getAs[Int]("cid") ==
        byId(r.getAs[Long]("id") - 1000000).getAs[Int]("cid"), r.toString)
      assert(r.getAs[Int]("kept") == 0, r.toString)
      assert(r.getAs[Double]("max_prior_sim") == 1.0, r.toString)
    }
    out.filter(_.getAs[Long]("id") < 1000000).foreach { r =>
      assert(r.getAs[Int]("kept") == 1, r.toString)
    }
  }

  test("LSH-blocked embed dedup: guaranteed recall on exact-direction copies") {
    // ground truth: every pair at >= 0.999 over ALL pairs (constant
    // block) — SAME planted corpus the registered query processes
    val allPairs = Similarity.cosineDupPairs(
      LlmQueries.embsWithDups(spark, sf0001).withColumn("one", lit(1)),
      threshold = 0.999, blockCol = "one")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = LlmQueries.embedDupLsh(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precision exact (every candidate cosine-verified)...
    assert(lsh.subsetOf(allPairs))
    // ...and the planted scaled copies (identical direction → identical
    // sign pattern in every table) are ALL found
    val planted = allPairs.filter { case (a, b) => b == a + 1000000 }
    assert(planted.nonEmpty && planted.subsetOf(lsh))
    // overall recall at the near-dup threshold stays high
    assert(lsh.size.toDouble / allPairs.size >= 0.8,
      s"recall ${lsh.size.toDouble / allPairs.size}")
  }

  test("embed LSH output = exact pairs restricted to LSH candidates " +
      "(pre-verify signature drops nothing)") {
    // Pins the 48-bit pre-verify bound's output-identical claim: the
    // operator's pairs must EQUAL the exact >= threshold pairs
    // restricted to band-colliding candidates — if the pre-signature
    // hamming filter false-dropped even one true candidate pair, this
    // equality (not just the planted-subset check below) breaks.
    val corpus = LlmQueries.embsWithDups(spark, sf0001)
    val allPairs = Similarity.cosineDupPairs(
      corpus.withColumn("one", lit(1)),
      threshold = 0.999, blockCol = "one")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // candidate generation rebuilt WITHOUT the pre-verify bound, same
    // banding params as the operator defaults
    val v = corpus.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"))
    val banded = v.select(col("id"),
      posexplode(graft.functions.HyperplaneSigsExpr.hyperplane_sigs(
        col("vec"), 12, 4, 42L)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    val cands = banded.as("l").join(banded.as("r"),
        col("l.table") === col("r.table") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id"))
      .distinct().as[(Long, Long)].collect().toSet
    val lsh = LlmQueries.embedDupLsh(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == (allPairs intersect cands),
      s"missing=${(allPairs intersect cands) diff lsh} extra=${lsh diff (allPairs intersect cands)}")
  }

  test("md5-plane mode: signatures match an independent functions._ rebuild; " +
      "planted dups all found, precision exact") {
    // Cross-implementation check of the md5 sign derivation (the
    // SQL-reproducible mode behind llm_embed_dup_lsh_md5): plane
    // sign = parity of the first 32 md5 digest bits of
    // "hp_<tableSeed>_<j>_<d>", rebuilt here from md5()/conv()
    // column functions — the same chain the DuckDB oracle uses.
    import org.apache.spark.sql.Column
    val (nBits, nTables, seed) = (6, 3, 42L)
    def md5Sign(ts: Long, j: Int, d: Column): Column =
      when(conv(substring(md5(
        concat(lit(s"hp_${ts}_${j}_"), d.cast("string"))), 1, 8), 16, 10)
        .cast("long") % 2 === 0, lit(1.0d)).otherwise(lit(-1.0d))
    def hofSig(vec: Column, ts: Long): Column =
      graft.functions.ExprUtils.bindOnce(
        sequence(lit(0), size(vec) - 1)) { idx =>
        (0 until nBits).map { j =>
          val proj = aggregate(
            zip_with(vec, idx, (x, d) => x * md5Sign(ts, j, d)),
            lit(0.0d), (acc, x) => acc + x)
          when(proj > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b))
      }
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val native = e.select(col("vec_id"),
      graft.functions.HyperplaneSigsExpr.hyperplane_sigs(
        col("v"), nBits, nTables, seed, md5Signs = true).as("sigs"))
      .as[(Long, Seq[Long])].collect().toMap
    val hof = e.select(col("vec_id"),
      array((0 until nTables).map(t =>
        hofSig(col("v"), seed + t)): _*).as("sigs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == hof)
    // and the registered md5 query keeps the operator guarantees
    val md5Pairs = LlmQueries.embedDupLshMd5(spark, sf0001)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val allPairs = Similarity.cosineDupPairs(
      LlmQueries.embsWithDups(spark, sf0001).withColumn("one", lit(1)),
      threshold = 0.999, blockCol = "one")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(md5Pairs.subsetOf(allPairs)) // precision exact
    val planted = allPairs.filter { case (a, b) => b == a + 1000000 }
    assert(planted.nonEmpty && planted.subsetOf(md5Pairs))
  }

  test("brute-force ANN: self excluded, k respected, rank deterministic") {
    val out = LlmQueries.annTopK(spark, sf0001).cache()
    assert(out.count() == 50) // 10 queries × k=5
    assert(out.where(col("query_id") === col("neighbor_id")).count() == 0)
    val r = out.groupBy("query_id").agg(max("rank").as("mx"),
      count(lit(1)).as("n")).collect()
    assert(r.forall(row => row.getAs[Int]("mx") == 5 &&
      row.getAs[Long]("n") == 5))
    out.unpersist()
  }

  test("IVF ANN: valid ranks, decent recall vs brute force at nProbe=4/16") {
    val brute = LlmQueries.annTopK(spark, sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = LlmQueries.annIvf(spark, sf0001).cache()
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Int]("rank") >= 1 &&
      r.getAs[Int]("rank") <= 5))
    val hits = ivf.select("query_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet
    // Measured 0.56 at nProbe=4/nCentroids=16 (deterministic: fixed
    // data, fixed seed). Floor at 0.5 so a recall-halving regression
    // fails instead of coasting on the old 0.3 floor.
    val recall = (hits intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@5 too low: $recall")
    ivf.unpersist()
  }

  test("IVF ANN: same seed gives identical results across runs and partitionings") {
    // The coarse quantizer must be a pure function of (data, seed):
    // KMeans fit consumes a seeded sample and random init, and cell
    // assignment is an argmax over centroid literals — none of it may
    // depend on partition layout or run order.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      Similarity.ivfTopK(df.where(col("vec_id") < 10), df, k = 5,
        nCentroids = 16, nProbe = 4)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val r1 = run(e)
    val r2 = run(e)
    assert(r1 == r2, "same input, same seed, different results")
    val r3 = run(e.repartition(7, col("vec_id")))
    assert(r3 == r1, "partitioning changed the IVF result")
  }

  test("LSH ANN recall vs brute force meets the multi-table floor") {
    // Ground truth for the SAME query set the registered query runs
    // (vec_id < 50, k = 3). Deterministic: fixed data, fixed seed.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(
      e.where(col("vec_id") < 50), e, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = LlmQueries.annLsh(spark, sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // Measured 0.627 at nBits=8/nTables=8/multiProbe=1 (0.02 for the
    // round-3 single-table operator — this assertion is what makes the
    // rows-only query semantically guarded). Param grid measured:
    // 8b/16t=0.827, 6b/8t=0.900, mp=0 at 8b/8t=0.120.
    val recall = (lsh intersect brute).size.toDouble / brute.size
    assert(recall >= 0.55, s"LSH ANN recall@3 too low: $recall")
    assert(lsh.size == brute.size, "every query should fill its top-k")
    // radius-2 multi-probe widens the probe set: recall never drops
    val lsh2 = Similarity.lshTopK(e.where(col("vec_id") < 50), e, k = 3,
      nBits = 8, nTables = 8, multiProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall2 = (lsh2 intersect brute).size.toDouble / brute.size
    assert(recall2 >= recall, s"radius-2 recall $recall2 < radius-1 $recall")
  }

  test("PQ ANN: ADC re-rank recall vs brute force, ranks valid") {
    // Same query set / k as the registered llm_ann_pq. Measured 0.88
    // at m=8/ks=16/rerank=50 on sf0.001 (0.60 at sf0.1 — the
    // fixture's true neighbors sit at cosine 0.27-0.47, hard for any
    // coarse quantizer; rerank=20 measured 0.56/0.32 — the rerank
    // width is the recall lever, exactly the PQ paper's ADC-then-
    // re-rank tradeoff). Floor at 0.75 so a codebook or ADC
    // regression fails loudly.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(
      e.where(col("vec_id") < 10), e, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = LlmQueries.annPq(spark, sf0001).cache()
    val rows = pq.collect()
    assert(rows.length == 50) // 10 queries × k=5, every top-k filled
    assert(rows.forall(r => r.getAs[Int]("rank") >= 1 &&
      r.getAs[Int]("rank") <= 5))
    // approx_d2 is a genuine squared distance: non-negative
    assert(rows.forall(_.getAs[Double]("approx_d2") >= 0.0))
    val hits = pq.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (hits intersect brute).size.toDouble / brute.size
    assert(recall >= 0.75, s"PQ recall@5 too low: $recall")
    pq.unpersist()
  }

  test("IVF-PQ ANN: composed index, ranks valid, recall vs brute force") {
    // Measured 0.90 at sf0.001 (0.76 at sf0.1) — BETTER than flat PQ
    // (0.88/0.60): the cell probe pre-selects direction-similar
    // vectors, so the rerank budget isn't spent on far-cell ADC false
    // positives. Floor 0.8 at sf0.001.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(
      e.where(col("vec_id") < 10), e, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val out = LlmQueries.annIvfPq(spark, sf0001).cache()
    val rows = out.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getAs[Int]("rank") >= 1 &&
      r.getAs[Int]("rank") <= 5))
    val hits = out.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (hits intersect brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF-PQ recall@5 too low: $recall")
    out.unpersist()
  }

  test("weighted reservoir: k per stratum, weight dominance, determinism") {
    val out = LlmQueries.reservoir(spark, sf0001).cache()
    val perLang = out.groupBy("lang").agg(max("rank").as("mx"),
      count(lit(1)).as("n")).collect()
    assert(perLang.nonEmpty)
    // ranks dense 1..min(k, |stratum|)
    assert(perLang.forall(r => r.getAs[Int]("mx") == r.getAs[Long]("n") &&
      r.getAs[Int]("mx") <= 5))
    out.unpersist()
    // A-Res property on a controlled frame: near-zero-weight rows
    // cannot displace weight-1 rows (their key is ~10000·ln u vs
    // ln u) — pinned for these FIXED ids (u's are deterministic).
    val ctl = (1L to 10L).map(i =>
      (i, "s", if (i <= 5) 1.0 else 0.0)).toDF("doc_id", "st", "w")
    val top = Sampling.weightedReservoir(ctl, k = 5, "st", "w")
      .select("doc_id").as[Long].collect().toSet
    assert(top == (1L to 5L).toSet, s"low-weight rows sampled: $top")
    // partitioning invariance
    val top2 = Sampling.weightedReservoir(ctl.repartition(7), k = 5, "st", "w")
      .select("doc_id").as[Long].collect().toSet
    assert(top2 == top)
  }

  test("pagerank: dup hubs outrank isolated docs, teleport floor exact") {
    val out = LlmQueries.pagerank(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(out.nonEmpty && out.values.forall(_ > 0.0))
    // edge vertices (the minhash pair set) vs isolated docs: an
    // isolated vertex never receives mass — its mean-1 score is
    // EXACTLY resid = 0.15 (teleport only); a symmetric 2-clique sits
    // at the stationary 1.0 from the uniform start (0.15/N + 0.85/N =
    // 1/N each iteration), and bigger components push hubs above it.
    val e = Dedup.minhashLshPairsMd5(
      graft.queries.LlmQueries.docsWithNearDups(spark, sf0001),
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val connected = e.flatMap(p => Seq(p._1, p._2)).toSet
    assert(connected.nonEmpty)
    val isolated = out.keySet -- connected
    assert(isolated.forall(id => out(id) == 0.15), "teleport floor drifted")
    assert(connected.forall(id => out(id) > 0.15),
      "a connected vertex fell to the teleport floor")
    assert(connected.exists(id => out(id) >= 0.99),
      "no vertex near the 2-clique stationary score")
  }

  test("IVFADC (residual PQ): ranks valid, recall floor at fixture scale") {
    // Measured 0.94 at sf0.001 — the best of the PQ family there
    // (residual quantization is finer near cell centers, the paper's
    // point). At sf0.1 the SAMPLE residual codebook underfits (0.44
    // vs raw-PQ 0.76) — residual encoding amplifies codebook-quality
    // sensitivity; production IVFADC k-means-fits the residual
    // codebooks (the pluggable path). Floor at 0.85 where the sample
    // quantizer is adequate.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(
      e.where(col("vec_id") < 10), e, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val out = LlmQueries.annIvfPqRes(spark, sf0001).cache()
    val rows = out.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getAs[Int]("rank") >= 1 &&
      r.getAs[Int]("rank") <= 5))
    val hits = out.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (hits intersect brute).size.toDouble / brute.size
    assert(recall >= 0.85, s"IVFADC recall@5 too low: $recall")
    out.unpersist()
  }

  test("IVFADC ks=64: the production residual codebook holds sf0.1 recall") {
    // The registered-index fix for the round-9 weak spot: the 16-sample
    // residual codebook underfits sf0.1 (recall@5 0.44) while ks=64
    // restores exact raw-IVF-PQ parity (measured 0.76; sf0.001 holds
    // 0.94 — PqProbe). llm_ann_ivfpq_res64 is the point a user copies,
    // so its floor is pinned AT sf0.1, where the small codebook fails.
    val e = spark.read.parquet(s"$sf01/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(
      e.where(col("vec_id") < 10), e, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val out = LlmQueries.annIvfPqRes64(spark, sf01).cache()
    val rows = out.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getAs[Int]("rank") >= 1 &&
      r.getAs[Int]("rank") <= 5))
    val hits = out.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (hits intersect brute).size.toDouble / brute.size
    assert(recall >= 0.7, s"IVFADC ks=64 recall@5 too low at sf0.1: $recall")
    out.unpersist()
  }

  test("IVFADC trained codebooks: recall strictly above the sample " +
      "floor at sf0.1; Lloyd fit is partitioning-proof") {
    // The round-12 trained-quantizer point: per-subspace Lloyd over
    // the residual frame (sample init + 16 rounds) lifts sf0.1
    // recall@5 from the sample codebook's 0.76 to 0.82 (PqTrainProbe)
    // — floored at 0.75, STRICTLY above llm_ann_ivfpq_res64's 0.7
    // sample floor, per the round-11 verdict's done-criterion.
    val e = spark.read.parquet(s"$sf01/embeddings.parquet")
    val brute = Similarity.bruteForceTopK(
      e.where(col("vec_id") < 10), e, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val out = LlmQueries.annIvfPqResTrained(spark, sf01).cache()
    val rows = out.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getAs[Int]("rank") >= 1 &&
      r.getAs[Int]("rank") <= 5))
    val hits = out.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (hits intersect brute).size.toDouble / brute.size
    assert(recall >= 0.75, s"trained-IVFADC recall@5 too low: $recall")
    out.unpersist()
    // determinism: the long-quantized update sums make the trained
    // books a pure function of (data, init, nIter) — repartitioning
    // the training input must reproduce them EXACTLY
    val e1 = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = Similarity.lowestIdCentroids(e1, 16)
    val b1 = Similarity.pqTrainedResidualCodebooks(e1, 8, 16, cents,
      nIter = 3)
    val b2 = Similarity.pqTrainedResidualCodebooks(e1.repartition(7), 8,
      16, cents, nIter = 3)
    assert(b1 == b2, "partitioning changed the trained codebooks")
  }

  test("tfidf: per-doc top terms ranked, df consistent with term spread") {
    val out = LlmQueries.tfidf(spark, sf0001).cache()
    // every doc with tokens yields ranks 1..min(3, #terms), no gaps
    val perDoc = out.groupBy("doc_id").agg(max("rank").as("mx"),
      count(lit(1)).as("n")).collect()
    assert(perDoc.nonEmpty)
    assert(perDoc.forall(r => r.getAs[Int]("mx") == r.getAs[Long]("n")))
    // a term kept for many docs must have df >= that many docs
    val spread = out.groupBy("term").agg(
      countDistinct("doc_id").as("n_docs"), max("df").as("df")).collect()
    assert(spread.forall(r => r.getAs[Long]("df") >= r.getAs[Long]("n_docs")))
    out.unpersist()
  }

  test("drift: JS divergence bounded by ln 2, zero on identical sides") {
    val out = LlmQueries.drift(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val js = r.getAs[Double]("js_div")
      js >= 0.0 && js <= math.log(2.0) + 1e-9
    })
    // identical token distributions on both sides → p = q for every
    // term, every JS term is p·ln(1) = 0 exactly → js_div == 0.0
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val mirrored = d.select(col("lang"), col("text"), lit(0).as("side"))
      .unionByName(d.select(col("lang"), col("text"), lit(1).as("side")))
    val z = TextAnalysis.tokenDrift(mirrored, col("side")).collect()
    assert(z.nonEmpty)
    assert(z.forall(r => r.getAs[Double]("js_div") == 0.0))
  }

  test("LSH ANN: zero-norm corpus vectors never rank (NaN clamp)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val poisoned = e.unionByName(
      spark.range(1).select(lit(999999L).as("vec_id"),
        array_repeat(lit(0.0), dim).as("embedding")))
    val out = Similarity.lshTopK(
      poisoned.where(col("vec_id") < 10), poisoned, k = 5).cache()
    assert(out.where(col("sim").isNaN).count() == 0)
    // the zero vector's sim clamps to 0.0 — it cannot displace a real
    // neighbor at rank 1
    assert(out.where(col("neighbor_id") === 999999L &&
      col("rank") === 1).count() == 0)
    out.unpersist()
  }

  test("dedup clusters: transitive closure merges chained pairs") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), // chain 1-2-3 → one component, rep 1
      (10L, 11L),         // pair → rep 10
      (20L, 21L), (21L, 22L), (20L, 22L) // triangle → rep 20
    ).toDF("id_a", "id_b")
    val labels = Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // the bounded driver union-find (round 16) and the distributed
    // min-propagation loop (forced via maxDriverPairs = 0) must
    // produce the identical label set — the cross-implementation pin
    val loop = Dedup.dedupClusters(pairs, maxDriverPairs = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop == labels)
  }

  test("dedup clusters: fast path equals the loop on the real pair table") {
    val pairs = Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$sf0001/documents.parquet"),
      threshold = 0.5, maxDf = 1000000)
    val fast = Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Dedup.dedupClusters(pairs, maxDriverPairs = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop && fast.nonEmpty)
  }

  test("dedup clusters: INT and NULL ids — BIGINT labels, fast path " +
      "equals the loop") {
    import org.apache.spark.sql.types.LongType
    def labels(pairs: org.apache.spark.sql.DataFrame,
        cap: Int): Set[(Any, Any)] = {
      val out = Dedup.dedupClusters(pairs, maxDriverPairs = cap)
      assert(out.schema.map(_.dataType) == Seq(LongType, LongType))
      out.collect().map(r => (r.get(0), r.get(1))).toSet
    }
    val ints = Seq((1, 2), (2, 3), (10, 11)).toDF("id_a", "id_b")
    val fromInts = labels(ints, 200000)
    assert(fromInts == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L)))
    assert(labels(ints, 0) == fromInts)
    // a NULL id sends the probe to the loop; both settings agree
    val nulls = Seq((Some(1L), Some(2L)), (None, Some(5L)),
      (Some(5L), Some(6L))).toDF("id_a", "id_b")
    val fromNulls = labels(nulls, 200000)
    assert(fromNulls.contains((1L, 1L)) && fromNulls.contains((6L, 5L)))
    assert(labels(nulls, 0) == fromNulls)
  }

  test("dedup clusters: only integral ids, other types refused by name " +
      "on both paths") {
    val ints = Seq((1, 2), (2, 3)).toDF("id_a", "id_b")
    Seq(200000, 0).foreach { cap =>
      assert(Dedup.dedupClusters(ints, maxDriverPairs = cap).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      Seq(
        Seq(("a", "b")).toDF("id_a", "id_b") -> ("id_a", "string"),
        Seq((1.0, 1.2), (1.7, 2.0)).toDF("id_a", "id_b") -> ("id_a", "double"),
        Seq((1L, BigDecimal(2))).toDF("id_a", "id_b") -> ("id_b", "decimal(38,18)")
      ).foreach { case (pairs, (c, t)) =>
        val e = intercept[IllegalArgumentException](
          Dedup.dedupClusters(pairs, maxDriverPairs = cap))
        Seq("dedupClusters", s"column $c is $t", "tinyint, smallint, int, bigint")
          .foreach(s => assert(e.getMessage.contains(s), e.getMessage))
      }
    }
  }

  test("dedup clusters on the real pair output keep one rep per planted dup") {
    val out = LlmQueries.dedupClusters(spark, sf0001)
    val sizes = out.collect().map(r => r.getLong(1))
    // every planted near-dup pair is in some cluster of size ≥ 2
    assert(sizes.forall(_ >= 2)) // singletons aren't emitted (no pairs)
    assert(sizes.sum >= 2 * spark.read
      .parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 7 === 0).count())
  }

  test("winnow: near-dup docs share fingerprints, distinct docs don't") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val planted = base.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text", concat(col("text"), lit(" graft dup probe tail")))
    val fps = base.unionByName(planted)
      .select(col("doc_id"),
        TextAnalysis.winnowFingerprints(col("text")).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    val pairs = fps.keys.filter(_ >= 1000000L).map(c => (c - 1000000L, c))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val (fa, fb) = (fps(a).toSet, fps(b).toSet)
      // winnowing guarantee: the shared prefix passage yields shared
      // fingerprints; only the appended tail's windows can differ
      val overlap = (fa intersect fb).size.toDouble / math.max(fa.size, 1)
      assert(overlap > 0.5, s"pair ($a,$b) overlap $overlap")
    }
    // unrelated docs share (essentially) nothing
    val ids = fps.keys.filter(_ < 1000000L).toSeq.sorted.take(20)
    val cross = for {
      i <- ids; j <- ids if i < j
      o = (fps(i).toSet intersect fps(j).toSet).size
    } yield o
    assert(cross.sum <= cross.size) // ~zero collisions
  }

  test("repetition signals: loops score high, varied text scores low") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "buy now buy now buy now buy now buy now"),
      (3L, "the quick brown fox jumps over one lazy dog tonight"),
      (4L, ""), (5L, "solo")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df)
      .select("doc_id", "dup_token_frac", "top_bigram_frac",
        "top_trigram_frac")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L)._1 > 0.8 && out(1L)._2 == 1.0 && out(1L)._3 == 1.0)
    assert(out(2L)._2 > 0.5) // "now buy" interleaves with "buy now"
    assert(out(3L)._1 == 0.0 && out(3L)._2 < 0.2)
    assert(out(4L) == ((0.0, 0.0, 0.0))) // empty text
    assert(out(5L) == ((0.0, 0.0, 0.0))) // below n-gram widths
    // NULL text matches the oracle's ELSE-[] path: all three 0.0
    val nullOut = TextAnalysis.repetitionSignals(
      Seq((9L, null: String)).toDF("doc_id", "text"))
      .select("dup_token_frac", "top_bigram_frac", "top_trigram_frac")
      .head()
    assert((0 until 3).forall(i => nullOut.getDouble(i) == 0.0))
  }

  test("curation: planted exact dups collapse to the original doc_id") {
    val out = LlmQueries.curation(spark, sf0001).collect()
    // planted copies carry doc_id + 1000000; the representative must
    // always be the original
    assert(out.forall(_.getAs[Long]("doc_id") < 1000000L))
    // every kept doc with doc_id % 10 == 0 has its planted copy folded in
    val byCopies = out.groupBy(_.getAs[Long]("n_copies"))
    assert(byCopies.keySet == Set(1L, 2L))
    assert(byCopies(2L).forall(_.getAs[Long]("doc_id") % 10 == 0))
    // dropped docs stay dropped: kept count matches the quality filter
    // on the distinct corpus
    val keptDistinct = LlmQueries.quality(spark, sf0001)
      .where(col("verdict") === "keep").count()
    assert(out.length.toLong == keptDistinct)
  }

  test("bloom-prefiltered decontaminate is byte-identical to the exact " +
      "path at both SFs") {
    // the Bloom pre-filter has no false negatives and the exact
    // semi-join kills the FPP sliver — output must EQUAL the exact
    // operator row-for-row (the shared-oracle contract)
    Seq(sf0001, sf01).foreach { dir =>
      val exact = LlmQueries.decontaminate(spark, dir)
        .as[(Long, Long)].collect().toSeq
      val bloom = LlmQueries.decontaminateBloom(spark, dir)
        .as[(Long, Long)].collect().toSeq
      assert(exact.nonEmpty && bloom == exact,
        s"$dir: bloom twin diverged (${bloom.size} vs ${exact.size})")
    }
  }

  test("decontaminate flags benchmark docs and their planted near-copies") {
    val flagged = LlmQueries.decontaminate(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    val benchIds = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 13 === 0).select("doc_id").as[Long]
      .collect().toSet
    // verbatim contamination: the benchmark docs themselves are in the
    // corpus and share (at least) all their own fingerprints
    val verbatim = benchIds.filter(flagged)
    assert(verbatim.size >= (benchIds.size * 0.9).toInt,
      s"verbatim ${verbatim.size}/${benchIds.size}")
    // near-copy contamination: docs with id % 91 == 0 got BOTH the
    // benchmark role and a planted near-copy (id + 1000000) — the copy
    // shares the whole prefix passage
    val copies = benchIds.filter(_ % 91 == 0).map(_ + 1000000L)
    assert(copies.nonEmpty)
    val caught = copies.filter(flagged)
    assert(caught.size >= (copies.size * 0.9).toInt,
      s"near-copies ${caught.size}/${copies.size}")
    // clean() = corpus minus exactly the flagged rows
    val corpus = LlmQueries.docsWithNearDups(spark, sf0001)
    val bench = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 13 === 0).select("doc_id", "text")
    val clean = Decontaminate.clean(corpus, bench)
    assert(clean.count() == corpus.count() - flagged.size)
    // the bloom flag stage yields the identical clean corpus
    val cleanBloom = Decontaminate.clean(corpus, bench, bloom = true)
    assert(cleanBloom.select("doc_id").as[Long].collect().sorted.toSeq ==
      clean.select("doc_id").as[Long].collect().sorted.toSeq,
      "bloom clean() diverged from the exact path")
  }

  test("clean with flagFrom superset is row-identical to self-flagging") {
    // flagFrom contract (Decontaminate.clean): flags computed over any
    // unique-id superset carrying the same per-id text give the same
    // output — the property the composed e2e pipelines rely on to
    // flag from the raw corpus instead of re-running the dedup tail
    val corpus = LlmQueries.docsWithNearDups(spark, sf0001)
    val bench = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 13 === 0).select("doc_id", "text")
    // stand-in for an expensive lineage tail: an arbitrary subset
    val docs = corpus.where(col("doc_id") % 3 === 0)
    val self = Decontaminate.clean(docs, bench)
    val sup = Decontaminate.clean(docs, bench,
      flagFrom = Some(corpus))
    assert(self.count() > 0)
    assert(sup.exceptAll(self).isEmpty && self.exceptAll(sup).isEmpty)
  }

  test("source cap keeps exactly the N longest docs per source") {
    val bySrc = LlmQueries.sourceCap(spark, sf0001).collect()
      .groupBy(_.getAs[String]("source"))
    val all = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .groupBy(_.getAs[String]("source"))
    assert(bySrc.keySet == all.keySet, "a source vanished")
    all.foreach { case (src, rows) =>
      val expected = rows
        .sortBy(r => (-r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
        .take(10).map(_.getAs[Long]("doc_id")).toSet
      assert(bySrc(src).map(_.getAs[Long]("doc_id")).toSet == expected,
        s"wrong kept set for $src")
    }
  }

  test("token budget keeps the greedy deterministic prefix per stratum") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    // budgets that BIND at sf0.001 (per-lang totals are a few hundred
    // tokens); the registered query's budgets are sized for sf≥0.01
    val budgets = Map("en" -> 300L, "de" -> 200L)
    val out = Sampling.tokenBudget(d, "lang", budgets,
      defaultBudget = 150L)
    // independent Scala rebuild of the greedy prefix over the
    // deterministic (shard, bucket, id) order
    val rows = d.withColumn("bucket", Sampling.hashBucket(col("doc_id")))
      .collect()
    val bmap = budgets.withDefaultValue(150L)
    val expected = rows.groupBy(_.getAs[String]("lang")).flatMap {
      case (lang, rs) =>
        val sorted = rs.sortBy { r =>
          (r.getAs[Long]("bucket"), r.getAs[Long]("doc_id"))
        }
        var cum = 0L
        sorted.takeWhile { r =>
          cum += r.getAs[Int]("n_tokens"); cum <= bmap(lang)
        }.map(_.getAs[Long]("doc_id")).toList
    }.toSet
    val got = out.select("doc_id").as[Long].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < rows.length, "budgets must bind")
  }

  test("token budget boundary: exact-fit doc kept, zero budget empty") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .where(col("lang") === "en")
    // first doc in the deterministic (bucket, id) order
    val first = d
      .withColumn("b", Sampling.hashBucket(col("doc_id")))
      .orderBy(col("b"), col("doc_id")).limit(1).collect().head
    val firstTokens = first.getAs[Int]("n_tokens").toLong
    // budget == the first doc's tokens: cum == budget is KEPT (<=),
    // and the second doc (cum > budget) is not
    val exact = Sampling.tokenBudget(d, "lang",
      Map("en" -> firstTokens)).select("doc_id").as[Long].collect()
    assert(exact.toSeq == Seq(first.getAs[Long]("doc_id")))
    // zero budget keeps nothing
    assert(Sampling.tokenBudget(d, "lang", Map("en" -> 0L)).isEmpty)
  }

  test("token budget output is invariant to the shard count") {
    // the two-level prefix sum (per-shard windows + offset chain) must
    // EXACTLY equal the single global window it decomposes — nShards
    // only changes parallelism, never the kept set
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val ids = Seq(1, 4, 32).map { n =>
      Sampling.tokenBudget(d, "lang", Map("en" -> 300L),
        defaultBudget = 150L, nShards = n)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(ids.distinct.size == 1,
      s"kept sets differ across shard counts: ${ids.map(_.size)}")
  }

  test("token budget: null strata consume the default budget") {
    // a NULL stratum is one real stratum under defaultBudget (the
    // sampleMix null-handling stance) — the offset join-back is
    // null-safe, so null-stratum rows are budgeted, not dropped
    val d = Seq((1L, Some("en"), 100L), (2L, None, 100L),
      (3L, None, 100L), (4L, None, 100L), (5L, Some("en"), 100L))
      .toDF("doc_id", "lang", "n_tokens")
    val out = Sampling.tokenBudget(d, "lang", Map("en" -> 200L),
      defaultBudget = 200L)
    val kept = out.select("doc_id").as[Long].collect().toSet
    // en: both rows fit (200 of 200); null: exactly 2 of 3 rows fit —
    // the greedy (bucket, id) prefix decides which two
    assert(kept.intersect(Set(1L, 5L)) == Set(1L, 5L),
      s"en rows dropped: $kept")
    val nullKept = kept -- Set(1L, 5L)
    assert(nullKept.size == 2, s"null-stratum rows must consume the " +
      s"default budget (kept $nullKept of 2,3,4)")
    val expectNull = d.where(col("lang").isNull)
      .withColumn("b", Sampling.hashBucket(col("doc_id")))
      .orderBy("b", "doc_id").limit(2)
      .select("doc_id").as[Long].collect().toSet
    assert(nullKept == expectNull, "null-stratum prefix must follow " +
      s"the deterministic (bucket, id) order: $nullKept vs $expectNull")
  }

  test("sample mix: deterministic, exact for rate 1.0, empty for rate 0") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("lang", TextAnalysis.langId(col("text")))
    val kept = Sampling.sampleMix(d, "lang", Map("de" -> 1.0))
      .select("doc_id").as[Long].collect().toSet
    val allDe = d.where(col("lang") === "de").select("doc_id").as[Long]
      .collect().toSet
    assert(kept == allDe) // rate 1.0 keeps every de doc, default 0 drops rest
    // registered query: reproducible run-to-run, strata rates honored
    val q1 = LlmQueries.sampleMix(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    val q2 = LlmQueries.sampleMix(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(q1 == q2)
    val rows = LlmQueries.sampleMix(spark, sf0001).collect()
    val th = Map("en" -> 5000L, "de" -> 10000L, "fr" -> 2500L)
    rows.foreach { r =>
      val lim = th.getOrElse(r.getAs[String]("lang"), 1000L)
      assert(r.getAs[Long]("bucket") < lim, r.toString)
    }
    // en keeps ~half (md5 buckets are uniform-ish)
    val en = d.where(col("lang") === "en").count().toDouble
    val enKept = rows.count(_.getAs[String]("lang") == "en")
    assert(enKept / en > 0.3 && enKept / en < 0.7, s"$enKept/$en")
  }

  test("upsample: epoch layout per rate; rates <= 1 degenerate to " +
      "sample mix; plan is map-only") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("lang", TextAnalysis.langId(col("text")))
    // rate 2.5: every doc ships epochs {0,1}; those whose bucket is
    // under the 5000 fractional threshold also ship epoch 2
    val up = Sampling.upsample(d, "lang", Map.empty, defaultRate = 2.5)
    val byDoc = up.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("epoch").as("mx"),
        min("bucket").as("b"))
      .collect()
    assert(byDoc.length == d.count())
    byDoc.foreach { r =>
      val (n, mx, b) = (r.getAs[Long]("n"), r.getAs[Long]("mx"),
        r.getAs[Long]("b"))
      val want = if (b < 5000) 3L else 2L
      assert(n == want && mx == want - 1, r.toString)
    }
    // rates <= 1: exactly the sampleMix kept set, every epoch 0
    val subRates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25)
    val viaUp = Sampling.upsample(d, "lang", subRates, defaultRate = 0.1)
    assert(viaUp.where(col("epoch") =!= 0L).count() == 0)
    val viaMix = Sampling.sampleMix(d, "lang", subRates, defaultRate = 0.1)
    assert(viaUp.select("doc_id").as[Long].collect().toSet ==
      viaMix.select("doc_id").as[Long].collect().toSet)
    // rate 0 strata vanish (map-only-ness is plan-guarded in
    // PlanQualitySuite's map-only list)
    assert(Sampling.upsample(d, "lang", Map.empty, defaultRate = 0.0)
      .count() == 0)
  }

  test("sampleByScore: keep probability is the per-row score") {
    val d = Seq((1L, 0.0), (2L, 1.0), (3L, 0.5), (4L, -0.2), (5L, 7.0))
      .toDF("doc_id", "score")
    val kept = Sampling.sampleByScore(d, "score").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bucket")).toMap
    assert(!kept.contains(1L)) // score 0 never keeps
    assert(!kept.contains(4L)) // clamped to 0
    assert(kept.contains(2L))  // score 1 always keeps
    assert(kept.contains(5L))  // clamped to 1
    // score 0.5: decision is exactly bucket < 5000
    val b3 = d.withColumn("b", Sampling.hashBucket(col("doc_id")))
      .where(col("doc_id") === 3).head().getAs[Long]("b")
    assert(kept.contains(3L) == (b3 < 5000))
    // registered query: every kept row satisfies its own threshold,
    // reproducible run-to-run
    val rows = LlmQueries.sampleScore(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val th = math.round(r.getAs[Double]("stopword_ratio") * 10000)
      assert(r.getAs[Long]("bucket") < th, r.toString)
    }
    val again = LlmQueries.sampleScore(spark, sf0001).collect()
    assert(rows.map(_.toString).toSet == again.map(_.toString).toSet)
  }

  test("contamination report attributes per benchmark item and agrees " +
      "with the corpus-side view") {
    val report = LlmQueries.contaminationReport(spark, sf0001).collect()
      .map(r => r.getAs[Long]("bench_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_fp_shared"))).toMap
    val benchIds = spark.read.parquet(s"$sf0001/documents.parquet")
      .where(col("doc_id") % 13 === 0).select("doc_id").as[Long]
      .collect().toSet
    // verbatim: every benchmark doc is in the corpus, so nearly all
    // report at least their own copy (short/empty docs may winnow to
    // <2 fingerprints)
    assert(report.keySet.subsetOf(benchIds))
    assert(report.size >= (benchIds.size * 0.9).toInt,
      s"${report.size}/${benchIds.size}")
    report.values.foreach { case (nDocs, nFp) =>
      assert(nDocs >= 1 && nFp >= 2 * nDocs)
    }
    // %91 bench docs ALSO have a planted near-copy (tail-extended) in
    // the near-dup corpus → at least two contaminating docs
    report.collect { case (id, (nDocs, _)) if id % 91 == 0 =>
      assert(nDocs >= 2, s"bench $id: $nDocs") }
    // agreement with the corpus-side view: a doc sharing >=2 fps with
    // ONE bench item shares >=2 with the pooled set, so the report's
    // (bench, doc) pair count is bounded by corpus flags x bench size
    val corpusFlagged = LlmQueries.decontaminate(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    assert(report.values.map(_._1).sum <= corpusFlagged.size.toLong *
      benchIds.size)
    assert(corpusFlagged.nonEmpty)
  }

  test("novelty: min-id doc owns all its shingles, copies score low, " +
      "ownership conserves") {
    val out = LlmQueries.novelty(spark, sf0001).collect()
    val nov = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("novelty")).toMap
    // the smallest scored id owns every one of its shingles by
    // definition of min-id ownership
    assert(nov(nov.keys.min) == 1.0)
    val (copies, origs) = nov.partition(_._1 >= 1000000)
    assert(copies.nonEmpty)
    // a tail-extended near-copy's novel shingles are only the
    // junction + 4-token tail — a sliver of its shingle set
    assert(copies.values.forall(_ <= 0.2),
      copies.maxBy(_._2).toString)
    assert(copies.values.sum / copies.size <
      origs.values.sum / origs.size)
    // conservation: every distinct shingle has exactly ONE owner, so
    // n_novel sums to the corpus-wide distinct shingle count
    val totNovel = out.map(_.getAs[Long]("n_novel")).sum
    val distinctShingles = graft.llm.Dedup.shingleSetsMd5(
      LlmQueries.docsWithNearDups(spark, sf0001), "doc_id", "text", 3)
      .select(explode(col("sh")).as("s")).distinct().count()
    assert(totNovel == distinctShingles, s"$totNovel vs $distinctShingles")
  }

  test("holdout split labels every doc, ~5% holdout, sticky under growth") {
    val rows = LlmQueries.holdoutSplit(spark, sf0001).collect()
    val n = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.length.toLong == n) // labeling, not filtering
    val hold = rows.filter(_.getAs[String]("split") == "holdout")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(rows.forall(r => Set("train", "holdout")
      .contains(r.getAs[String]("split"))))
    // md5 buckets are uniform-ish: 5% +- wide slack at 500 docs
    assert(hold.size > n * 0.01 && hold.size < n * 0.12, s"${hold.size}/$n")
    // sticky: the same docs stay holdout when the corpus grows
    val grown = Sampling.holdoutSplit(
      LlmQueries.docsWithNearDups(spark, sf0001).select(col("doc_id")),
      0.05)
      .where(col("split") === "holdout")
      .select("doc_id").as[Long].collect().toSet
    assert(hold.subsetOf(grown))
  }

  test("pii redaction scrubs planted email/ip/phone; others untouched") {
    val out = LlmQueries.pii(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val planted = out.keys.filter(_ % 11 == 0)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val r = out(id)
      assert(r.getAs[Int]("n_email") >= 1, s"doc $id email")
      assert(r.getAs[Int]("n_ip") >= 1, s"doc $id ip")
      assert(r.getAs[Int]("n_phone") >= 1, s"doc $id phone")
      val clean = r.getAs[String]("clean")
      assert(clean.contains("[EMAIL]") && clean.contains("[IP]") &&
        clean.contains("[PHONE]"), s"doc $id")
      assert(!clean.contains("@example.com") && !clean.contains("10.0."),
        s"doc $id leaked")
    }
    // unplanted docs: no emails/ips planted, text survives verbatim
    // unless it organically matched (count-consistent either way)
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    out.keys.filterNot(_ % 11 == 0).foreach { id =>
      val r = out(id)
      if (r.getAs[Int]("n_email") == 0 && r.getAs[Int]("n_ip") == 0 &&
        r.getAs[Int]("n_phone") == 0)
        assert(r.getAs[String]("clean") == base(id), s"doc $id mutated")
    }
  }

  test("chunking: overlap layout, tail chunks, reassembly, empty text") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // < chunkSize
      (3L, "")                                        // no tokens → no rows
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(df, chunkSize = 4, stride = 3)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // doc 1: starts 0,3,6,9 → windows of 4,4,4,1 tokens
    val c1 = out(1L).sortBy(_.getAs[Int]("chunk_id"))
    assert(c1.map(_.getAs[Int]("n_tokens")).toSeq == Seq(4, 4, 4, 1))
    assert(c1.head.getAs[String]("chunk_text") == "t1 t2 t3 t4")
    assert(c1(1).getAs[String]("chunk_text") == "t4 t5 t6 t7") // 1-token overlap
    assert(c1.last.getAs[String]("chunk_text") == "t10")
    // doc 2: single short chunk covers everything
    assert(out(2L).map(_.getAs[String]("chunk_text")).toSeq == Seq("a b c"))
    // doc 3 vanishes (no tokens)
    assert(!out.contains(3L))
    // stride tokens of every chunk are disjoint: concatenating each
    // chunk's first `stride` tokens rebuilds the document
    val rebuilt = c1.flatMap(
      _.getAs[String]("chunk_text").split(" ").take(3)).toSeq
    assert(rebuilt == (1 to 10).map(i => s"t$i"))
  }

  test("bigram LM: corpus-typical text outscores rare-continuation text; " +
      "sub-bigram docs score NULL") {
    import spark.implicits._
    val docs = ((1 to 10).map(i =>
      (i.toLong, "the quick brown fox jumps the quick brown fox")) ++
      Seq((90L, "the zxq brown wvu"), (91L, "word"))).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.bigramLogprob(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(2)) None
         else Some(r.getAs[Double]("bigram_logprob")))).toMap
    assert(out(91L).isEmpty) // one token, no bigrams
    // doc 90 reuses corpus contexts (the→, brown→) with continuations
    // seen once against 20 — its mean logprob must sit far below the
    // boilerplate copies whose transitions dominate every context
    assert(out(1L).get > out(90L).get,
      s"common=${out(1L).get} gibberish=${out(90L).get}")
    assert(out(90L).get < -1.0, out(90L).toString)
  }

  /** Single-threaded interpolated-KN reference for the pin below:
    * the exact formula, independently implemented (same association
    * so the comparison is at rounding precision, not fp-luck). */
  private def knRef(docs: Seq[(Long, String)], d: Double = 0.75)
      : Map[Long, Option[(Long, Double)]] = {
    def toks(t: String) =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    val docBgs = docs.map { case (id, t) =>
      id -> toks(t).sliding(2).filter(_.size == 2)
        .map(p => (p.head, p(1))).toSeq
    }
    val c2 = docBgs.flatMap(_._2).groupBy(identity)
      .map { case (b, xs) => b -> xs.size.toLong }
    val c1 = c2.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val n1f = c2.groupBy(_._1._1).map { case (a, m) => a -> m.size }
    val n1b = c2.groupBy(_._1._2).map { case (b, m) => b -> m.size }
    val nAll = c2.size.toDouble
    def p(bg: (String, String)): Double =
      ((c2(bg) - d) + (d * n1f(bg._1)) * (n1b(bg._2) / nAll)) /
        c1(bg._1)
    docBgs.map { case (id, bgs) =>
      id -> (if (bgs.isEmpty) None
             else Some((bgs.size.toLong,
               bgs.map(b => math.log(p(b))).sum / bgs.size)))
    }.toMap
  }

  test("e2e select: per-stratum k cap, dense ranks, only scored docs, " +
      "reservoir group limit stays partial") {
    val q = LlmQueries.e2eSelect(spark, sf0001)
    val out = q.collect()
    assert(out.nonEmpty)
    val perLang = out.groupBy(_.getAs[String]("lang"))
    perLang.foreach { case (lang, rows) =>
      assert(rows.length <= 20, s"$lang over cap")
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rows.length), s"$lang ranks not dense")
    }
    out.foreach(r => assert(!r.isNullAt(2), r.toString))
    // the reservoir contract survives the composition: a partial
    // WindowGroupLimit below the exchange (hot-stratum safety)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
    assert(plan.contains("Partial"), plan.take(800))
  }

  test("KN bigram LM: operator ≡ single-threaded reference at rounding " +
      "precision; smoothed P(·|ctx) sums to exactly 1 per context") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat sleeps and the dog jumps"),
      (3L, "a quick dog jumps over a brown fox and a cat"),
      (4L, "san francisco san francisco san francisco weather"),
      (5L, "the weather in san francisco stays brown"),
      (6L, "word"), (7L, ""))
    val got = graft.llm.TextAnalysis
      .knBigramLogprob(corpus.toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(2)) None
         else Some((r.getAs[Long]("n_bigrams"),
           r.getAs[Double]("kn_logprob"))))).toMap
    val ref = knRef(corpus)
    assert(got.keySet == ref.keySet)
    corpus.foreach { case (id, _) =>
      (got(id), ref(id)) match {
        case (None, None) => // sub-bigram docs NULL in both
        case (Some((gn, gs)), Some((rn, rs))) =>
          assert(gn == rn, s"doc $id n_bigrams $gn vs $rn")
          assert(math.abs(gs - rs) <= 6e-5,
            s"doc $id score $gs vs reference $rs")
        case other => fail(s"doc $id: $other")
      }
    }
    // normalization: for every context, the discounted seen mass plus
    // the continuation-weighted backoff mass restores exactly 1 over
    // the continuation vocabulary (the KN redistribution identity the
    // operator's formula encodes)
    def toks(t: String) = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    val bgs = corpus.flatMap(c => toks(c._2).sliding(2)
      .filter(_.size == 2).map(p => (p.head, p(1))))
    val c2 = bgs.groupBy(identity).map { case (b, x) => b -> x.size }
    val c1 = c2.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val n1f = c2.groupBy(_._1._1).map { case (a, m) => a -> m.size }
    val n1b = c2.groupBy(_._1._2).map { case (b, m) => b -> m.size }
    val vocab2 = n1b.keys.toSeq
    val nAll = c2.size.toDouble
    val d = 0.75
    c1.keys.foreach { a =>
      val mass = vocab2.map { b =>
        val disc = math.max(c2.getOrElse((a, b), 0) - d, 0.0)
        (disc + (d * n1f(a)) * (n1b(b) / nAll)) / c1(a)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-9, s"ctx $a sums to $mass")
    }
  }

  test("text norm: composed ≡ decomposed after NFC, zero-width/BOM " +
      "stripped, newlines become word boundaries, idempotent, " +
      "codegen compiles") {
    import spark.implicits._
    val composed = "café résumé"
    val decomposed = "café résumé"
    val rows = Seq(
      (1L, composed), (2L, decomposed),
      (3L, "﻿a​b  c\n\td"), // BOM, ZWSP, bell, ws runs
      (4L, "  plain ascii  "), (5L, null))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        graft.llm.TextAnalysis.normalizeText(col("text")).as("t"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) == out(2L), s"${out(1L)} vs ${out(2L)}")
    assert(out(1L) == composed)
    // every Cc/Cf became a word boundary (the ZWSP too — mapping to
    // space rather than deleting is the split-don't-concatenate
    // choice AND the idempotence guarantee), runs collapsed, the
    // trailing bell trimmed away
    assert(out(3L) == "a b c d", s"'${out(3L)}'")
    assert(out(4L) == "plain ascii")
    assert(out(5L) == null)
    // idempotence: a second pass changes nothing
    val again = rows.where(col("text").isNotNull).select(
      graft.llm.TextAnalysis.normalizeText(
        graft.llm.TextAnalysis.normalizeText(col("text"))).as("t2"),
      graft.llm.TextAnalysis.normalizeText(col("text")).as("t1"))
    assert(again.where(col("t1") =!= col("t2")).count() == 0)
    // the native NFC expression's codegen path (no silent fallback)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.functions.NfcNormalizeExpr(
      BoundReference(0, StringType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    assert(proj(InternalRow(UTF8String.fromString("é")))
      .getUTF8String(0).toString == "é")
    assert(proj(InternalRow(null)).isNullAt(0))
  }

  test("DSIR: target ≡ corpus scores EXACTLY zero everywhere; " +
      "target-like raw docs outscore alien docs; token-less NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat sat on the mat"),
      (3L, "a dog sat on a mat"), (4L, "the dog and the cat"),
      (10L, "the cat sat on a mat"), // target-like, outside the target
      (11L, "zq xv qq pp zz kk"),    // alien vocabulary
      (12L, "")).toDF("doc_id", "text")
    // identity: every bucket's target count equals its raw count and
    // Tt = Tr, so both ln differences vanish term by term → 0.0 exact
    val ident = graft.llm.TextAnalysis.dsirWeights(docs, lit(true))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(2)) None
         else Some(r.getAs[Double]("log_w")))).toMap
    assert(ident(12L).isEmpty)
    (Seq(1L, 2L, 3L, 4L, 10L, 11L)).foreach(id =>
      assert(ident(id).contains(0.0), s"doc $id: ${ident(id)}"))
    // selection direction: target = docs 1-4; the target-like doc 10
    // must outweigh the alien doc 11
    val sel = graft.llm.TextAnalysis.dsirWeights(docs,
        col("doc_id") <= 4L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(2)) None
         else Some(r.getAs[Double]("log_w")))).toMap
    assert(sel(10L).get > sel(11L).get,
      s"target-like ${sel(10L)} vs alien ${sel(11L)}")
  }

  /** Single-threaded interpolated trigram-KN reference (full
    * continuation-count recursion) for the pin below. */
  private def kn3Pad(ts: Seq[String], markers: Boolean): Seq[String] =
    if (markers && ts.nonEmpty) (Seq("<s>", "<s>") ++ ts) :+ "</s>"
    else ts

  private def kn3Ref(docs: Seq[(Long, String)], d: Double = 0.75,
      markers: Boolean = false)
      : Map[Long, Option[(Long, Double)]] = {
    def toks(t: String) = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    val docTgs = docs.map { case (id, t) =>
      id -> kn3Pad(toks(t), markers).sliding(3).filter(_.size == 3)
        .map(s => (s(0), s(1), s(2))).toSeq
    }
    val c3 = docTgs.flatMap(_._2).groupBy(identity)
      .map { case (g, xs) => g -> xs.size.toLong }
    val ctx2 = c3.groupBy(g => (g._1._1, g._1._2))
      .map { case (ab, m) => ab -> ((m.values.sum, m.size)) }
    val mid = c3.groupBy(g => (g._1._2, g._1._3))
      .map { case (bc, m) => bc -> m.size.toLong }
    val midCtx = mid.groupBy(_._1._1)
      .map { case (b, m) => b -> ((m.values.sum, m.size)) }
    val cont = mid.groupBy(_._1._2).map { case (c, m) => c -> m.size }
    val nAll = mid.size.toDouble
    def p3(g: (String, String, String)): Double = {
      val (a, b, c) = g
      val p2 = ((mid((b, c)) - d) +
        (d * midCtx(b)._2) * (cont(c) / nAll)) / midCtx(b)._1
      ((c3(g) - d) + (d * ctx2((a, b))._2) * p2) / ctx2((a, b))._1
    }
    docTgs.map { case (id, tgs) =>
      id -> (if (tgs.isEmpty) None
             else Some((tgs.size.toLong,
               tgs.map(g => math.log(p3(g))).sum / tgs.size)))
    }.toMap
  }

  test("KN trigram LM: operator ≡ single-threaded reference; " +
      "Σ_c P₃(c|ab) telescopes to exactly 1 through both levels — " +
      "in BOTH marker modes") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat sleeps and the quick dog jumps"),
      (3L, "a quick dog jumps over a brown fox and a cat sleeps"),
      (4L, "san francisco weather in san francisco stays brown"),
      (5L, "the weather in san francisco"),
      (6L, "two words"), (7L, ""))
    def toks(t: String) = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    Seq(false, true).foreach { markers =>
      val got = graft.llm.TextAnalysis
        .knTrigramLogprob(corpus.toDF("doc_id", "text"),
          markers = markers).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (if (r.isNullAt(2)) None
           else Some((r.getAs[Long]("n_trigrams"),
             r.getAs[Double]("kn3_logprob"))))).toMap
      val ref = kn3Ref(corpus, markers = markers)
      corpus.foreach { case (id, _) =>
        (got(id), ref(id)) match {
          case (None, None) => // too few tokens → NULL in both
          case (Some((gn, gs)), Some((rn, rs))) =>
            assert(gn == rn, s"doc $id n_trigrams $gn vs $rn " +
              s"(markers=$markers)")
            assert(math.abs(gs - rs) <= 6e-5,
              s"doc $id score $gs vs reference $rs (markers=$markers)")
          case other => fail(s"doc $id (markers=$markers): $other")
        }
      }
      // marker-mode shape: a 2-token doc HAS trigrams (n+1 = 3),
      // and only the empty doc stays NULL
      if (markers) {
        assert(got(6L).exists(_._1 == 3L), got(6L).toString)
        assert(got(7L).isEmpty)
      } else assert(got(6L).isEmpty && got(7L).isEmpty)
      // telescoping normalization: for every observed context (a, b),
      // Σ over the continuation vocabulary of the FULL smoothed P₃
      // (discounted seen trigrams + backoff through the mid level) is
      // exactly 1 — validates both levels' redistribution at once
      val tgs = corpus.flatMap(x => kn3Pad(toks(x._2), markers)
        .sliding(3).filter(_.size == 3).map(s => (s(0), s(1), s(2))))
      val c3 = tgs.groupBy(identity).map { case (g, x) => g -> x.size }
      val ctx2 = c3.groupBy(g => (g._1._1, g._1._2))
        .map { case (ab, m) => ab -> ((m.values.sum, m.size)) }
      val mid = c3.groupBy(g => (g._1._2, g._1._3))
        .map { case (bc, m) => bc -> m.size }
      val midCtx = mid.groupBy(_._1._1)
        .map { case (b, m) => b -> ((m.values.sum, m.size)) }
      val cont = mid.groupBy(_._1._2).map { case (c, m) => c -> m.size }
      val nAll = mid.size.toDouble
      val d = 0.75
      val vocabC = cont.keys.toSeq
      ctx2.keys.foreach { case (a, b) =>
        val mass = vocabC.map { c =>
          val p2 = if (!midCtx.contains(b)) 0.0
            else (math.max(mid.getOrElse((b, c), 0) - d, 0.0) +
              (d * midCtx(b)._2) * (cont(c) / nAll)) / midCtx(b)._1
          (math.max(c3.getOrElse((a, b, c), 0) - d, 0.0) +
            (d * ctx2((a, b))._2) * p2) / ctx2((a, b))._1
        }.sum
        assert(math.abs(mass - 1.0) < 1e-9,
          s"ctx ($a,$b) sums to $mass (markers=$markers)")
      }
    }
  }

  test("KN bigram LM: corpus-typical text outscores rare-continuation " +
      "gibberish (the CCNet filter direction survives smoothing)") {
    import spark.implicits._
    val docs = ((1 to 10).map(i =>
      (i.toLong, "the quick brown fox jumps the quick brown fox")) ++
      Seq((90L, "the zxq brown wvu"), (91L, "word")))
      .toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.knBigramLogprob(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(2)) None
         else Some(r.getAs[Double]("kn_logprob")))).toMap
    assert(out(91L).isEmpty)
    assert(out(1L).get > out(90L).get,
      s"common=${out(1L).get} gibberish=${out(90L).get}")
    // the no-clamp argument needs D ∈ (0, 1) — out-of-range discounts
    // must fail loudly, not silently NULL scores through log()
    intercept[IllegalArgumentException] {
      graft.llm.TextAnalysis.knBigramLogprob(docs, discount = 1.0)
    }
  }

  test("corpus stats: doc mass conserves across languages, percentiles " +
      "ordered, aggregation partial") {
    val nDocs = graft.Tables.load(spark, sf0001, "documents").count()
    val q = LlmQueries.corpusStats(spark, sf0001)
    val out = q.collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    out.foreach { r =>
      val (p50, p90, p99) = (r.getAs[Double]("p50_tokens"),
        r.getAs[Double]("p90_tokens"), r.getAs[Double]("p99_tokens"))
      assert(p50 <= p90 && p90 <= p99, r.toString)
      assert(r.getAs[Long]("total_tokens") >= r.getAs[Long]("n_docs"),
        r.toString)
    }
    // exact percentile must still combine map-side (partial + final)
    val plan = q.queryExecution.executedPlan.toString()
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      plan.take(500))
  }

  test("vocab: ranks dense, coverage monotone to ≤ 1, top-K via " +
      "TakeOrdered (no global sort)") {
    val q = LlmQueries.vocab(spark, sf0001)
    val out = q.orderBy("rank").collect()
    // the synthetic fixture draws from a ~31-token pool — smaller than
    // K=100, so the whole vocabulary surfaces and coverage ends at 1.0
    assert(out.length <= 100 && out.length > 10)
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to out.length))
    val cov = out.map(_.getAs[Double]("cum_coverage")).toSeq
    assert(cov == cov.sorted && cov.last == 1.0)
    val freqs = out.map(_.getAs[Long]("freq")).toSeq
    assert(freqs == freqs.sortBy(-_))
    assert(q.queryExecution.executedPlan.toString()
      .contains("TakeOrderedAndProject"), "top-K lost TakeOrdered")
  }

  test("lang id picks a language deterministically; quality verdicts total") {
    val lang = LlmQueries.langId(spark, sf0001)
    assert(lang.count() == 500)
    assert(lang.where(col("lang_pred").isNull).count() == 0)
    val q = LlmQueries.quality(spark, sf0001)
    assert(q.where(col("verdict").isin("keep", "drop")).count() == 500)
  }

  test("multimodal metadata round-trips through mapPartitions plumbing") {
    val out = LlmQueries.multimodal(spark, sf0001)
    val row = out.where(col("doc_id") === 0).head()
    val nBytes = row.getAs[Long]("n_bytes")
    assert(nBytes > 0)
    assert(row.getAs[Int]("width") == (64 + nBytes % 1856).toInt)
    assert(row.getAs[Int]("target_w") <= 256)
    assert(row.getAs[Long]("n_sampled") ==
      (row.getAs[Int]("n_frames") - 1) / 10 + 1)
  }
}
