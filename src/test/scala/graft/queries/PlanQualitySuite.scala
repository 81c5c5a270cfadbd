package graft.queries

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

import graft.SparkSpec

/** Regression guards for the 100 TB plan invariants (SCALE.md): these
  * fail if a future change silently loses pushdown, broadcasts, or
  * top-k planning — the plan properties are part of the contract, not
  * just the results.
  */
class PlanQualitySuite extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString()

  /** Distinct (stageId, exec|REUSED, partitioning) triples of a
    * collected query's adaptive plan. QueryStageExec nodes are LEAVES
    * (children = Nil) — the subtree hangs off `.plan`, which is why a
    * naive children-walk sees zero stages. */
  private def stageCensus(plan: SparkPlan): Seq[(Int, String, String)] = {
    def walk(p: SparkPlan): Seq[(Int, String, String)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec =>
        val self = q.plan match {
          case _: ReusedExchangeExec => Seq((q.id, "REUSED",
            q.plan.outputPartitioning.toString.take(60)))
          case _: ShuffleExchangeExec => Seq((q.id, "exec",
            q.plan.outputPartitioning.toString.take(60)))
          case _ => Nil
        }
        self ++ walk(q.plan)
      case other => other.children.flatMap(walk)
    }
    walk(plan).distinct.sortBy(_._1)
  }

  test("q2: filters and projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(500))
    assert(p.contains("LessThan(l_shipdate"), "shipdate filter not pushed")
    assert(!p.contains("l_extendedprice"), "projection not pruned")
  }

  test("op_funnel: step filters reach the parquet scan; op_retention " +
      "has no Expand (pre-dedup replaced count(DISTINCT))") {
    val f = plan("op_funnel")
    // each step leg must scan WITH its event_type pushed — an
    // unfiltered scan replicated per leg reads the log k times over
    assert(f.contains("EqualTo(event_type,view)") &&
      f.contains("EqualTo(event_type,click)") &&
      f.contains("EqualTo(event_type,purchase)"),
      s"step filters not pushed:\n${f.take(1500)}")
    assert(!f.contains("Window"), "funnel plans a window")
    val r = plan("op_retention")
    assert(!r.contains("Expand"),
      "retention plans Expand — a count(DISTINCT) slipped back in")
    assert(!r.contains("Window"), "retention plans a window")
    // sequence_match inherits the funnel contract: per-leg pushdown,
    // no window; its stage DISTINCTs are partial-aggregated groupBys
    val sm = plan("op_sequence_match")
    assert(sm.contains("EqualTo(event_type,view)") &&
      sm.contains("EqualTo(event_type,click)") &&
      sm.contains("EqualTo(event_type,purchase)"),
      s"sequence legs not pushed:\n${sm.take(1500)}")
    assert(!sm.contains("Window"), "sequence_match plans a window")
  }

  test("q3/q13: dimension joins broadcast — no fact-table shuffle join") {
    Seq("q3_join_agg", "q13_star_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q shuffles the fact table")
    }
  }

  test("q6: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan("q6_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("q1: aggregation is partial (map-side) before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), "no hash aggregate")
    // partial + final = two HashAggregate occurrences
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no partial agg")
  }

  test("no accidental cartesian products or driver-hostile joins anywhere") {
    // A CartesianProduct / BroadcastNestedLoopJoin in a plan is the
    // classic would-not-survive-100× smell. The ANN queries broadcast
    // an intentionally tiny query set against the corpus — that
    // nested-loop is the design (corpus never shuffles) — everything
    // else must plan keyed joins.
    // llm_typicality's "nested loop" is the scalar-subquery shape: a
    // broadcast SINGLE-ROW aggregate (the corpus token total) crossed
    // into every row — constant-size build, scan-speed probe.
    // llm_vocab and llm_tfidf reuse exactly that shape (corpus total /
    // doc count as the one-row build); llm_ann_pq is the ANN case —
    // the tiny query side broadcasts into the compressed-domain scan
    // so the corpus never shuffles.
    // llm_pagerank's final mean-1 normalization crosses the one-row
    // vertex-count aggregate into the rank vector — the same shape.
    // llm_quality_model_lm lost its whitelist slot in round 13: the
    // tokenize-once LM restructure joins the per-kind totals as a
    // broadcast equi-join on `kind` (a 2-row table) instead of
    // crossing two one-row totals, so the plan has no nested loop to
    // exempt any more.
    // op_ts_topk is bruteForceTopK over per-user series — the ANN
    // shape with user_id as the tiny filtered query side.
    // llm_kn_lm crosses the one-row N₁₊(··) bigram-type total into the
    // per-doc chain — the typicality scalar-subquery shape again.
    // llm_dsir's smoothing-mass totals are the same one-row scalar
    // aggregate riding a broadcast crossJoin.
    // llm_kn3_lm_bos is llm_kn3_lm with boundary markers — the same
    // one-row N₁₊(··) scalar rides the same broadcast crossJoin.
    val intentional = Set("llm_ann_topk", "llm_ann_lsh", "llm_ann_ivf",
      "llm_embed_dup", "llm_typicality", "llm_vocab", "llm_tfidf",
      "llm_ann_pq", "llm_pagerank", "op_ts_topk", "llm_kn_lm",
      "llm_dsir", "llm_e2e_select", "llm_kn3_lm", "llm_kn3_lm_bos")
    val maxLoops = Map[String, Int]().withDefaultValue(1)
    graft.SparkEntry.queries.keys.filterNot(intentional).foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: nested-loop join")
    }
    // Whitelist-rot guard: the exemption covers ONLY the two known
    // shapes — a one-row scalar aggregate (HashAggregate with no
    // grouping keys feeding the broadcast) or a tiny filtered query
    // set (the ANN `vec_id < N` pushdown). A future edit introducing
    // a REAL cartesian in a whitelisted query must fail here, not
    // coast on the exemption.
    intentional.foreach { name =>
      val p = plan(name)
      if (p.contains("BroadcastNestedLoopJoin")) {
        assert("BroadcastNestedLoopJoin".r.findAllIn(p).length
            <= maxLoops(name),
          s"$name: more nested loops than the intentional shapes")
        val scalarBuild = p.contains("HashAggregate(keys=[],")
        // per-query expected query-side key, so widening the whitelist
        // for one query never loosens the rot guard for the others
        val querySideKey = Map("op_ts_topk" -> "user_id")
          .withDefaultValue("vec_id")
        val tinyQuerySide =
          s"PushedFilters: \\[[^\\]]*LessThan\\(${querySideKey(name)}"
            .r.findFirstIn(p).isDefined
        assert(scalarBuild || tinyQuerySide,
          s"$name: nested-loop build is neither a scalar aggregate " +
            "nor the filtered ANN query set")
      }
    }
  }

  test("LSH dedup verify joins never broadcast the corpus payload") {
    // The verify join-back fetches the FULL corpus's shingle sets /
    // vectors by id. A static broadcast there ships the whole corpus
    // through the driver — fine at sf0.1, an OOM at 100 TB. The
    // static plan must be shuffle joins end-to-end; only AQE may
    // demote a side to broadcast at runtime from MEASURED sizes.
    // ONE broadcast IS by design: dropHotKeys' LeftAnti join against
    // the hot-bucket key set (keys over the cap — a handful of longs
    // by construction, never payloads). Inner broadcast joins remain
    // forbidden.
    Seq("llm_minhash_lsh", "llm_minhash_md5", "llm_embed_dup_lsh",
      "llm_embed_dup_lsh_md5").foreach { q =>
      val p = plan(q)
      val bhj = "BroadcastHashJoin [^\\n]*".r.findAllIn(p).toList
      bhj.foreach { j =>
        assert(j.contains("LeftAnti"),
          s"$q statically plans a non-anti broadcast join: $j")
      }
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop broadcast join")
      // broadcasts must be exactly the anti-join builds — no extra
      // BroadcastExchange feeding anything else
      assert("BroadcastExchange".r.findAllIn(p).length == bhj.length,
        s"$q has a broadcast feeding a non-anti join")
    }
  }

  test("decontaminate broadcasts the benchmark side, never the corpus") {
    // The intended shape: benchmark fingerprints (small by definition)
    // broadcast; the corpus side map-only into one groupBy. A
    // SortMergeJoin here means the corpus started shuffling against
    // the benchmark — the would-not-survive-100TB regression.
    val p = plan("llm_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark side not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffles for the join")
    // the benchmark-side report shares the shape: (bench_id, fp)
    // broadcasts, corpus stays map-only into partial-aggregated
    // groupBys
    val r = plan("llm_contamination_report")
    assert(r.contains("BroadcastHashJoin"), "report: benchmark not broadcast")
    assert(!r.contains("SortMergeJoin"), "report: corpus shuffles for join")
  }

  test("map-only operators stay map-only: no joins or aggregates planned") {
    // These passes must run at scan speed at 100 TB — a join or
    // aggregation appearing in their plans is a design regression.
    // (The only exchange allowed is the fixture-size repartition the
    // query helper adds for single-split parquet.)
    Seq("llm_pii", "llm_sample_mix", "llm_sample_score",
      "llm_holdout_split", "llm_upsample", "llm_chunk", "llm_lang_id",
      "llm_token_count", "llm_fingerprint", "llm_winnow",
      "op_proto_decode").foreach { q =>
      val p = plan(q)
      Seq("Join", "HashAggregate", "SortAggregate", "ObjectHashAggregate",
        "Window").foreach { node =>
        assert(!p.contains(node), s"$q plans a $node — no longer map-only")
      }
    }
  }

  test("typicality plans no window — tf comes from partial-aggregated " +
      "groupBys and a skew-splittable join") {
    // The round-5 shape (count over Window.partitionBy(tok)) shuffled
    // every raw token occurrence keyed by a Zipf-skewed vocabulary
    // into single-task window partitions — the classic 100 TB
    // straggler. The contract now: no Window anywhere, and the
    // occurrence pass partial-aggregates before its exchange.
    val p = plan("llm_typicality")
    assert(!p.contains("Window"), "typicality regressed to a window")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "typicality lost partial aggregation")
  }

  test("bigram LM inherits the typicality contract: no window, counts " +
      "partial-aggregated") {
    val p = plan("llm_bigram_lm")
    assert(!p.contains("Window"), "bigram LM regressed to a window")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "bigram LM lost partial aggregation")
  }

  test("KN bigram LM inherits the same contract: no window, counts " +
      "partial-aggregated") {
    val p = plan("llm_kn_lm")
    assert(!p.contains("Window"), "KN LM regressed to a window")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "KN LM lost partial aggregation")
    // the continuation/context type counts must stay plain count(*)
    // over the distinct-bigram table — an Expand in the plan means
    // someone rewrote them as count(DISTINCT …)
    assert(!p.contains("Expand"), "type counts regressed to Expand")
  }

  test("KN trigram LM inherits the same contract (both marker modes)") {
    Seq("llm_kn3_lm", "llm_kn3_lm_bos").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window"), s"$name regressed to a window")
      assert("HashAggregate".r.findAllIn(p).length >= 4,
        s"$name lost partial aggregation")
      assert(!p.contains("Expand"),
        s"$name type counts regressed to Expand")
    }
  }

  test("e2e prepare composes the stages' plan invariants") {
    // The composed pipeline must inherit each stage's plan contract:
    // the decontamination benchmark side broadcasts (never a
    // SortMergeJoin against the corpus), and the packing window is
    // present. (The no-cartesian test already covers e2e — it is
    // deliberately NOT whitelisted there.)
    val p = plan("llm_e2e_prepare")
    assert(p.contains("BroadcastHashJoin"), "benchmark side not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus shuffles for a join")
    assert(p.contains("Window"), "lost the packing prefix-sum window")
  }

  test("source cap plans a partial WindowGroupLimit below the exchange") {
    // The per-key cap must stay the declarative rank-filter so
    // InferWindowGroupLimit keeps the PARTIAL group limit on the map
    // side — a hot domain then ships at most cap × nMapPartitions
    // rows to its reducer instead of its whole payload (the Zipf
    // domain-size hazard at 100 TB).
    val p = plan("llm_source_cap")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined,
      "no map-side (Partial) WindowGroupLimit")
    assert("WindowGroupLimit.*Final".r.findFirstIn(p).isDefined,
      "no reduce-side (Final) WindowGroupLimit")
  }

  test("weighted reservoir plans a partial WindowGroupLimit (capPerKey contract)") {
    val p = plan("llm_reservoir")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined,
      "no map-side (Partial) WindowGroupLimit")
  }

  test("q22 lateral LIMIT decorrelates to a partial group limit + broadcast dim") {
    // The correlated ORDER BY+LIMIT lateral must NOT execute per outer
    // row: Catalyst decorrelates it into the llm_source_cap shape — a
    // PARTIAL WindowGroupLimit below the customer exchange (a hot
    // nation ships ≤ 3 × nMapPartitions rows) joined to the broadcast
    // nation dimension.
    val p = plan("q22_lateral")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined,
      "no map-side (Partial) WindowGroupLimit")
    assert(p.contains("BroadcastHashJoin"), "dimension not broadcast")
    assert(!p.contains("SortMergeJoin"), "fact side shuffled for the join")
  }

  test("token budget: shard-wide windows, broadcast offsets, reused " +
      "exchange") {
    val p = plan("llm_token_budget")
    // the per-doc prefix window must partition by (stratum, shard) —
    // a window partitioned by the stratum alone is the parallelism =
    // #strata trap the two-level prefix sum exists to avoid
    assert(p.contains("windowspecdefinition(lang#") &&
      p.contains("_shard"), "lost the (stratum, shard) window")
    assert(p.contains("BroadcastHashJoin"), "offsets not broadcast")
    assert(!p.contains("SortMergeJoin"), "offset join shuffles the corpus")
    // the nullable-join-key re-inline trap (SCALE.md): an inferred
    // isnotnull on the derived shard pushes the md5 bucket chain into
    // a scan Filter AND breaks the canonical equality that lets the
    // offsets branch reuse the spine's exchange
    assert(!p.contains("isnotnull(pmod") && !p.contains("isnotnull(("),
      "inferred isnotnull on the derived shard key")
    // runtime pin: the offsets branch must READ the spine's shuffle,
    // not re-scan + re-tokenize the corpus
    val df = graft.SparkEntry.queries("llm_token_budget")(spark, sf0001)
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("ReusedExchange"), "offsets branch re-scans the corpus")
  }

  test("capped-op re-construction runs zero jobs (probe memo)") {
    // The dropHotKeys probe is an EAGER job at plan-construction time
    // (the plan shape depends on its result — documented contract at
    // the SparkEntry.queries boundary). The memo keys on the
    // canonicalized probe plan, so CONSTRUCTING the same capped query
    // again must run no job at all: Bench passes, Verify-after-suite,
    // and plan-only tooling pay the probe once per JVM.
    import java.util.concurrent.atomic.AtomicInteger
    val jobs = new AtomicInteger(0)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.startsWith("probe-memo-marker")) seen.add(g)
        else jobs.incrementAndGet()
        ()
      }
    }
    // marker actions bound the async listener bus: each flush runs
    // under a UNIQUE job group; its first job starts after every
    // previously-submitted job, so once that group's JobStart has been
    // processed, every earlier job has been counted too
    def flush(id: Int): Int = {
      val g = s"probe-memo-marker-$id"
      spark.sparkContext.setJobGroup(g, "listener flush")
      try spark.range(1).count() finally
        spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(g) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(g), "listener flush timed out")
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // first construction may itself be memoized (another suite in
      // this JVM constructed the same query) — only the DELTA between
      // identical constructions is pinned
      graft.SparkEntry.queries("llm_containment")(spark, sf0001)
      val afterFirst = flush(1)
      graft.SparkEntry.queries("llm_containment")(spark, sf0001)
      val afterSecond = flush(2)
      assert(afterSecond == afterFirst,
        s"re-construction ran ${afterSecond - afterFirst} job(s) — " +
          "the probe memo missed (plan canonicalization changed?)")
      // same contract for the heavy-hitters sketch pass
      graft.SparkEntry.queries("op_heavy_hitters")(spark, sf0001)
      val afterThird = flush(3)
      graft.SparkEntry.queries("op_heavy_hitters")(spark, sf0001)
      val afterFourth = flush(4)
      assert(afterFourth == afterThird,
        s"op_heavy_hitters re-construction ran " +
          s"${afterFourth - afterThird} job(s) — sketch memo missed")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("e2e pipelines shuffle the corpus fingerprint exactly once") {
    // Decontamination flags from the RAW corpus (scan + map-only
    // winnow), not the dedup tail — otherwise the flag subquery
    // re-runs the whole dedup lineage, including its full-text
    // fingerprint shuffle, a second time (measured on the fuzzy
    // capstone's plan before the flagFrom fix: two identical
    // hashpartitioning(fingerprint) exchanges over the corpus text).
    val n = "hashpartitioning\\(fingerprint".r
      .findAllIn(plan("llm_e2e_prepare")).length
    assert(n == 1, s"llm_e2e_prepare: $n fingerprint exchanges (want 1)")
    // The fuzzy capstone's exact-dedup spine is lazily CHECKPOINTED
    // since round 15 (fuzzySurvivorsOf: the spine fed both the
    // minhash-pair lineage and the anti-join, re-running the
    // quality/lang/fingerprint work twice — NoopTime A/B, SCALE.md
    // round 15). Its one fingerprint exchange now lives inside the
    // checkpoint's materialization; the FINAL plan must carry ZERO
    // fingerprint exchanges and read the spine back as an RDD scan.
    // A fingerprint exchange reappearing here means the checkpoint
    // was bypassed and the dedup lineage is being re-run.
    val pf = plan("llm_e2e_prepare_fuzzy")
    val nf = "hashpartitioning\\(fingerprint".r.findAllIn(pf).length
    assert(nf == 0, s"llm_e2e_prepare_fuzzy: $nf fingerprint " +
      "exchanges (want 0 — the checkpointed spine absorbs it)")
    assert(pf.contains("ExistingRDD"),
      "llm_e2e_prepare_fuzzy: no RDD scan — the survivor spine is " +
        "not checkpointed:\n" + pf.take(1200))
  }

  test("spans capstone: survivors persist barrier absorbs the triple " +
      "consumption — no fingerprint exchange in the final plan") {
    // Decontamination on the CUT text means the flag subquery carries
    // the whole survivors+cut lineage a second time, and column
    // pruning (the flag branch drops `lang`) splits the exact-dedup
    // fingerprint aggregate into canonically-unequal exchange variants
    // that exchange reuse cannot dedupe — measured 2 executions of the
    // scan + signal + fingerprint work before the barrier (SCALE.md
    // round 8). The persist(MEMORY_AND_DISK) barrier on survivors
    // computes that lineage ONCE into the cache; the final plan must
    // read it back through InMemoryTableScans (one per consumer) and
    // contain NO fingerprint exchange of its own. A fingerprint stage
    // reappearing here means the cache was bypassed (plan stopped
    // canonicalizing equal to the persisted one).
    val df = graft.SparkEntry.queries("llm_e2e_prepare_spans")(spark, sf0001)
    try {
      df.collect()
      val census = stageCensus(df.queryExecution.executedPlan)
      val fpExec = census.count(t =>
        t._2 == "exec" && t._3.contains("fingerprint"))
      assert(fpExec == 0,
        s"$fpExec executed fingerprint stages (want 0 — the persist " +
          s"barrier should absorb the survivor lineage): $census")
      val scans = df.queryExecution.executedPlan.toString()
      assert("InMemoryTableScan".r.findAllIn(scans).length >= 2,
        "survivors cache not consumed by both branches:\n" +
          scans.take(1200))
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("packing plans one shard-partitioned window, no join") {
    // The design: ONE shuffle by shard + a per-shard window + map-only
    // span arithmetic. A join or a second aggregate appearing here
    // means the packing stream stopped being shard-parallel.
    val p = plan("llm_pack")
    assert(p.contains("Window"), "lost the per-shard prefix-sum window")
    assert(!p.contains("Join"), "packing plans a join")
    // exchanges: the fixture-size repartition + the shard shuffle
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"extra exchange in packing plan:\n${p.take(800)}")
  }

  test("no expensive native expression is re-evaluated in a Filter node " +
      "anywhere (explode/join-key pushdown re-inline guard)") {
    // Two pushdown mechanisms re-ran shingle/signature passes inside
    // scan filters, in separate stages from their projections (round-6
    // sweep, SCALE.md): explode's implicit size/notnull filter, and
    // isnotnull(<expr>) inferred from JOIN conditions on nullable
    // expressions. Both are fixed by outer explodes + null tests on
    // GENERATED columns and coalesce on join keys; this guard keeps
    // them fixed. (Filter nodes on the cheap tokenizer regexp alone
    // are exempt where the whole operator is a single scan stage.)
    val heavy = Seq("hashed_shingles", "shingle_md5_hash64",
      "hyperplane_sigs", "simhash64(", "minhash_signature",
      "proto_parse", "proto_encode")
    graft.SparkEntry.queries.keys
      .filter(q => q.startsWith("llm_") || q.startsWith("op_"))
      .foreach { q =>
        plan(q).linesIterator.filter(_.contains("Filter")).foreach { line =>
          heavy.foreach { e =>
            assert(!line.contains(e),
              s"$q re-evaluates $e in a Filter:\n${line.take(300)}")
          }
        }
      }
  }

  test("every registered query runs at sf0.001 (driver smoke parity)") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty, s"$name has no columns")
      // op_pipeline_sink executes eagerly inside the builder; others
      // stay lazy — limit(1) forces one row through the whole plan.
      assert(df.limit(1).collect().length <= 1, s"$name failed to run")
    }
  }

  test("flagship entry returns rows on sf0.001 (driver smoke)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
