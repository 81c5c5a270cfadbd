package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the correctness baseline; LSH
  * (random-hyperplane) bucketing and label-blocked near-dup as the
  * scale paths.
  *
  * Scale stance: brute-force is O(|Q|·|C|) — only sane when |Q| is
  * small and broadcastable (it is here: queries are broadcast, the
  * corpus is never shuffled). The LSH variant buckets both sides so
  * the join is bucket-local; recall is tunable with more tables /
  * multi-probe.
  */
object Similarity {

  /** Sequential-order dot product over two double arrays. Both Spark
    * and DuckDB accumulate left-to-right in IEEE doubles, so results
    * are bit-comparable with the DuckDB oracle. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded), ranked by rounded cosine with
    * id tie-break (fully deterministic output set). Queries are
    * broadcast — corpus stays partition-local. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Norms are materialized per side BEFORE the join — computed once
    // per vector, not once per (query, corpus) pair.
    // zero-norm clamp (CLAUDE.md invariant): unclamped, a zero vector
    // yields NaN sim and NaN-is-largest ordering would rank it FIRST
    // for every query. (The DuckDB oracle has no clamp, but the
    // fixture has no zero vectors — on real data the operator is sane
    // where the naive SQL is not.)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", greatest(norm(col("qv")), lit(1e-12)))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", greatest(norm(col("cv")), lit(1e-12)))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Deterministic ±1 random hyperplanes: sign(j, d) from xxhash64. */
  private def planeSign(j: Int, d: Column, seed: Long): Column =
    when(pmod(xxhash64(lit(j), d, lit(seed)), lit(2)) === 0, lit(1.0d))
      .otherwise(lit(-1.0d))

  /** `nBits`-bit random-hyperplane signature of an embedding: bit j =
    * sign of the projection onto pseudo-random ±1 plane j. Pure
    * expression; at scale this is the bucketing key for ANN. The
    * dimension-index array is `bindOnce`-bound: it is shared by every
    * bit's zip_with, and HOF lambdas get no CSE (SCALE.md lesson 1) —
    * unbound, each of the nBits projections would rebuild it per row. */
  def lshSignature(vec: Column, nBits: Int = 16, seed: Long = 42L): Column =
    graft.functions.ExprUtils.bindOnce(
      sequence(lit(0), size(vec) - 1)) { idx =>
      val bits = (0 until nBits).map { j =>
        val proj = aggregate(
          zip_with(vec, idx, (x, d) => x * planeSign(j, d, seed)),
          lit(0.0d), (acc, v) => acc + v)
        when(proj > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
      }
      bits.reduce((a, b) => a.bitwiseOR(b))
    }

  /** LSH-bucketed ANN top-k: `nTables` independent hyperplane tables
    * (OR-amplification — a pair is a candidate if it collides in ANY
    * table) with optional ±1-bit multi-probe on the query side. A
    * single table's bucket-collision probability for a neighbor at
    * angle θ is (1−θ/π)^nBits — far too sharp a cliff for the moderate
    * cosines real nearest neighbors sit at; recall 1−(1−p^b)^T is
    * tuned with nTables, and multi-probe widens each table's probe to
    * the nBits adjacent buckets without growing the corpus index.
    *
    * Scale shape: the corpus index is a map-only explode (nTables
    * entries per vector — index build cost, no shuffle); the probe
    * join is bucket-local with the tiny query side broadcast, so the
    * corpus is never shuffled. Duplicate candidates (a pair colliding
    * in several tables/probes) dedup via a groupBy over narrow
    * (query, neighbor, sim) rows — candidates only, never payloads. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nBits: Int = 8, nTables: Int = 8, multiProbe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, md5Signs: Boolean = false): DataFrame = {
    def banded(df: DataFrame, outId: String, outVec: String,
        outNorm: String): DataFrame =
      df.select(col(idCol).as(outId),
        col(vecCol).cast("array<double>").as(outVec))
        // zero-norm clamp (CLAUDE.md invariant): an unclamped zero
        // vector yields 0/0 = NaN sim, and NaN-is-largest ordering
        // would rank the junk vector FIRST in every top-k it reaches
        // (zero vectors sit in bucket 0 of every table)
        .withColumn(outNorm, greatest(norm(col(outVec)), lit(1e-12)))
        .select(col(outId), col(outVec), col(outNorm),
          // all nTables signatures in one native pass (bit-identical
          // to per-table lshSignature calls — see HyperplaneSigsExpr).
          // outer explode + null test on the GENERATED column: plain
          // posexplode's implicit size/notnull filter re-evaluates the
          // whole sig pass below the exchange (shingleInv lesson)
          posexplode_outer(graft.functions.HyperplaneSigsExpr
            .hyperplane_sigs(col(outVec), nBits, nTables, seed, md5Signs)))
        .withColumnRenamed("pos", "table")
        .withColumnRenamed("col", "sig")
        .where(col("sig").isNotNull)
    require(multiProbe >= 0 && multiProbe <= 2,
      s"multiProbe=$multiProbe: supported probe radii are 0, 1, 2")
    val cB = banded(corpus, "neighbor_id", "cv", "cn")
      .withColumnRenamed("sig", "bucket")
    val qSig = banded(queries, "query_id", "qv", "qn")
    // multi-probe: each query also probes every bucket within hamming
    // distance `multiProbe` of its signature, in every table
    // (query-side fan-out only: 1 + nBits [+ nBits·(nBits−1)/2]
    // probes per table; the corpus index never grows).
    val flips: Seq[Column] =
      Seq(col("sig")) ++
        (if (multiProbe >= 1) (0 until nBits).map(j =>
          col("sig").bitwiseXOR(lit(1L << j))) else Nil) ++
        (if (multiProbe >= 2) (for {
          j <- 0 until nBits; k <- j + 1 until nBits
        } yield col("sig").bitwiseXOR(lit((1L << j) | (1L << k)))) else Nil)
    val qB = if (multiProbe <= 0) qSig.withColumn("bucket", col("sig"))
      else qSig.withColumn("bucket", explode(array(flips: _*)))
    val scored = cB.join(broadcast(qB.drop("sig")), Seq("table", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .select("query_id", "neighbor_id", "sim")
    // sim is deterministic per pair, so max() is just the dedup.
    val uniq = scored.groupBy("query_id", "neighbor_id")
      .agg(max(col("sim")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    uniq.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** IVF (inverted-file) ANN top-k: a KMeans coarse quantizer assigns
    * every corpus vector to its nearest centroid; queries probe only
    * the `nProbe` nearest cells. The classic large-scale ANN layout:
    * the corpus is partitioned by cell id, a probe touches
    * nProbe/nCentroids of the data, and recall is tuned by nProbe.
    *
    * Scale shape: the KMeans fit consumes only a seeded SAMPLE of the
    * corpus (centroid quality needs a sketch, not every row), and cell
    * assignment is MAP-ONLY — the centroids ride along as literals in
    * the task binary and each row takes an argmax over `nCentroids`
    * dot products. (Round 1 assigned via crossJoin(centroids)+Window:
    * a |corpus|×nCentroids row inflation through a shuffle — the
    * dominant exchange at 100×.)
    */
  /** `fitSampleFraction`/`fitPartitions`: the quantizer needs a
    * bounded SKETCH, not a fraction — at 100 TB size the fraction so
    * the sample is ~10⁵-10⁶ vectors and `fitPartitions` to the
    * cluster (the deterministic-layout shuffle routes the whole
    * sample through that many partitions; the 16-partition default
    * fits the fixture, not a 25% slice of a 100 TB corpus). Both are
    * part of the determinism key: results are a pure function of
    * (data, seed, fitSampleFraction, fitPartitions). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, fitSampleFraction: Double = 0.25,
      fitPartitions: Int = 16): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      // zero-norm clamp (CLAUDE.md invariant) — see bruteForceTopK
      .withColumn("cn", greatest(norm(col("cv")), lit(1e-12)))
    // Random init + few iterations: for a coarse quantizer the cells
    // only need to be balanced-ish, not optimal — k-means|| init alone
    // costs more distributed passes than the whole Lloyd refinement,
    // and recall is governed by nProbe, not centroid polish.
    val km = new KMeans().setK(nCentroids).setSeed(seed)
      .setInitMode("random").setMaxIter(8)
      .setFeaturesCol("features")
    // The fit input MUST be cached: Spark ML re-evaluates an uncached
    // input on every Lloyd iteration (8× parquet re-read + vector
    // re-derivation here — and it warns "input is not directly
    // cached"). Freed as soon as the fit returns.
    //
    // Deterministic sample + layout: sample membership is a pure
    // function of (id, seed) — a stable xxhash64 bucket — NOT
    // df.sample(), which seeds per PARTITION and so picks a different
    // row set whenever the upstream layout changes. The sampled rows
    // are then hash-repartitioned by id and sorted within partitions,
    // so the KMeans fit (random init via takeSample + Lloyd's
    // partition-wise float sums, both layout-sensitive) sees identical
    // points in identical order regardless of how the corpus arrived —
    // same seed ⇒ identical centroids ⇒ identical cell assignment
    // (pinned by the LlmSuite determinism property). The extra
    // shuffle+sort touches only the fit SAMPLE, not the corpus.
    // Centroids are driver-side constants from here on; the fit is an
    // index-construction job, memoized per (corpus plan, params) like
    // the other construction-time artifacts (fit layout is canonical,
    // so the memoized centroids ≡ any fresh fit).
    val centArrs = indexMemo(corpus, "ivfKmeans", nCentroids, seed,
        fitSampleFraction, fitPartitions, idCol, vecCol) {
      val fitInput = c
        .where(pmod(xxhash64(col("neighbor_id"), lit(seed)), lit(10000L))
          < lit(math.round(fitSampleFraction * 10000)))
        .repartition(fitPartitions, col("neighbor_id"))
        .sortWithinPartitions("neighbor_id")
        .select(array_to_vector(col("cv")).as("features"))
        .persist()
      val model =
        try km.fit(fitInput)
        finally fitInput.unpersist(blocking = false)
      model.clusterCenters.map(_.toArray.toSeq).toSeq
    }.asInstanceOf[Seq[Seq[Double]]]
    ivfTopKFrom(queries, corpus, k, centArrs, nProbe, idCol, vecCol)
  }

  // Index-construction memo: centroid/codebook artifacts per (input
  // plan, artifact, params). Every producer below is
  // partitioning-deterministic (ORDER BY id LIMIT n; the canonical
  // KMeans fit layout; pqTrainLloyd's long-quantized sums), so the
  // memoized artifact is bit-identical to a fresh construction.
  private val indexMemo = new graft.plans.PlanMemo[AnyRef](32)

  /** The nCentroids lowest-id corpus vectors, as driver-side centroid
    * literals — the deterministic, SQL-reproducible coarse quantizer
    * for [[ivfTopKFrom]]'s oracle twin: sample points ARE a legitimate
    * Voronoi quantizer (recall is governed by nProbe, not centroid
    * polish — the [[ivfTopK]] scaladoc's own argument), and "ORDER BY
    * id LIMIT n" is reproducible in any engine, where a KMeans fit
    * (partition-wise float sums) is not. Collects n tiny rows;
    * memoized per (corpus plan, params) — the construction-job
    * discipline. */
  def lowestIdCentroids(corpus: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Double]] =
    indexMemo(corpus, "lowestIdCentroids", nCentroids, idCol, vecCol) {
      val rows = corpus
        .select(col(idCol), col(vecCol).cast("array<double>").as("cv"))
        .orderBy(col(idCol)).limit(nCentroids)
        .select("cv").collect()
      require(rows.length == nCentroids,
        s"corpus has only ${rows.length} rows for $nCentroids centroids")
      rows.map(_.getSeq[Double](0).toSeq).toSeq
    }.asInstanceOf[Seq[Seq[Double]]]

  /** Per-row array of normalized centroid dots — map-only; centroid
    * norms are accumulated left-to-right like `norm` so rankings
    * agree with the expression form bit-for-bit. Shared by the IVF
    * family ([[ivfTopKFrom]]) and [[semDedupFrom]]. */
  private def cellScoresFn(centArrs: Seq[Seq[Double]]): Column => Column = {
    val centNorms: Seq[Double] = centArrs.map { a =>
      var s = 0.0; a.foreach(x => s += x * x)
      math.max(math.sqrt(s), 1e-12)
    }
    vec => array(centArrs.indices.map { i =>
      dot(vec, typedlit(centArrs(i))) / lit(centNorms(i))
    }: _*)
  }

  /** argmax cell id over a score array: array_position finds the
    * FIRST max → lowest cid on ties. */
  private def argmaxCid(scores: Column): Column =
    (array_position(scores, array_max(scores)) - 1).cast("int")

  /** Flat argmax assignment (vec → cid) — the default quantizer
    * assignment of the IVF/SemDeDup family: k normalized centroid
    * dots, first-max tie-break. O(k) dots per row. */
  private[graft] def flatAssignFn(centArrs: Seq[Seq[Double]]): Column => Column = {
    val cellScores = cellScoresFn(centArrs)
    vec => graft.functions.ExprUtils.bindOnce(cellScores(vec))(argmaxCid)
  }

  /** Two-level (coarse → fine) quantizer assignment — the flat
    * argmax's O(n·k) remedy when k scales with the corpus (SemDeDup's
    * k ∝ n makes flat assignment O(n²) dot products): route each
    * vector through `nCoarse` anchor dots to a coarse group, then
    * argmax only over that group's member centroids — ~nCoarse + k/
    * nCoarse dots per row, minimized at nCoarse ≈ √k (≈ 2√k total, a
    * √k/2-fold drop). This is the standard IMI/two-level-IVF routing
    * (Babenko & Lempitsky, "The Inverted Multi-Index", CVPR 2012 —
    * same idea, product form).
    *
    * Deterministic construction, no fit: anchors are the first
    * `nCoarse` fine centroids (the sample-quantizer argument —
    * lowestIdCentroids' scaladoc), and each fine centroid joins the
    * group of its max-cosine anchor (driver-side [[assignLocal]],
    * first-max ties; k·nCoarse dots once at build). Approximation
    * contract: the result EQUALS flat argmax whenever the true-argmax
    * centroid's group wins the coarse route (exact-direction copies of
    * a centroid always agree: anchor scores are a pure function of
    * direction); disagreements assign a near-optimal neighboring cell
    * — acceptable for cell-local operators (SemDeDup pairs, IVF cells)
    * where the cell is a blocking key, not an answer. Agreement rate
    * and planted-copy invariants are suite-pinned; the assignment-cost
    * drop at 10× is measured in Scale10Probe (`hier` arm).
    *
    * The expression evaluates only the matched group's branch
    * (CaseWhen): nCoarse anchor dots + that group's member dots. */
  def hierarchicalAssignFn(centArrs: Seq[Seq[Double]], nCoarse: Int,
      coarseProbe: Int = 2): Column => Column = {
    val k = centArrs.length
    require(nCoarse >= 1 && nCoarse <= k,
      s"nCoarse=$nCoarse out of range for k=$k")
    val nP = math.min(coarseProbe, nCoarse)
    require(nP >= 1, s"coarseProbe=$coarseProbe must be >= 1")
    // Anchor build (driver-side, k·nCoarse dots, deterministic): seed
    // anchors are the first nCoarse fine centroids (sample-quantizer
    // argument); ONE Lloyd step (assign fine centroids → anchor :=
    // member mean → reassign) pulls each anchor to the center of the
    // group it actually routes, which measurably tightens routing on
    // weakly-clustered data. An empty group keeps its seed anchor and
    // falls back to that centroid alone.
    val seeds = centArrs.take(nCoarse)
    val firstPass: Seq[Int] = centArrs.map(assignLocal(_, seeds))
    val anchors: Seq[Seq[Double]] = Seq.tabulate(nCoarse) { g =>
      val m = centArrs.indices.filter(firstPass(_) == g)
      if (m.isEmpty) seeds(g)
      else m.map(centArrs).transpose.map(_.sum / m.length)
    }
    val groupOf: Seq[Int] = centArrs.map(assignLocal(_, anchors))
    val members: Seq[Seq[Int]] = Seq.tabulate(nCoarse) { g =>
      val m = centArrs.indices.filter(groupOf(_) == g)
      if (m.nonEmpty) m else Seq(math.min(g, k - 1))
    }
    val anchorScores = cellScoresFn(anchors)
    // The fine stage is DATA-DRIVEN, not branch-driven: the centroid
    // matrix, its norms, and the per-group member lists ride as THREE
    // array literals (single Literal nodes), and the probed groups'
    // member union feeds one `transform` computing each member's
    // normalized dot. A per-group CaseWhen form (nCoarse branches ×
    // nP probes, each branch its own dot subtree) measured ~15 s of
    // PLAN-TIME cost per query — the optimizer walks the whole tree
    // even though only one branch ever runs per row. Tree size here
    // is O(1) in k; per-row cost is the probed-member count.
    val centNorms: Seq[Double] = centArrs.map { a =>
      var s = 0.0; a.foreach(x => s += x * x)
      math.max(math.sqrt(s), 1e-12)
    }
    val memberLit = typedlit(members)
    val centLit = typedlit(centArrs)
    val normLit = typedlit(centNorms)
    vec =>
      graft.functions.ExprUtils.bindOnce(
          graft.functions.ExprUtils.bindOnce(anchorScores(vec)) { sc =>
            // top-nP coarse groups: the ivf probe idiom — sort
            // (−score, g) structs asc, keep the first nP
            slice(sort_array(zip_with(sc,
              sequence(lit(0), lit(nCoarse - 1)),
              (score, i) => struct((-score).as("ns"), i.as("g")))), 1, nP)
          }) { probe =>
        // sorted union of the probed groups' members (disjoint lists)
        // → first-max tie-break lands on the lowest global cid, the
        // flat argmax tie order restricted to the probed union
        graft.functions.ExprUtils.bindOnce(array_sort(concat(
            (0 until nP).map(p => element_at(memberLit,
              element_at(probe, p + 1).getField("g") + 1)): _*))) { cand =>
          graft.functions.ExprUtils.bindOnce(transform(cand, ci =>
              dot(vec, element_at(centLit, ci + 1)) /
                element_at(normLit, ci + 1))) { s =>
            element_at(cand, array_position(s, array_max(s)).cast("int"))
          }
        }
      }
  }

  /** IVF assignment → probe → top-k with EXPLICIT centroids: the
    * quantizer is pluggable — KMeans-fitted in [[ivfTopK]] (the
    * operator path), deterministic sample vectors
    * ([[lowestIdCentroids]]) in the `llm_ann_ivf_md5` twin whose full
    * pipeline a DuckDB oracle rebuilds. Same map-only assignment,
    * same probe fan-out, same tie-breaks. */
  def ivfTopKFrom(queries: DataFrame, corpus: DataFrame, k: Int,
      centArrs: Seq[Seq[Double]], nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      assignFn: Option[Column => Column] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      // zero-norm clamp (CLAUDE.md invariant) — see bruteForceTopK
      .withColumn("cn", greatest(norm(col("cv")), lit(1e-12)))
    // Corpus-side cell assignment — the O(n·k) term. Default: flat
    // argmax (array_position finds the FIRST max → lowest cid on
    // ties, matching the old Window (cdot desc, cid asc) tie-break;
    // bindOnce: scores are referenced twice). `assignFn` plugs in
    // [[hierarchicalAssignFn]] when k is large (~2√k dots per row).
    val cAssigned = c.withColumn("cid",
      assignFn.getOrElse(flatAssignFn(centArrs))(col("cv")))
    ivfTopKOnAssigned(queries, cAssigned, k, centArrs, nProbe,
      idCol, vecCol)
  }

  /** IVF top-k over a PRE-ASSIGNED corpus frame (columns:
    * `neighbor_id`, `cv: array<double>`, `cn`, `cid`) — the search
    * half of [[ivfTopKFrom]], split out for callers whose assignment
    * happened at INGEST time ([[graft.streaming.StreamingVectorIndex]]
    * stores `cid` as a partition column and file-prunes unprobed
    * cells before this search ever runs). Identical semantics given
    * the same centroids (suite-pinned). */
  def ivfTopKOnAssigned(queries: DataFrame, cAssigned: DataFrame,
      k: Int, centArrs: Seq[Seq[Double]], nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nCentroids = centArrs.length
    val cellScores = cellScoresFn(centArrs)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", greatest(norm(col("qv")), lit(1e-12)))
    // Top-nProbe cells per query: sort (−score, cid) structs ascending
    // — score desc, cid asc — and explode the first nProbe. Still
    // map-only (explode fans out nProbe rows per query, no shuffle).
    // The QUERY probe is always flat: top-nProbe needs the full score
    // vector, and the query side is tiny.
    val qProbed = q.withColumn("probe",
        explode(graft.functions.ExprUtils.bindOnce(cellScores(col("qv"))) { sc =>
          slice(sort_array(zip_with(sc,
            sequence(lit(0), lit(nCentroids - 1)),
            (score, i) => struct((-score).as("ns"), i.as("cid")))),
            1, nProbe) }))
      .withColumn("cid", col("probe.cid").cast("int"))
      .drop("probe")

    val scored = cAssigned.join(broadcast(qProbed), Seq("cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Distinct cell ids a query set probes at `nProbe` (bounded by
    * nCentroids) — the file-pruning predicate of the streaming vector
    * index: filter the stored corpus to these PARTITION values before
    * searching. */
  def probedCellIds(queries: DataFrame, centArrs: Seq[Seq[Double]],
      nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Int] = {
    val nCentroids = centArrs.length
    val cellScores = cellScoresFn(centArrs)
    queries.select(col(vecCol).cast("array<double>").as("qv"))
      .select(explode(graft.functions.ExprUtils
        .bindOnce(cellScores(col("qv"))) { sc =>
          slice(sort_array(zip_with(sc,
            sequence(lit(0), lit(nCentroids - 1)),
            (score, i) => struct((-score).as("ns"), i.as("cid")))),
            1, nProbe) }).as("probe"))
      .select(col("probe.cid").cast("int").as("cid"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Left-to-right squared L2 distance — the PQ building block; same
    * accumulation order in the DuckDB oracle, so raw-double
    * comparisons (argmin, ranking) agree cross-engine. */
  def sqdist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** Product-quantization codebooks from the corpus itself: subspace
    * j's `ks` sub-centroids are the j-th slices of the `ks` lowest-id
    * corpus vectors ([[lowestIdCentroids]]' argument — sample points
    * ARE a legitimate quantizer, and "ORDER BY id LIMIT ks" is
    * reproducible in any engine where a per-subspace KMeans fit is
    * not). Returns [m][ks][d/m]. */
  def pqCodebooks(corpus: DataFrame, m: Int, ks: Int,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Seq[Double]]] = {
    val cents = lowestIdCentroids(corpus, ks, idCol, vecCol)
    val d = cents.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val sub = d / m
    (0 until m).map(j => cents.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** Per-subspace Lloyd (k-means) refinement of PQ codebooks — what a
    * production index actually trains (Jégou 2011 §III fits each
    * subspace quantizer by k-means; the sample-sliced
    * [[pqCodebooks]]/[[pqResidualCodebooks]] are the cross-engine-
    * reproducible stand-ins). `input` carries the training vectors in
    * `vCol` (raw vectors, or residuals for the IVFADC books);
    * `init` seeds the iteration — the sample codebooks, so "trained"
    * is literally "sample + Lloyd polish" and can only move toward
    * lower quantization error.
    *
    * One job per iteration: assignment is the SAME native
    * [[graft.functions.PqExpr.pq_codes]] argmin the index uses
    * (codebooks ride as literals, map-only), the update is a
    * partial-aggregated groupBy((subspace, code)) over m·ks groups,
    * collected driver-side (bounded: m·ks rows of d/m sums). An
    * empty cluster keeps its previous sub-centroid.
    *
    * Determinism without fit-layout discipline (the repo's KMeans
    * lesson, solved differently): per-element contributions are
    * quantized to long micro-units AT THE ROW (`rint(x·1e6)`), so the
    * distributed update sums LONGS — order-independent, hence the
    * trained books are a pure function of (data, init, nIter)
    * regardless of partitioning (suite-pinned). The 1e-6 centroid
    * quantization is noise against sub-centroid spacing. At 100 TB
    * feed a deterministic id-hash SAMPLE as `input` (the
    * [[ivfTopK]] sketch argument — quantizer quality needs ~10⁵-10⁶
    * points, not every row). */
  def pqTrainLloyd(input: DataFrame, init: Seq[Seq[Seq[Double]]],
      nIter: Int = 4, vCol: String = "v"): Seq[Seq[Seq[Double]]] =
    // Index-construction memo (the nIter sequential collect jobs are
    // the registered res_t query's dominant cost); long-quantized
    // update sums make the fit partitioning-proof, so the memoized
    // books ≡ any fresh training.
    indexMemo(input, "pqTrainLloyd", init, nIter, vCol) {
      pqTrainLloydUncached(input, init, nIter, vCol)
    }.asInstanceOf[Seq[Seq[Seq[Double]]]]

  private def pqTrainLloydUncached(input: DataFrame,
      init: Seq[Seq[Seq[Double]]], nIter: Int,
      vCol: String): Seq[Seq[Seq[Double]]] = {
    val m = init.length
    val ks = init.head.length
    val sub = init.head.head.length
    var books = init
    // persisted across the nIter assignment jobs — uncached, every
    // round re-derives the training frame from source (for the
    // residual books that is a full scan + centroid assignment per
    // round; measured ~2× on the registered res_t query)
    val cached = input.persist()
    var it = 0
    while (it < nIter) {
      val ex = cached.select(
          explode(graft.functions.ExprUtils.bindOnce(
              col(vCol).cast("array<double>")) { v =>
            graft.functions.ExprUtils.bindOnce(
                graft.functions.PqExpr.pq_codes(v, books)) { codes =>
              transform(sequence(lit(0), lit(m - 1)), j =>
                struct(j.as("j"),
                  element_at(codes, j + 1).as("code"),
                  slice(v, j * lit(sub) + 1, lit(sub)).as("s")))
            }
          }).as("e"))
        .select(col("e.j").as("j"), col("e.code").as("code"),
          col("e.s").as("s"))
      val sums = (0 until sub).map(dd =>
        sum(round(element_at(col("s"), dd + 1) * 1e6).cast("long"))
          .as(s"s$dd"))
      val rows = ex.groupBy("j", "code")
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val updated = Array.tabulate(m, ks)((j, c) => books(j)(c))
      rows.foreach { r =>
        val j = r.getAs[Int]("j")
        val code = r.getAs[Int]("code")
        val n = r.getAs[Long]("n")
        updated(j)(code) = (0 until sub).map(dd =>
          r.getAs[Long](s"s$dd").toDouble / 1e6 / n)
      }
      books = updated.map(_.toSeq).toSeq
      it += 1
    }
    cached.unpersist(blocking = false)
    books
  }

  /** Lloyd-trained PQ codebooks over the raw corpus vectors —
    * [[pqCodebooks]] as init + [[pqTrainLloyd]]. */
  def pqTrainedCodebooks(corpus: DataFrame, m: Int, ks: Int,
      nIter: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] =
    pqTrainLloyd(
      corpus.select(col(vecCol).as("v")),
      pqCodebooks(corpus, m, ks, idCol, vecCol), nIter)

  /** Lloyd-trained RESIDUAL codebooks for IVFADC —
    * [[pqResidualCodebooks]] as init, trained on the full residual
    * frame (vec − assigned centroid, the same assignment the index
    * uses). This is the production answer to the registered
    * `llm_ann_ivfpq_res` weak spot: the 16-SAMPLE residual codebook
    * underfits at sf0.1 (recall@5 0.44) because residual encoding
    * amplifies codebook quality. Measured (PqTrainProbe, sf0.1
    * recall@5): training lifts ks=16 0.44 → 0.70 at nIter=8 — most
    * of what the 4× ks=64 codebook bought (0.76) — and lifts ks=64
    * itself 0.76 → 0.82 at nIter=16, past any sample point. */
  def pqTrainedResidualCodebooks(corpus: DataFrame, m: Int, ks: Int,
      centArrs: Seq[Seq[Double]], nIter: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Seq[Double]]] = {
    val res = corpus
      .select(col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cid", flatAssignFn(centArrs)(col("cv")))
      .select(zip_with(col("cv"),
        element_at(typedlit(centArrs), col("cid") + 1),
        (a, b) => a - b).as("v"))
    pqTrainLloyd(res,
      pqResidualCodebooks(corpus, m, ks, centArrs, idCol, vecCol), nIter)
  }

  /** PQ-ADC ANN top-k (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): each corpus vector is
    * encoded as `m` sub-centroid codes — at scale that is m bytes of
    * index per vector instead of d floats, THE memory path for
    * 100 TB embedding stores — and a query scans the compressed
    * domain: per subspace it tabulates squared distances to every
    * sub-centroid once (m·ks entries), then each corpus vector costs
    * m table lookups (asymmetric distance computation) instead of d
    * multiplies. The ADC top-`rerank` candidates are then re-ranked
    * by EXACT cosine — the standard two-stage PQ search.
    *
    * Scale shape: encoding is MAP-ONLY (codebooks ride as literals in
    * the task binary); the scan is a broadcast nested-loop over the
    * tiny query side with the corpus never shuffled; only the
    * `rerank` survivors per query pay the exact-vector join. All
    * tie-breaks deterministic (argmin → lowest code; ADC rank →
    * rounded dist asc, id asc; final → rounded sim desc, id asc), so
    * the whole pipeline — codes, tables, ADC, re-rank — is rebuilt
    * verbatim by the `llm_ann_pq` DuckDB oracle. */
  def pqTopKFrom(queries: DataFrame, corpus: DataFrame, k: Int,
      codebooks: Seq[Seq[Seq[Double]]], rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val ks = codebooks.head.length
    val sub = codebooks.head.head.length
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    // Per-vector code array and query-side flat distance table as ONE
    // native codegen'd pass each (PqExpr): the HOF form (bindOnce'd
    // slice → m·ks sqdist folds → argmin via array_position) measured
    // ~1 s per 2000 rows of interpreted lambda evaluation at sf0.1 —
    // the HyperplaneSigsExpr lesson again. Bit-identical argmin/fold
    // semantics (first-min ties, left-to-right accumulation) are
    // pinned against the HOF reference in PqExprSuite.
    def codesOf(vec: Column): Column =
      graft.functions.PqExpr.pq_codes(vec, codebooks)
    def dtOf(vec: Column): Column =
      graft.functions.PqExpr.pq_dist_table(vec, codebooks)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      // zero-norm clamp (CLAUDE.md invariant) — see bruteForceTopK
      .withColumn("cn", greatest(norm(col("cv")), lit(1e-12)))
      .withColumn("codes", codesOf(col("cv")))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", greatest(norm(col("qv")), lit(1e-12)))
      .withColumn("dt", dtOf(col("qv")))
    // ADC scan: codes/dt are attributes below the join, so the m
    // lookups never re-run the encode; left-to-right j order matches
    // the oracle's list_reduce. Rank on the ROUNDED distance so both
    // engines break rounding-induced ties identically (id asc).
    val adc = (0 until m).map(j =>
      element_at(col("dt"), lit(j * ks) + element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2", round(adc, 6))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("approx_d2").asc, col("neighbor_id").asc)
    val cand = scored.withColumn("arank", row_number().over(wAdc))
      .where(col("arank") <= rerank)
      .select("query_id", "neighbor_id", "approx_d2")
    // Exact re-rank over the rerank survivors only: vectors join back
    // per candidate (bare-key lesson — the ADC scan never carried qv).
    val rejoined = cand
      .join(c.select(col("neighbor_id"), col("cv"), col("cn")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id"))
      .withColumn("sim",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    rejoined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim", "approx_d2")
  }

  /** Driver-side mirror of the [[cellScoresFn]]/[[argmaxCid]]
    * assignment for a handful of vectors (the residual-codebook
    * build): left-to-right dots, norm clamp, first-max tie-break —
    * the same doubles the distributed path and the DuckDB oracle
    * compute. */
  private def assignLocal(vec: Seq[Double],
      centArrs: Seq[Seq[Double]]): Int = {
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < centArrs.length) {
      val cent = centArrs(c)
      var dot = 0.0
      var i = 0
      while (i < vec.length) { dot += vec(i) * cent(i); i += 1 }
      var n2 = 0.0
      cent.foreach(x => n2 += x * x)
      val score = dot / math.max(math.sqrt(n2), 1e-12)
      if (score > best) { best = score; bestC = c } // first max wins
      c += 1
    }
    bestC
  }

  /** Residual PQ codebooks for [[ivfPqTopKFrom]]'s IVFADC mode:
    * subspace slices of the RESIDUALS (vec − its assigned centroid)
    * of the ks lowest-id corpus vectors — the deterministic sample
    * quantizer applied in residual space, exactly what the oracle's
    * `pqCodebookCtes` over a residual CTE rebuilds. */
  def pqResidualCodebooks(corpus: DataFrame, m: Int, ks: Int,
      centArrs: Seq[Seq[Double]], idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] = {
    val cents = lowestIdCentroids(corpus, ks, idCol, vecCol)
    val d = cents.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val sub = d / m
    val residuals = cents.map { v =>
      val cent = centArrs(assignLocal(v, centArrs))
      v.zip(cent).map { case (x, c) => x - c }
    }
    (0 until m).map(j => residuals.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** IVF-PQ ANN top-k — the two index structures composed, the
    * canonical large-scale layout. With `residuals = true` this is
    * FAISS's full IVFADC: codes quantize vec − centroid(cell) and the
    * query tabulates distances per PROBED CELL against its own
    * residual (finer quantization near the cell center — the paper's
    * point); with `residuals = false` codes quantize raw vectors and
    * one table serves all cells (the cheaper variant):
    * a coarse quantizer assigns every corpus vector to a cell AND a
    * PQ code array in ONE map-only projection; a query probes its
    * `nProbe` best cells and ADC-scans ONLY those cells' codes — at
    * 100 TB that is nProbe/nCentroids of an already m-bytes-per-
    * vector index, the product of both reductions. ADC top-`rerank`
    * survivors re-rank by exact cosine.
    *
    * Both quantizers are pluggable; with [[lowestIdCentroids]] cells
    * and [[pqCodebooks]] the whole pipeline is cross-engine
    * reproducible (the `llm_ann_ivfpq` oracle splices the IVF
    * assignment CTEs and the PQ codebook CTEs — the same helpers the
    * standalone oracles use). */
  def ivfPqTopKFrom(queries: DataFrame, corpus: DataFrame, k: Int,
      centArrs: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      nProbe: Int, rerank: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residuals: Boolean = false,
      assignFn: Option[Column => Column] = None): DataFrame = {
    val m = codebooks.length
    val ks = codebooks.head.length
    val nCentroids = centArrs.length
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val cellScores = cellScoresFn(centArrs)
    // vec − centroid(cid): the centroid table rides as one nested
    // literal, indexed per row. Referencing `cid` from a prior
    // withColumn is the ProtoParseExpr CSE case (top-level projection
    // subexpressions dedupe), not the HOF-lambda trap.
    def resOf(vec: Column, cid: Column): Column =
      zip_with(vec, element_at(typedlit(centArrs), cid + 1), (a, b) => a - b)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      // zero-norm clamp (CLAUDE.md invariant) — see bruteForceTopK
      .withColumn("cn", greatest(norm(col("cv")), lit(1e-12)))
      // corpus assignment pluggable (hierarchicalAssignFn at large k);
      // residual codes quantize against whatever cell it picks, so the
      // encode stays self-consistent under either assignment
      .withColumn("cid",
        assignFn.getOrElse(flatAssignFn(centArrs))(col("cv")))
      .withColumn("codes", graft.functions.PqExpr.pq_codes(
        if (residuals) resOf(col("cv"), col("cid")) else col("cv"),
        codebooks))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", greatest(norm(col("qv")), lit(1e-12)))
    // Top-nProbe cells per query — the ivfTopKFrom probe, map-only.
    // The distance table is computed per (query, probed cell) row: in
    // residual mode it MUST be (each probed cell has its own residual
    // frame — the IVFADC point); in raw mode it is cell-independent,
    // so the per-cell recompute is nProbe× redundant on a tiny
    // broadcast side — kept uniform for one code path.
    val qProbed = q.withColumn("probe",
        explode(graft.functions.ExprUtils.bindOnce(cellScores(col("qv"))) { sc =>
          slice(sort_array(zip_with(sc,
            sequence(lit(0), lit(nCentroids - 1)),
            (score, i) => struct((-score).as("ns"), i.as("cid")))),
            1, nProbe) }))
      .withColumn("cid", col("probe.cid").cast("int"))
      .drop("probe")
      .withColumn("dt", graft.functions.PqExpr.pq_dist_table(
        if (residuals) resOf(col("qv"), col("cid")) else col("qv"),
        codebooks))
    val adc = (0 until m).map(j =>
      element_at(col("dt"), lit(j * ks) + element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val scored = c.join(broadcast(qProbed.select("query_id", "cid", "dt")),
        Seq("cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_d2", round(adc, 6))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("approx_d2").asc, col("neighbor_id").asc)
    val cand = scored.withColumn("arank", row_number().over(wAdc))
      .where(col("arank") <= rerank)
      .select("query_id", "neighbor_id", "approx_d2")
    val rejoined = cand
      .join(c.select(col("neighbor_id"), col("cv"), col("cn")),
        Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id"))
      .withColumn("sim",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    rejoined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim", "approx_d2")
  }

  /** Embedding near-duplicate pairs, blocked on `blockCol` (e.g. a
    * cluster/label key — blocking keeps the self-join key-local; at
    * scale the block key comes from LSH or a coarse quantizer). */
  def cosineDupPairs(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      blockCol: String = "label"): DataFrame = {
    val v = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      // once per vector, pre-join; clamped so a zero vector yields
      // sim 0.0 — unguarded, 0/0 = NaN and Spark's NaN-is-largest
      // ordering would pass `sim >= threshold`
      .withColumn("nrm", greatest(norm(col("vec")), lit(1e-12)))
    val a = v.select(col("blk"), col("id").as("id_a"),
      col("vec").as("va"), col("nrm").as("na"))
    val b = v.select(col("blk"), col("id").as("id_b"),
      col("vec").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate removal scoped to coarse-quantizer cells. Every
    * vector is argmax-assigned to its nearest centroid (the same
    * map-only IVF assignment as [[ivfTopKFrom]]); exact cosine runs
    * ONLY within a cell, and a row is dropped when a LOWER-ID row in
    * the same cell matches at ≥ threshold — the deterministic
    * keep-lowest variant of the paper's keep-one-per-duplicate-group
    * rule, the same greedy direction as the rest of the dedup family.
    *
    * Scale shape: candidate volume is Σ|cell|² instead of n² — the
    * paper's tradeoff. The centroid count must grow with the corpus
    * (k ∝ n keeps E|cell| constant), exactly how the published
    * pipeline sizes its clustering; the quantizer is pluggable like
    * the IVF one — KMeans-fitted for the operator path,
    * [[lowestIdCentroids]] for the cross-engine-oracled twin.
    * Exact-direction copies (any positive scaling) score
    * proportionally against every centroid, so they land in their
    * original's cell by construction and are always seen.
    *
    * Output: one row per input vector — (id, cid, max_prior_sim,
    * kept) where max_prior_sim is the best cosine against any
    * lower-id cellmate (NULL for the cell's lowest id) and kept=0
    * iff max_prior_sim ≥ threshold.
    */
  def semDedupFrom(corpus: DataFrame, centArrs: Seq[Seq[Double]],
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding",
      assignFn: Option[Column => Column] = None): DataFrame = {
    val v = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      // zero-norm clamp — 0/0 = NaN passes `>= threshold` silently
      .withColumn("nrm", greatest(norm(col("vec")), lit(1e-12)))
      // flat argmax by default; hierarchicalAssignFn is the k ∝ n
      // remedy (the cell is a blocking key — see its scaladoc)
      .withColumn("cid",
        assignFn.getOrElse(flatAssignFn(centArrs))(col("vec")))
      // The assigned frame feeds THREE branches (both pair sides + the
      // keep join-back). Hash-repartition on cid right after the
      // k-dot-products assignment so every branch reads the SAME
      // canonical exchange (ReusedExchange) — without it the argmax
      // chain runs once per branch (measured 3×+ at sf0.1), and the
      // cid partitioning already satisfies the pair join below.
      .repartition(col("cid"))
    val a = v.select(col("cid"), col("id").as("id_a"),
      col("vec").as("va"), col("nrm").as("na"))
    val b = v.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vb"), col("nrm").as("nb"))
    val priors = a.hint("shuffle_hash").join(b, Seq("cid"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .groupBy(col("id_b").as("id"))
      .agg(max(col("sim")).as("max_prior_sim"))
    v.select(col("id"), col("cid"))
      .join(priors, Seq("id"), "left")
      .withColumn("kept",
        when(col("max_prior_sim") >= threshold, 0).otherwise(1))
  }

  /** Embedding near-duplicate pairs with LSH blocking — the 100 TB
    * path when no natural block key exists: `nTables` independent
    * hyperplane signatures bucket every vector; a pair is a candidate
    * if it collides in ANY table (OR-amplification), then exact cosine
    * verifies. High-cosine pairs have near-identical sign patterns, so
    * recall at near-dup thresholds is high — exact-direction copies
    * collide in every table barring float rounding flipping a
    * near-zero projection's sign; more tables / fewer bits raise
    * recall. Candidates travel as bare id pairs (bare-key lesson);
    * vector payloads join back per surviving pair. */
  /** Pre-verify signature width and hamming bound shared by the
    * operator and its DuckDB oracle: mean + 6σ + 2 of
    * Binomial(preBits, arccos(threshold)/π) — false-drop < 1e-8 at the
    * threshold (see the inline note in [[cosineDupPairsLsh]]). */
  private[graft] val PreVerifyBits = 48
  private[graft] def preVerifyBound(threshold: Double): Int = {
    val pFlip = math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    math.min(PreVerifyBits, math.ceil(
      PreVerifyBits * pFlip +
        6 * math.sqrt(PreVerifyBits * pFlip * (1 - pFlip))
    ).toInt + 2)
  }

  def cosineDupPairsLsh(df: DataFrame, threshold: Double,
      nBits: Int = 12, nTables: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      maxBucket: Int = Int.MaxValue, md5Signs: Boolean = false): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      // zero-vector clamp: see cosineDupPairs (and LSH guarantees all
      // zero vectors collide — all projections 0 — so the NaN pairs
      // WOULD surface here without it)
      .withColumn("nrm", greatest(norm(col("vec")), lit(1e-12)))
    // Wide pre-verify signature riding the band rows: one extra
    // 48-plane signature per vector (map-only, native, computed in the
    // SAME projection as the band explode — no join). Two vectors at
    // cosine >= threshold differ on a hyperplane bit with probability
    // p = arccos(threshold)/π — at 0.999 that is 0.4 expected bits of
    // 48 — so bounding the signature hamming IN the join condition
    // kills unrelated candidates (≈24 differing bits) at the probe,
    // before they reach dedup, the payload join, and the exact cosine.
    // The bound is mean + 6σ + 2 of Binomial(48, p): false-drop
    // probability < 1e-8 at the threshold, ~0 for exact-direction
    // copies (identical sign patterns modulo float rounding).
    val preBound = preVerifyBound(threshold)
    // outer explode + null test on the GENERATED column (shingleInv
    // lesson: the implicit filter would re-run BOTH sig passes below
    // the exchange)
    val banded0 = v.select(col("id"),
      // coalesce: sig2 rides the hamming-bound JOIN condition, so a
      // nullable sig2 makes Catalyst push isnotnull(<48-plane pass>)
      // into the scan filter — re-running it there. Null-vec rows die
      // at the bucket filter below regardless.
      coalesce(element_at(graft.functions.HyperplaneSigsExpr
        .hyperplane_sigs(col("vec"), PreVerifyBits, 1,
          seed + nTables * 7919L, md5Signs), 1), lit(0L)).as("sig2"),
      posexplode_outer(graft.functions.HyperplaneSigsExpr.hyperplane_sigs(
        col("vec"), nBits, nTables, seed, md5Signs)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
      .where(col("bucket").isNotNull)
    // Hot-bucket cap (off by default): clustered embeddings pile into
    // few hyperplane buckets — a 2^nBits key space is FIXED, so bucket
    // sizes and candidate pairs (Σ size²) grow quadratically with the
    // corpus (measured at a 10× scale-up on clustered vectors).
    // Capping drops only buckets where the planes fail to
    // discriminate; an exact-direction dup pair is lost only if its
    // bucket is hot in EVERY table (OR-amplification keeps the
    // guarantee elsewhere) — the ngram-maxDf lever, tuned per corpus.
    val banded = Dedup.dropHotKeys(banded0, Seq("table", "bucket"), maxBucket)
    // Same plan both sides + shuffle_hash → one reused exchange.
    val cand = banded.as("l").hint("shuffle_hash")
      .join(banded.as("r").hint("shuffle_hash"),
        col("l.table") === col("r.table") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id") &&
          bit_count(col("l.sig2").bitwiseXOR(col("r.sig2"))) <= preBound)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Shuffled join-back by id. Build sides (the hinted left): the
    // first join builds the BARE candidate longs; the second
    // necessarily builds (pairs + va) — pairs plus one vector each,
    // since the output needs both vectors. Both builds are O(pairs),
    // far below the corpus-sized probe side; broadcasting the full
    // (id, vec, nrm) table (round 3) cannot survive 100 TB. Same
    // aliased subplan both sides → one shuffle of the vector payload;
    // AQE may still broadcast adaptively when measured sizes allow.
    val payload = v.select(col("id"), col("vec"), col("nrm"))
    cand.hint("shuffle_hash")
      .join(payload.as("pa"), col("id_a") === col("pa.id"))
      .hint("shuffle_hash")
      .join(payload.as("pb"), col("id_b") === col("pb.id"))
      .withColumn("sim", round(dot(col("pa.vec"), col("pb.vec")) /
        (col("pa.nrm") * col("pb.nrm")), 4))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
