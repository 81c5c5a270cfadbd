package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Dedup

/** The streaming fuzzy-dedup DROP stage: single-batch replay must
  * reproduce the batch pairs→CC→keep-lowest pipeline exactly (same
  * estimate verify), multi-batch replay must equal a single-threaded
  * greedy reference simulated from the pair graph, the transitive-
  * chain divergence is pinned by hand, and the per-batch partition
  * overwrite makes crash-replay emit the identical survivor set. */
class StreamingFuzzyDedupSuite extends SparkSpec {

  private def corpus: DataFrame =
    graft.queries.LlmQueries.docsWithNearDups(spark, sf0001)

  /** Signature-estimate pairs of a corpus — the batch-side reference
    * (the StreamingNearDupSuite helper, duplicated narrow). */
  private def estPairs(d: DataFrame, threshold: Double,
      bands: Int = 8): Set[(Long, Long)] = {
    val sigs = Dedup.sigSets(
        Dedup.shingleSetsMd5(d, "doc_id", "text", 3), 32, 42L)
      .where(col("sig").isNotNull).select(col("id"), col("sig"))
    val bandRows = Dedup.bandRowsFromSigs(sigs, 32, bands,
      exactBandKey = true)
    bandRows.as("l")
      .join(bandRows.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sigs.as("sa"), col("id_a") === col("sa.id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.id"))
      .where(Dedup.sigEstimate(col("sa.sig"), col("sb.sig"), 32)
        >= threshold)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Driver-side greedy reference over ordered batches: per batch,
    * drop docs matching any KEPT doc, then CC + keep-lowest within
    * the remainder — the operator's exact contract. */
  private def greedyRef(batches: Seq[Seq[Long]],
      pairs: Set[(Long, Long)]): Set[Long] = {
    def linked(a: Long, b: Long) =
      pairs.contains((math.min(a, b), math.max(a, b)))
    val kept = scala.collection.mutable.Set.empty[Long]
    batches.foreach { b =>
      val surv = b.filterNot(d => kept.exists(linked(d, _)))
      // CC over surv via union-find
      val parent = scala.collection.mutable.Map(
        surv.map(d => d -> d): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      for (a <- surv; c <- surv if a < c && linked(a, c))
        parent(find(a)) = find(c)
      val minOf = scala.collection.mutable.Map.empty[Long, Long]
      surv.foreach { d =>
        val r = find(d)
        minOf(r) = math.min(minOf.getOrElse(r, d), d)
      }
      surv.foreach(d => if (minOf(find(d)) == d) kept += d)
    }
    kept.toSet
  }

  private def survivors(outs: Seq[DataFrame]): Set[Long] =
    outs.flatMap(_.select("doc_id").collect().map(_.getLong(0))).toSet

  test("single-batch replay ≡ the batch pairs→CC→keep-lowest pipeline " +
      "(estimate verify on both sides)") {
    val d = corpus
    val pairs = estPairs(d, 0.5)
    assert(pairs.nonEmpty)
    import spark.implicits._
    val pdf = pairs.toSeq.toDF("id_a", "id_b")
    val reps = Dedup.dedupClusters(pdf)
      .where(col("id") =!= col("cluster_rep"))
      .select("id").as[Long].collect().toSet
    val allIds = d.select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = allIds -- reps
    val root = Files.createTempDirectory("graft-sfd-one").toString
    val sfd = StreamingFuzzyDedup(s"$root/store", threshold = 0.5)
    val got = survivors(Seq(sfd.processBatch(d, batchId = 0L)))
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("multi-batch replay ≡ the greedy reference from the pair graph " +
      "(drop-vs-kept then per-batch CC)") {
    val d = corpus
    val pairs = estPairs(d, 0.5)
    val ids = d.select("doc_id").collect().map(_.getLong(0)).toSeq
    val batches = (0 until 3).map(c => ids.filter(_ % 3 == c))
    val expect = greedyRef(batches, pairs)
    val root = Files.createTempDirectory("graft-sfd-multi").toString
    val sfd = StreamingFuzzyDedup(s"$root/store", threshold = 0.5)
    val got = survivors((0 until 3).map(c =>
      sfd.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === c),
        batchId = c.toLong)))
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // the cross-batch drop actually fired: fewer survivors than docs
    assert(got.size < ids.size)
  }

  test("transitive-chain divergence pinned: batch keeps the component " +
      "minimum; the stream keeps the chain end it could not compare") {
    import spark.implicits._
    // the bridge shape: doc2 = Q + R, doc1 ≈ Q, doc3 ≈ R —
    // J(1,2) ≈ J(2,3) ≈ 0.48, J(1,3) = 0. A chain is intrinsically a
    // sub-0.5 phenomenon (the bridge splits its Jaccard between its
    // halves), so threshold 0.3 and 16 narrow bands (2 rows — band
    // hit ≈ 98% at J 0.48) make the candidate generation reliable.
    val qTok = (1 to 24).map(i => s"qu$i").mkString(" ")
    val rTok = (1 to 24).map(i => s"ar$i").mkString(" ")
    val docs = Seq((1L, qTok), (2L, s"$qTok $rTok"), (3L, rTok))
      .toDF("doc_id", "text")
    val pairs = estPairs(docs, 0.3, bands = 16)
    assert(pairs == Set((1L, 2L), (2L, 3L)), pairs.toString)
    // single batch: one component {1,2,3} → only 1 survives
    val rootA = Files.createTempDirectory("graft-sfd-chainA").toString
    val one = StreamingFuzzyDedup(s"$rootA/store", threshold = 0.3,
      bands = 16)
    assert(survivors(Seq(one.processBatch(docs, 0L))) == Set(1L))
    // streamed: {1,2} then {3} — 2 dropped against kept 1; 3 matches
    // no KEPT doc (its only link was the retracted 2) and survives
    val rootB = Files.createTempDirectory("graft-sfd-chainB").toString
    val two = StreamingFuzzyDedup(s"$rootB/store", threshold = 0.3,
      bands = 16)
    val got = survivors(Seq(
      two.processBatch(docs.where(col("doc_id") <= 2), 0L),
      two.processBatch(docs.where(col("doc_id") === 3), 1L)))
    assert(got == Set(1L, 3L), got.toString)
  }

  test("crash-replay emits the identical survivor set (per-batch " +
      "partition overwrite — a flat-append store would drop " +
      "everything against its own copies)") {
    import spark.implicits._
    val shared = "shared text body for the near dup check extended"
    val b0 = Seq((1L, shared), (2L, "totally different content here "
      + "with many unrelated words indeed")).toDF("doc_id", "text")
    val b1 = Seq((3L, shared), (4L, "yet another unique document body "
      + "nothing like the others at all")).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-sfd-replay").toString
    val sfd = StreamingFuzzyDedup(s"$root/store", threshold = 0.5)
    val out0 = survivors(Seq(sfd.processBatch(b0, 0L)))
    val out1 = survivors(Seq(sfd.processBatch(b1, 1L)))
    assert(out0 == Set(1L, 2L) && out1 == Set(4L))
    // replay batch 1 (store write landed, downstream commit did not)
    val replay = survivors(Seq(sfd.processBatch(b1, 1L)))
    assert(replay == out1,
      s"replay diverged: $replay vs $out1 — the store saw its own rows")
    // empty docs survive and are not stored
    val out2 = survivors(Seq(sfd.processBatch(
      Seq((5L, ""), (6L, shared)).toDF("doc_id", "text"), 2L)))
    assert(out2 == Set(5L))
  }

  test("an all-empty first batch (partition dir, zero part files) " +
      "does not poison the store read for the next batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sfd-empty").toString
    val sfd = StreamingFuzzyDedup(s"$root/store", threshold = 0.5)
    // every doc sub-shingle-width → NULL sigs → zero survivors stored
    val out0 = survivors(Seq(sfd.processBatch(
      Seq((1L, ""), (2L, "x y")).toDF("doc_id", "text"), 0L)))
    assert(out0 == Set(1L, 2L)) // no content to duplicate — all pass
    // the next batch must read the store cleanly (an empty partition
    // dir used to fail parquet schema inference) and behave normally
    val shared = "shared text body for the near dup check extended"
    val out1 = survivors(Seq(sfd.processBatch(
      Seq((3L, shared), (4L, shared)).toDF("doc_id", "text"), 1L)))
    assert(out1 == Set(3L))
  }

  test("compact folds committed partitions; later batches unchanged; " +
      "e2e survivors are pairwise non-matching") {
    import spark.implicits._
    val d = corpus.localCheckpoint(true)
    val root = Files.createTempDirectory("graft-sfd-cmp").toString
    val sfd = StreamingFuzzyDedup(s"$root/store", threshold = 0.5)
    val outs = (0 until 4).map(c =>
      sfd.processBatch(d.where(pmod(col("doc_id"), lit(4L)) === c),
        batchId = c.toLong))
    val before = survivors(outs)
    sfd.compact(spark)
    val partsAfter = new java.io.File(s"$root/store/bands").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(partsAfter == 2, s"expected snapshot+latest, $partsAfter")
    // a fifth batch over the compacted store: a replica of a KEPT doc
    // always self-matches it (est 1.0) and must drop. (A replica of a
    // chain-dropped doc may honestly survive — its only links were to
    // retracted docs — so only kept-doc replicas are asserted.)
    val out5 = survivors(Seq(sfd.processBatch(
      d.withColumn("doc_id", col("doc_id") + 5000000L), batchId = 4L)))
    val keptReplicas = before.map(_ + 5000000L)
    val leaked = out5 & keptReplicas
    // empty-text kept docs have no signature — their replicas survive
    val emptyIds = d.where(graft.llm.TextAnalysis.tokens(col("text"))
        .isNull || size(graft.llm.TextAnalysis.tokens(col("text"))) < 3)
      .select("doc_id").collect().map(_.getLong(0) + 5000000L).toSet
    assert((leaked -- emptyIds).isEmpty,
      s"kept-doc replicas survived the compacted store: " +
        s"${(leaked -- emptyIds).take(5)}")
    // e2e invariant: survivors are pairwise non-matching
    val kept = d.where(col("doc_id").isin(before.toSeq: _*))
    assert(estPairs(kept, 0.5).isEmpty,
      "two emitted survivors est-match each other")
  }

  test("attach: a micro-batch re-run after a lost commit leaves each " +
      "survivor in the output once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sfd-rerun").toString
    // batch k: two copies of its own text — the lower id survives the
    // in-batch cluster, and no text repeats across batches, so every
    // batch (the re-run one included) emits exactly one survivor
    Seq("alpha bravo charlie delta echo foxtrot golf hotel",
        "india juliet kilo lima mike november oscar papa",
        "quebec romeo sierra tango uniform victor whiskey xray")
      .zipWithIndex.foreach { case (text, b) =>
        Seq((10L * b + 1, text), (10L * b + 2, text))
          .toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(s"$root/in")
      }
    val sfd = StreamingFuzzyDedup(s"$root/store", threshold = 0.5)
    StreamReplay.rerunLastBatch(s"$root/ckpt") {
      sfd.attach(spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
        s"$root/out", s"$root/ckpt")
    }
    val got = spark.read.parquet(s"$root/out").select("doc_id")
      .as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 11L, 21L), got.toString)
  }
}
