package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Dedup

/** Streaming minhash near-dup twin: the candidate set equals the
  * batch operator's under ANY chunking (same banding derivation, a
  * pair surfaces when its later doc arrives), and the DOCUMENTED
  * divergence — signature-estimate verify instead of exact Jaccard —
  * is pinned two ways: exact equality against a batch-side
  * estimate-verify reference (also the DuckDB oracle of
  * llm_neardup_stream), and measured recall/precision floors against
  * the exact-verify batch operator. */
class StreamingNearDupSuite extends SparkSpec {

  private def corpus: DataFrame =
    graft.queries.LlmQueries.docsWithNearDups(spark, sf0001)

  /** Batch-side reference: the operator's own banding (shared
    * derivation) + signature-agreement verify — what the streaming
    * twin must reproduce exactly, chunked any way. */
  private def estPairsBatch(d: DataFrame, threshold: Double)
      : Set[(Long, Long, Double)] = {
    val sigs = Dedup.sigSets(
        Dedup.shingleSetsMd5(d, "doc_id", "text", 3), 32, 42L)
      .where(col("sig").isNotNull).select(col("id"), col("sig"))
    val bandRows = Dedup.bandRowsFromSigs(sigs, 32, 8,
      exactBandKey = true)
    val cand = bandRows.as("l")
      .join(bandRows.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand.join(sigs.as("sa"), col("id_a") === col("sa.id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("est_jaccard", round(
        aggregate(zip_with(col("sa.sig"), col("sb.sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / 32, 4))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def collectPairs(outs: Seq[DataFrame])
      : Set[(Long, Long, Double)] =
    outs.flatMap(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("chunked replay equals the batch estimate-verify reference " +
      "under TWO different chunkings; cross-batch pairs fire") {
    val d = corpus
    val ref = estPairsBatch(d, 0.5)
    assert(ref.nonEmpty, "reference produced no pairs")
    // chunking 1: three doc-id ranges (planted copies sit 1000000
    // above their originals — every planted pair is cross-batch)
    val rootA = Files.createTempDirectory("graft-snd-a").toString
    val sndA = StreamingNearDup(s"$rootA/store", threshold = 0.5)
    val outsA = Seq(
      sndA.processBatch(d.where(col("doc_id") < 300), 0L),
      sndA.processBatch(
        d.where(col("doc_id") >= 300 && col("doc_id") < 1000000), 1L),
      sndA.processBatch(d.where(col("doc_id") >= 1000000), 2L))
    val gotA = collectPairs(outsA)
    assert(gotA == ref, s"range chunking diverged: " +
      s"missing=${(ref -- gotA).take(5)} extra=${(gotA -- ref).take(5)}")
    // with this split NO planted pair is in-batch for batch 1/2 —
    // batch 3's output must carry cross-batch pairs
    assert(outsA(2).collect().nonEmpty, "cross-batch store never fired")
    // chunking 2: four interleaved mod-classes (originals and copies
    // mix within batches — in-batch AND cross-batch paths both fire)
    val rootB = Files.createTempDirectory("graft-snd-b").toString
    val sndB = StreamingNearDup(s"$rootB/store", threshold = 0.5)
    val gotB = collectPairs((0 until 4).map(c =>
      sndB.processBatch(d.where(pmod(col("doc_id"), lit(4L)) === c),
        c.toLong)))
    assert(gotB == ref, "mod chunking diverged from the reference")
  }

  test("documented divergence vs the exact-verify batch operator is " +
      "bounded: measured recall/precision floors") {
    val d = corpus
    val exact = Dedup.minhashLshPairsMd5(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val root = Files.createTempDirectory("graft-snd-rp").toString
    val snd = StreamingNearDup(s"$root/store", threshold = 0.5)
    val stream = collectPairs((0 until 3).map(c =>
        snd.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === c),
          c.toLong)))
      .map(p => (p._1, p._2))
    assert(exact.nonEmpty && stream.nonEmpty)
    val hit = (exact & stream).size.toDouble
    val recall = hit / exact.size
    val precision = hit / stream.size
    // k=32 estimate at threshold 0.5: measured 1.0/1.0 at sf0.001 and
    // 105/105 vs 105 exact at sf0.01 (the fixture's true pairs sit at
    // J ≈ 0.8-0.9, ~4σ above the threshold); floors leave room for
    // boundary pairs on other corpora, not for a broken store
    assert(recall >= 0.9, s"recall $recall")
    assert(precision >= 0.9, s"precision $precision")
  }

  test("restart-resume: a FRESH instance on the same store continues " +
      "where the old one stopped") {
    val d = corpus
    val ref = estPairsBatch(d, 0.5)
    val root = Files.createTempDirectory("graft-snd-rs").toString
    val first = StreamingNearDup(s"$root/store", threshold = 0.5)
    val o1 = Seq(
      first.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === 0), 0L),
      first.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === 1), 1L))
    // a new instance — only the parquet store carries the state
    val resumed = StreamingNearDup(s"$root/store", threshold = 0.5)
    val o2 = Seq(
      resumed.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === 2),
        2L))
    assert(collectPairs(o1 ++ o2) == ref)
  }

  test("foreachBatch wiring finds cross-micro-batch pairs end to end") {
    val root = Files.createTempDirectory("graft-snd-e2e").toString
    val d = corpus.localCheckpoint(true)
    val ref = estPairsBatch(d, 0.5)
    // one parquet file per trigger → multiple micro-batches
    d.repartition(5).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
    val q = StreamingNearDup(s"$root/store", threshold = 0.5)
      .attach(stream, s"$root/out", s"$root/ckpt")
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$root/out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == ref,
      s"e2e diverged: missing=${(ref -- got).take(5)} " +
        s"extra=${(got -- ref).take(5)}")
  }

  test("batch replay re-emits its pairs exactly once (no ×4 sig-join " +
      "multiplication); compact dedupes the store and preserves " +
      "results") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snd-replay").toString
    val snd = StreamingNearDup(s"$root/store", threshold = 0.5)
    val shared = "shared text body for the near dup check extended"
    val batch = Seq((1L, shared), (2L, shared)).toDF("doc_id", "text")
    val out1 = snd.processBatch(batch, 0L).collect()
    assert(out1.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
    // replay: the batch's ids now sit in the store too — every sig
    // joins twice per side; the output must still be ONE row per pair
    val out2 = snd.processBatch(batch, 0L).collect()
    assert(out2.length == 1 && out2.head.getLong(0) == 1L &&
      out2.head.getLong(1) == 2L,
      s"replayed batch multiplied pairs: ${out2.length} rows")
    // the replay rewrote its own store partition: 2 sig rows, no residue
    assert(spark.read.parquet(s"$root/store/sigs").count() == 2L)
    val out3 = snd.processBatch(
      Seq((3L, shared)).toDF("doc_id", "text"), 1L).collect()
    assert(out3.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 3L), (2L, 3L)), out3.mkString(","))
    assert(snd.processBatch(Seq((4L, "an unrelated body of words with " +
      "nothing shared")).toDF("doc_id", "text"), 2L).collect().isEmpty)
    def partitions(store: String) = new java.io.File(s"$root/store/$store")
      .list().count(_.startsWith("batch_id="))
    def assertDeduped(): Unit = Seq("bands", "sigs").foreach { store =>
      val rows = spark.read.parquet(s"$root/store/$store")
        .drop("batch_id")
      assert(rows.dropDuplicates().count() == rows.count(), store)
    }
    // batches 0 and 1 fold into one snapshot; the latest stays apart
    snd.compact(spark)
    assert(partitions("bands") == 2 && partitions("sigs") == 2)
    assert(spark.read.parquet(s"$root/store/sigs").count() == 4L)
    assertDeduped()
    // compacted store still serves cross-batch probes
    val out5 = snd.processBatch(
      Seq((5L, shared)).toDF("doc_id", "text"), 3L).collect()
    assert(out5.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 5L), (2L, 5L), (3L, 5L)), out5.mkString(","))
    // a second fold takes the snapshot and batch 2 along
    snd.compact(spark)
    assert(partitions("bands") == 2 && partitions("sigs") == 2)
    assert(spark.read.parquet(s"$root/store/sigs").count() == 5L)
    assertDeduped()
  }

  test("a store written flat, before the batch_id=N layout, fails by " +
      "name instead of mixing layouts") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snd-flat").toString
    Seq((1L, Seq(1L, 2L))).toDF("id", "sig").write
      .parquet(s"$root/store/sigs")
    val err = intercept[IllegalStateException] {
      StreamingNearDup(s"$root/store", threshold = 0.5).processBatch(
        Seq((2L, "some text body")).toDF("doc_id", "text"), 0L)
    }
    assert(err.getMessage.contains("before the batch_id=N layout"))
  }

  test("scheme-qualified store paths probe through the Hadoop FS API " +
      "(a java.io.File probe silently loses every cross-batch pair)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snd-fs").toString
    val snd = StreamingNearDup(s"file:$root/store", threshold = 0.5)
    val shared = "shared text body for the near dup check extended"
    assert(snd.processBatch(Seq((1L, shared)).toDF("doc_id", "text"), 0L)
      .collect().isEmpty)
    // the cross-batch pair exists ONLY if batch 2 sees batch 1's
    // store rows through the file:-qualified path
    val out = snd.processBatch(Seq((2L, shared)).toDF("doc_id", "text"), 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)),
      "file:-qualified store read as empty — cross-batch pair lost")
  }

  test("contract guards: bands must divide k; empty docs never band " +
      "or store") {
    intercept[IllegalArgumentException] {
      StreamingNearDup("/tmp/x", k = 32, bands = 5)
    }
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snd-g").toString
    val snd = StreamingNearDup(s"$root/store", threshold = 0.5)
    val out = snd.processBatch(Seq(
      (1L, "shared text body for the near dup check extended"),
      (2L, "shared text body for the near dup check extended"),
      (3L, ""), (4L, "x")).toDF("doc_id", "text"), 0L)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    // empty/short docs (NULL sig) were not stored
    val sigs = spark.read.parquet(s"$root/store/sigs")
    assert(sigs.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
  }

  test("attach: a micro-batch re-run after a lost commit leaves each " +
      "pair in the output once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snd-rerun").toString
    val shared = "shared text body for the near dup check extended"
    // one file per micro-batch, one doc each: whichever batch runs
    // last pairs with both earlier docs
    (1L to 3L).foreach(i => Seq((i, shared)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/in"))
    val snd = StreamingNearDup(s"$root/store", threshold = 0.5)
    StreamReplay.rerunLastBatch(s"$root/ckpt") {
      snd.attach(spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
        s"$root/out", s"$root/ckpt")
    }
    val got = spark.read.parquet(s"$root/out")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)), got.toString)
  }
}
