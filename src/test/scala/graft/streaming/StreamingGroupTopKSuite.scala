package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.{Sampling, TextAnalysis}

/** Pins the two properties the streaming sampling twins
  * (llm_reservoir_stream / llm_source_cap_stream) stand on: per-group
  * top-k under a deterministic total order is (1) CHUNKING-INVARIANT
  * — the snapshot after any batch partition of the corpus equals the
  * batch operator, which is why both twins reuse their batch oracle
  * verbatim — and (2) IDEMPOTENT under replay — a crash-replayed
  * batch re-merges rows the snapshot already holds and changes
  * nothing (the third store pattern in the round-14 replay audit:
  * replay DOES read first-attempt state, harmlessly). */
class StreamingGroupTopKSuite extends SparkSpec {

  private def scored: DataFrame =
    TextAnalysis.qualitySignals(
      spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_id", "lang", "stopword_ratio")

  private def reservoirOrder =
    Seq(col("res_key").desc, col("doc_id").asc)

  private def batchReservoir: Set[(Long, String)] =
    Sampling.weightedReservoir(scored, k = 5, strataCol = "lang",
      weightCol = "stopword_ratio")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def store(root: String) =
    StreamingGroupTopK(s"$root/store", k = 5, groupCols = Seq("lang"),
      order = reservoirOrder, idCols = Seq("doc_id"))

  private def summarize(b: DataFrame): DataFrame =
    Sampling.weightedReservoir(b, k = 5, strataCol = "lang",
      weightCol = "stopword_ratio").drop("rank")

  private def snapSet(st: StreamingGroupTopK): Set[(Long, String)] =
    st.snapshot(spark).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("snapshot equals the batch reservoir under any chunking") {
    val expected = batchReservoir
    for (nChunks <- Seq(1, 2, 3)) {
      val st = store(Files.createTempDirectory("graft-gtk").toString)
      (0 until nChunks).foreach { c =>
        st.processBatch(summarize(
          scored.where(pmod(col("doc_id"), lit(nChunks.toLong)) === c)))
      }
      assert(snapSet(st) == expected, s"chunking $nChunks diverged")
    }
    // order-reversed arrival: latest chunk first
    val st = store(Files.createTempDirectory("graft-gtk").toString)
    (2 to 0 by -1).foreach { c =>
      st.processBatch(summarize(
        scored.where(pmod(col("doc_id"), lit(3L)) === c)))
    }
    assert(snapSet(st) == expected, "reversed arrival diverged")
  }

  test("raw batches and pre-summarized batches commit the same state") {
    val raw = store(Files.createTempDirectory("graft-gtk").toString)
    val sum = store(Files.createTempDirectory("graft-gtk").toString)
    (0 until 3).foreach { c =>
      val b = scored.where(pmod(col("doc_id"), lit(3L)) === c)
      // raw arm: the key derivation without the top-k cut — the
      // operator itself with a k no group reaches (no re-derivation
      // to drift from)
      raw.processBatch(Sampling.weightedReservoir(b, k = 1000000,
        strataCol = "lang", weightCol = "stopword_ratio").drop("rank"))
      sum.processBatch(summarize(b))
    }
    assert(snapSet(raw) == snapSet(sum),
      "per-batch top-k summary changed the merged state")
    assert(snapSet(raw) == batchReservoir)
  }

  test("crash-replayed batch leaves the snapshot byte-identical") {
    val st = store(Files.createTempDirectory("graft-gtk").toString)
    st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(3L)) === 0)))
    val mid = st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(3L)) === 1)))
      .collect().map(_.toString).sorted.toSeq
    // replay batch 1 (at-least-once delivery after a sink crash)
    val replayed = st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(3L)) === 1)))
      .collect().map(_.toString).sorted.toSeq
    assert(replayed == mid, "replay changed the snapshot")
    st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(3L)) === 2)))
    assert(snapSet(st) == batchReservoir)
  }

  test("a torn staging dir from a crashed merge is discarded") {
    val root = Files.createTempDirectory("graft-gtk").toString
    val st = store(root)
    st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(3L)) === 0)))
    // simulate a crash mid-staging-write: leftover dir, NO manifest
    val stage = new java.io.File(s"$root/store/staging")
    assert(stage.mkdirs())
    val junk = new java.io.File(stage, "part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(3L)) === 1)))
    st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(3L)) === 2)))
    assert(snapSet(st) == batchReservoir,
      "stale staging dir corrupted the merge")
  }

  test("empty batches (first and mid-stream) leave state consistent") {
    val st = store(Files.createTempDirectory("graft-gtk").toString)
    val none = summarize(scored.where(lit(false)))
    // empty FIRST batch: Spark writes a schema-only parquet file, so
    // the snapshot exists and is readable (zero rows)
    assert(st.processBatch(none).count() == 0)
    assert(st.snapshot(spark).count() == 0)
    st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(2L)) === 0)))
    // empty mid-stream batch: no-op on the kept set
    st.processBatch(none)
    st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(2L)) === 1)))
    assert(snapSet(st) == batchReservoir)
  }

  test("cap twin: snapshot equals batch capPerKey under chunking") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "n_chars")
    val ord = Seq(col("n_chars").desc, col("doc_id").asc)
    val expected = Sampling.capPerKey(d, "source", 10, ord)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val st = StreamingGroupTopK(
      s"${Files.createTempDirectory("graft-gtk")}/store", k = 10,
      groupCols = Seq("source"), order = ord, idCols = Seq("doc_id"))
    (0 until 3).foreach { c =>
      st.processBatch(Sampling.capPerKey(
        d.where(pmod(col("doc_id"), lit(3L)) === c), "source", 10, ord))
    }
    val got = st.snapshot(spark).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("snapshot() reads through an interrupted swap; the next batch " +
      "finishes it") {
    val root = Files.createTempDirectory("graft-gtk").toString
    val st = store(root)
    (0 until 2).foreach(c => st.processBatch(summarize(
      scored.where(pmod(col("doc_id"), lit(2L)) === c))))
    val before = snapSet(st)
    // the swap's crash window: the old snapshot deleted, the merged
    // copy still in staging under its manifest
    val snap = new java.io.File(s"$root/store/snapshot")
    val staging = new java.io.File(s"$root/store/staging")
    assert(snap.renameTo(staging))
    new java.io.File(staging, "._graft_swap.crc").delete()
    val mf = new java.io.PrintWriter(new java.io.File(staging, "_graft_swap"))
    mf.println(snap.getPath)
    mf.println(snap.getPath)
    mf.close()
    assert(snapSet(st) == before)
    assert(!snap.exists() && staging.exists(), "a read wrote the store")
    st.processBatch(summarize(scored.where(lit(false))))
    assert(snap.exists() && !staging.exists())
    assert(snapSet(st) == before)
  }

  test("a snapshot() read between a merge's staging write and its " +
      "manifest leaves the store whole") {
    val root = Files.createTempDirectory("graft-gtk").toString
    val st = store(root)
    val twin = store(Files.createTempDirectory("graft-gtk").toString)
    (0 until 2).foreach { c =>
      val b = summarize(scored.where(pmod(col("doc_id"), lit(2L)) === c))
      if (c == 0) st.processBatch(b)
      twin.processBatch(b)
    }
    val before = snapSet(st)
    // st's merge of batch 1: staging written, manifest not yet
    val snap = new org.apache.hadoop.fs.Path(s"$root/store/snapshot")
    val staging = new org.apache.hadoop.fs.Path(s"$root/store/staging")
    twin.snapshot(spark).write.parquet(staging.toString)
    assert(snapSet(st) == before)
    val fs = snap.getFileSystem(spark.sessionState.newHadoopConf())
    CompactSwap.swap(fs, Seq(snap), staging, snap)
    assert(snapSet(st) == batchReservoir,
      "the raced read lost the merged snapshot")
  }
}
