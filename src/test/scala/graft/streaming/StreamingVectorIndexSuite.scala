package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Similarity

/** The streaming IVF vector index: chunked ingest must search exactly
  * like the batch operator on the union of batches (same centroids,
  * same core), replay must be idempotent, and — the 100 TB point —
  * the top-k scan must carry a PARTITION filter on `cid` so unprobed
  * cells are pruned at the file level. */
class StreamingVectorIndexSuite extends SparkSpec {
  import spark.implicits._

  private val (k, nProbe, nCent) = (5, 4, 16)

  test("chunked ingest searches exactly like the batch IVF operator; " +
      "replay idempotent; empty store queryable") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val cents = Similarity.lowestIdCentroids(e, nCent)
    val root = Files.createTempDirectory("graft-vindex").toString
    val idx = StreamingVectorIndex(s"$root/store", cents)

    // empty store: queryable, empty — no read error
    assert(idx.topK(spark, col("neighbor_id") < 10, k, nProbe).count() == 0L)

    (0 until 3).foreach { c =>
      idx.processBatch(e.where(col("vec_id") % 3 === c), batchId = c.toLong)
    }
    val fromStore = idx.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    val batch = Similarity.ivfTopKFrom(
        e.where(col("vec_id") < 10), e, k, cents, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fromStore == batch,
      "store search differs from the batch operator")

    // replay of one batch (write done, commit lost) → same results
    idx.processBatch(e.where(col("vec_id") % 3 === 1), batchId = 1L)
    val replayed = idx.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(replayed == batch, "batch replay changed the index")
  }

  test("top-k scans prune unprobed cells at the FILE level (partition " +
      "filter on cid)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val cents = Similarity.lowestIdCentroids(e, nCent)
    val root = Files.createTempDirectory("graft-vindex-prune").toString
    val idx = StreamingVectorIndex(s"$root/store", cents)
    idx.processBatch(e, batchId = 0L)

    val q = idx.vectors(spark).where(col("neighbor_id") < 3)
      .select(col("neighbor_id").as("vec_id"), col("cv").as("embedding"))
    val cells = Similarity.probedCellIds(q, cents, nProbe)
    assert(cells.nonEmpty && cells.size <= 3 * nProbe)
    // the fixture must leave some cells unprobed or pruning is vacuous
    assert(cells.size < nCent, s"fixture probes every cell: $cells")

    val plan = idx.topK(spark, col("neighbor_id") < 3, k, nProbe)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("cid#"),
      s"no cid partition filter in the scan:\n${plan.take(2000)}")
    // and the filter actually prunes: the probed-cells scan reads
    // fewer partition dirs than exist in the store
    val allDirs = new java.io.File(s"$root/store/batch_id=0").listFiles()
      .filter(_.isDirectory).count(_.getName.startsWith("cid="))
    assert(cells.size < allDirs,
      s"probe covers all $allDirs stored cells — pruning vacuous")
  }

  test("compact folds batch dirs to snapshot+latest; search unchanged") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val cents = Similarity.lowestIdCentroids(e, nCent)
    val root = Files.createTempDirectory("graft-vindex-compact").toString
    val idx = StreamingVectorIndex(s"$root/store", cents)
    (0 until 4).foreach { c =>
      idx.processBatch(e.where(col("vec_id") % 4 === c), batchId = c.toLong)
    }
    val before = idx.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    idx.compact(spark)
    def dirs(): Set[String] = new java.io.File(s"$root/store").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
    assert(dirs() == Set("batch_id=0", "batch_id=3"),
      s"unexpected layout: ${dirs()}")
    val after = idx.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(after == before, "compaction changed search results")
    // replay of the preserved latest batch stays idempotent
    idx.processBatch(e.where(col("vec_id") % 4 === 3), batchId = 3L)
    val replayed = idx.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(replayed == before)
  }

  test("rebuild re-quantizes the folded store: search equals a fresh " +
      "batch index under the new centroids; one snapshot partition") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val centsOld = Similarity.lowestIdCentroids(e, nCent)
    // a genuinely different quantizer: centroids drawn from a shifted
    // id range, so old cids are wrong for it
    val centsNew = Similarity.lowestIdCentroids(
      e.where(col("vec_id") >= 20), nCent)
    assert(centsNew != centsOld, "fixture: quantizers must differ")
    val root = Files.createTempDirectory("graft-vindex-rebuild").toString
    val idx = StreamingVectorIndex(s"$root/store", centsOld)
    (0 until 3).foreach { c =>
      idx.processBatch(e.where(col("vec_id") % 3 === c), batchId = c.toLong)
    }
    val rebuilt = idx.rebuild(spark, centsNew)
    assert(rebuilt.centArrs == centsNew && rebuilt.storeDir == idx.storeDir)
    // store collapsed to ONE snapshot partition at batch_id=-1: an id
    // the mandated fresh-checkpoint resume (whose engine batch ids
    // restart at 0) can NEVER overwrite — a non-negative snapshot id
    // would be destroyed by the resumed stream's first micro-batch
    val dirs = new java.io.File(s"$root/store").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
    assert(dirs == Set("batch_id=-1"), s"unexpected layout: $dirs")
    val fromRebuilt = rebuilt.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    // ground truth: a fresh batch index on the same vectors + centroids
    val fresh = StreamingVectorIndex(s"$root/fresh", centsNew)
    fresh.processBatch(e, batchId = 0L)
    val fromFresh = fresh.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fromRebuilt == fromFresh,
      "rebuilt store search differs from a fresh index")
    // and the old quantizer would NOT have produced this (the rebuild
    // actually re-assigned, not just re-labeled)
    assert(fromRebuilt == Similarity.ivfTopKFrom(
        e.where(col("vec_id") < 10), e, k, centsNew, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet)
    // the overwrite trap itself, pinned: a fresh-checkpoint resume's
    // first batch (batchId=0) must ADD to the rebuilt store, not
    // replace the snapshot (review finding: the snapshot used to land
    // at batch_id=0 — exactly the id the resumed stream writes first)
    rebuilt.processBatch(
      e.where(col("vec_id") < 5)
        .withColumn("vec_id", col("vec_id") + 100000L), batchId = 0L)
    assert(rebuilt.vectors(spark).count() == e.count() + 5,
      "fresh-checkpoint batch 0 clobbered the snapshot")
  }

  test("CompactSwap checks filesystem booleans: stale target cleared, " +
      "rename-false surfaces instead of losing the snapshot") {
    // round-12 ADVICE: fs.delete/rename report failure by RETURN VALUE
    // — HDFS rename returns false when the destination exists, and the
    // old swallow lost the folded snapshot silently.
    import org.apache.hadoop.fs.Path
    val root = new Path(
      Files.createTempDirectory("graft-swap").toString)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def mkDirWithMarker(name: String, marker: String): Path = {
      val p = new Path(root, name)
      fs.mkdirs(p)
      fs.create(new Path(p, marker)).close()
      p
    }
    val tmp = mkDirWithMarker(".compact_tmp", "snapshot_file")
    val folded = mkDirWithMarker("batch_id=0", "old_part")
    // a stale target from a previous partially-failed compaction — the
    // exact HDFS rename-returns-false trigger
    val dest = mkDirWithMarker("batch_id=0_stale_twin", "stale_file")
    CompactSwap.swap(fs, Seq(folded), tmp, dest)
    assert(!fs.exists(folded), "folded partition not deleted")
    assert(fs.exists(new Path(dest, "snapshot_file")),
      "snapshot did not land at the target")
    assert(!fs.exists(new Path(dest, "stale_file")),
      "stale target content survived the swap")
    assert(!fs.exists(tmp), "staging dir left behind after a clean swap")

    // --- recovery ruleset (round-13 review finding) ---
    // (a) manifest-less staging dir = the staging WRITE crashed;
    // originals intact → discarded, nothing else touched
    val t1 = mkDirWithMarker(".compact_tmp", "half_written")
    val f1 = mkDirWithMarker("batch_id=1", "orig_1")
    CompactSwap.recoverStaleStaging(fs, t1)
    assert(!fs.exists(t1) && fs.exists(f1),
      "incomplete staging not discarded cleanly")
    // (b) manifest present, every recorded partition alive = crash
    // BEFORE any delete → staging discarded, originals intact (the
    // attach(compactEvery) replay contract)
    val t2 = mkDirWithMarker(".compact_tmp", "staged_2")
    val d2 = new Path(root, "batch_id=1")
    val m2 = fs.create(new Path(t2, "_graft_swap"), true)
    m2.write(s"$d2\n$f1".getBytes("UTF-8")); m2.close()
    CompactSwap.recoverStaleStaging(fs, t2)
    assert(!fs.exists(t2) && fs.exists(new Path(f1, "orig_1")),
      "pre-delete staging not discarded / originals touched")
    // (c) manifest present, a recorded partition GONE = interrupted
    // swap; the staging dir is the only copy → recovery COMPLETES the
    // swap: survivors deleted, staging lands at the recorded dest
    val t3 = mkDirWithMarker(".compact_tmp", "staged_3")
    val f3a = mkDirWithMarker("batch_id=5", "orig_5")
    val f3gone = new Path(root, "batch_id=6") // recorded but deleted
    val d3 = new Path(root, "batch_id=5")
    val m3 = fs.create(new Path(t3, "_graft_swap"), true)
    m3.write(s"$d3\n$f3a\n$f3gone".getBytes("UTF-8")); m3.close()
    CompactSwap.recoverStaleStaging(fs, t3)
    assert(!fs.exists(t3), "interrupted swap left staging behind")
    assert(fs.exists(new Path(d3, "staged_3")) &&
      !fs.exists(new Path(d3, "orig_5")),
      "interrupted swap not completed into the recorded dest")
  }

  test("attach: MemoryStream ingest equals the batch operator") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val cents = Similarity.lowestIdCentroids(e, nCent)
    val root = Files.createTempDirectory("graft-vindex-stream").toString
    val idx = StreamingVectorIndex(s"$root/store", cents)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Double])]
    val q = idx.attach(
      in.toDF().toDF("vec_id", "embedding"), s"$root/ckpt")
    val rows = e.as[(Long, Seq[Double])].collect()
    (0 until 3).foreach { c =>
      in.addData(rows.filter(_._1 % 3 == c).toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val fromStore = idx.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    val batch = Similarity.ivfTopKFrom(
        e.where(col("vec_id") < 10), e, k, cents, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fromStore == batch)
  }

  test("vectors/topK read through an interrupted compact swap") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val cents = Similarity.lowestIdCentroids(e, nCent)
    val root = Files.createTempDirectory("graft-vindex-heal").toString
    val idx = StreamingVectorIndex(s"$root/store", cents)
    (0 until 3).foreach { c =>
      idx.processBatch(e.where(col("vec_id") % 3 === c), batchId = c.toLong)
    }
    def search() = idx.topK(spark, col("neighbor_id") < 10, k, nProbe)
      .as[(Long, Long, Int, Double)].collect().toSet
    val before = search()
    StreamReplay.crashMidCompact(spark, s"$root/store", Seq(0L, 1L), "cid")
    assert(search() == before, "topK missed the folded vectors")
    assert(idx.vectors(spark).count() == e.count())
  }

  test("a store holding only EMPTY batches reads as empty, not as a " +
      "schema-inference failure") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val cents = Similarity.lowestIdCentroids(e, nCent)
    val root = Files.createTempDirectory("graft-vindex-idle").toString
    val idx = StreamingVectorIndex(s"$root/store", cents)
    // partitionBy("cid") over zero rows leaves only _SUCCESS
    idx.processBatch(e.where(lit(false)), batchId = 0L)
    assert(idx.vectors(spark).count() == 0L)
    assert(idx.topK(spark, col("neighbor_id") < 10, k, nProbe).count() == 0L)
  }
}
