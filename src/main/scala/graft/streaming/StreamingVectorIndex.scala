package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Streaming maintenance of an IVF vector index — the ANN counterpart
  * of [[StreamingSeriesStore]]: embedding batches arrive continuously
  * and the index stays queryable at any point, with the two costs
  * that matter at 100 TB paid WHERE they are cheap:
  *
  *  - ASSIGNMENT AT INGEST: each micro-batch is cell-assigned
  *    map-only (centroids ride as literals) exactly once, when the
  *    batch is small — a query never re-derives corpus assignments.
  *  - PRUNING AT THE FILE LEVEL: batches are written PARTITIONED BY
  *    `cid` (`storeDir/batch_id=N/cid=C/`), so a top-k probe filters
  *    on the partition column and the scan never opens files of
  *    unprobed cells — nProbe/nCentroids of the bytes, before any
  *    compute (plan-asserted in the suite). This is the classic
  *    inverted-file layout expressed as parquet partition dirs.
  *
  * State/idempotency contract — the [[StreamingSeriesStore]] design
  * verbatim: per-batch OVERWRITE into `batch_id=N`, so a replay of a
  * batch whose write finished but whose checkpoint commit did not
  * rewrites its own partition (suite-pinned). Vector ids must be
  * unique ACROSS batches (an append-only corpus); re-ingesting an id
  * in a different batch would index it twice — dedup is upstream's
  * job (the exact-dedup operators).
  *
  * The search is [[Similarity.ivfTopKOnAssigned]] — the SAME core the
  * batch operator family uses, so store-built results equal
  * [[Similarity.ivfTopKFrom]] on the union of all batches given the
  * same centroids (suite-pinned). The quantizer is pluggable exactly
  * like the batch family: any fixed centroid set works, including
  * [[Similarity.lowestIdCentroids]] for cross-engine comparability.
  * Centroids are FROZEN per store — retraining them re-buckets the
  * world, which is an offline rebuild, not a streaming operation. */
final case class StreamingVectorIndex(storeDir: String,
    centArrs: Seq[Seq[Double]], idCol: String = "vec_id",
    vecCol: String = "embedding") {

  private def store = BatchLog(storeDir, partitionBy = Seq("cid"))

  /** Assign + fold ONE micro-batch into the store. */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    store.write(batch.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cid", Similarity.flatAssignFn(centArrs)(col("cv"))),
      batchId)

  /** The indexed corpus as of all folded batches:
    * (neighbor_id, cv, cid) with `cid` a PARTITION column — filters
    * on it prune at the file level. Empty store ⇒ empty frame, not a
    * read error (Hadoop FS probe — the scheme-qualified-path
    * lesson). */
  def vectors(spark: SparkSession): DataFrame =
    store.read(spark, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType))))
      .select(col("neighbor_id"), col("cv"),
        col("cid").cast("int").as("cid"))

  /** Top-k cosine neighbors over the CURRENT index for the stored
    * vectors matching `queryPred` — probe cells are collected first
    * (bounded by nCentroids) so the corpus scan carries a PARTITION
    * filter on `cid` and unprobed cells never leave the object
    * store. */
  def topK(spark: SparkSession, queryPred: Column, k: Int,
      nProbe: Int): DataFrame = {
    val v = vectors(spark)
    val q = v.where(queryPred)
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol))
    val cells = Similarity.probedCellIds(q, centArrs, nProbe,
      idCol, vecCol)
    // same norm helper as the batch family — bit-parity with
    // ivfTopKFrom's cn is what makes store results EQUAL batch results
    val pruned = v
      .where(col("cid").isin(cells.map(c => c: Any): _*))
      .withColumn("cn", greatest(Similarity.norm(col("cv")), lit(1e-12)))
    Similarity.ivfTopKOnAssigned(q, pruned, k, centArrs, nProbe,
      idCol, vecCol)
  }

  /** Compact the per-batch log into ONE snapshot partition (still
    * partitioned by `cid` inside — the pruning layout is the point
    * of the store). Same replay-safety/staging/non-atomicity contract
    * as [[StreamingSeriesStore.compact]]: the latest batch stays out
    * (the only replay-eligible partition), the snapshot lands at the
    * lowest folded id, staged via a dot-prefixed temp dir. Unlike the
    * series store there is nothing to SUM — vectors are rows, so
    * compaction is a pure file-count rewrite: 10⁴ micro-batch dirs ×
    * k cells collapse to one dir × k cells. */
  def compact(spark: SparkSession): Unit = store.compact(spark)(identity)

  /** Offline re-quantization — the remedy for the frozen-centroid
    * contract: re-assign EVERY stored vector under `newCentroids` and
    * collapse the store to one fresh snapshot partition (staged and
    * swapped via [[CompactSwap]], like [[compact]]), returning the new
    * index instance bound to the new centroids on the same dir.
    * Results then equal a batch index built from scratch on the same
    * vectors with the new centroids (suite-pinned) — without
    * re-ingesting the corpus from its source.
    *
    * STRICTLY offline maintenance, one step beyond [[compact]]'s
    * no-concurrent-readers caveat: stop the stream first, and resume
    * by attaching the RETURNED instance with a FRESH checkpoint — a
    * restart of the old query would replay its last micro-batch
    * through the old instance's centroids, planting old-quantizer
    * rows next to the rebuilt snapshot. (The fold includes the latest
    * batch for exactly that reason: after a rebuild there is no
    * replay-eligible partition by contract.)
    *
    * The snapshot lands at `batch_id=-1` — an id NO micro-batch can
    * ever write (engine batch ids start at 0): the mandated fresh
    * checkpoint restarts ids at 0, so a non-negative snapshot id
    * (compact's lowest-folded-id convention) would be OVERWRITTEN by
    * the resumed stream's very first batch, silently destroying the
    * rebuilt index (round-13 review finding). compact() keeps its
    * convention safely because it requires the SAME checkpoint, whose
    * ids only grow past the folded range. */
  def rebuild(spark: SparkSession, newCentroids: Seq[Seq[Double]])
      : StreamingVectorIndex = {
    store.compact(spark, into = Some(-1L))(
      _.select(col("neighbor_id"), col("cv")).withColumn("cid",
        Similarity.flatAssignFn(newCentroids)(col("cv"))))
    copy(centArrs = newCentroids)
  }

  /** Wire onto a streaming DataFrame of (id, vector) rows. */
  def attach(stream: DataFrame, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId)
      }
      .start()
}
