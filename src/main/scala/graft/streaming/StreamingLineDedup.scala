package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Streaming line-level dedup — the C4 boilerplate pass
  * ([[graft.llm.Dedup.dedupLines]]) as a continuous pipeline: docs
  * arrive in micro-batches, a line is kept iff its normalized
  * fingerprint was never seen in ANY earlier batch (first ARRIVAL
  * wins; within a batch, the batch-local (doc, pos) minimum — so
  * under doc-id-ordered replay the kept set equals the batch
  * operator's global first-occurrence, the StreamingPrepareSuite
  * parity argument applied to lines).
  *
  * State lives in a persistent fingerprint STORE (a parquet
  * directory), not in executor memory: corpus-wide seen-line state at
  * 100 TB is far beyond what `dropDuplicates` keyed state can hold,
  * and — unlike a doc fingerprint — a line fingerprint has no
  * watermark horizon (the global footer repeats forever). The store
  * is written as `batch_id=N` partitions with per-batch OVERWRITE and
  * read EXCLUDING the current batch's own partition (the
  * [[StreamingSeriesStore]] discipline, adopted in round 14): a
  * crash-replayed batch therefore sees exactly the state its first
  * attempt saw and emits the IDENTICAL deduped docs — under the old
  * flat-append store, the replay found its own fingerprints already
  * claimed and emitted the batch's docs with their own
  * first-occurrence lines deleted (corrupted at-least-once
  * duplicates; suite-pinned). The per-batch step: anti-join batch
  * lines against the store (probe side = ONE batch, bounded; store
  * side a bare-fp scan), batch-local first-occurrence groupBy,
  * per-batch partition overwrite, per-doc reassembly. At cluster
  * scale the store becomes a bucketed table on `fp` so the anti-join
  * co-locates against each batch without a full store shuffle; the
  * empty-line exemption fingerprint is never stored (blank lines are
  * structure).
  *
  * Drive it either through [[attach]] (foreachBatch on a streaming
  * DataFrame) or by calling [[processBatch]] directly from an
  * existing foreachBatch (the [[graft.pipeline.Pipeline]] pattern).
  */
final case class StreamingLineDedup(storeDir: String,
    idCol: String = "doc_id", textCol: String = "text",
    sep: String = "\n") {

  private def store = BatchLog(storeDir)

  /** Dedup ONE micro-batch against the store and overwrite the
    * batch's own store partition. Returns the batch's surviving docs
    * in [[Dedup.dedupLines]]'s output shape
    * (idCol, text_dedup, n_removed). */
  def processBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    val lines = Dedup.lineTable(batch, idCol, textCol, sep)
      // one batch is re-consumed three times below (firsts, keep
      // join, store write) — materialize the bounded batch once
      .localCheckpoint(true)
    val seen = store.read(spark, lines.select("fp").schema,
      excluding = Some(batchId))
    // a line survives iff non-exempt AND unseen AND the batch-local
    // (doc, pos) minimum for its fingerprint
    val candidates = lines.where(col("fp") =!= Dedup.EmptyLineFp)
      .join(seen, Seq("fp"), "left_anti")
    val firsts = candidates.groupBy("fp")
      .agg(min(struct(col(idCol), col("pos"))).as("first"))
      .localCheckpoint(true) // consumed by keep-join AND store write
    // out's whole lineage hangs off the two checkpoints, NOT the
    // store scan — safe to evaluate after the store grows below
    val out = Dedup.reassembleLines(
      lines.join(firsts, Seq("fp"), "left")
        .withColumn("keep", col("fp") === Dedup.EmptyLineFp ||
          (col("first").isNotNull &&
            struct(col(idCol), col("pos")) === col("first"))),
      idCol, sep)
    store.write(firsts.select("fp"), batchId)
    out
  }

  /** Fold all-but-the-latest batch partitions into one sorted,
    * deduplicated snapshot at the lowest folded id — the
    * [[StreamingFuzzyDedup.compact]] shape (the max written id may
    * still be rewritten by a replay; every lower id has committed).
    * File-count hygiene for long streams; maintenance-step contract
    * — no concurrent readers mid-swap. */
  def compact(spark: SparkSession): Unit =
    // sorted + deduplicated snapshot: clustered fp row groups keep
    // the anti-join's runtime filters selective
    store.compact(spark)(_.dropDuplicates().sort("fp"))

  /** Wire onto a streaming DataFrame: each micro-batch is deduped
    * against the store and written to `outDir/batch_id=N` — a replay
    * rewrites its own output partition instead of duplicating it. */
  def attach(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BatchLog(outDir).write(processBatch(batch, batchId), batchId)
      }
      .start()
}
