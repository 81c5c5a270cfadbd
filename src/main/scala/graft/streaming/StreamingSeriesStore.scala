package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Similarity
import graft.operators.TimeSeries

/** Streaming maintenance of the time-series similarity index — the
  * continuous form of [[TimeSeries]] (the retrieved EDBT 2019 line is
  * literally "TS similarity search for STREAMING data"): events arrive
  * in micro-batches and the per-entity daily series stays queryable
  * at any point, without re-scanning history.
  *
  * State design — the slot sums are ADDITIVE, so the store is a LOG OF
  * PER-BATCH PARTIAL SUMS (raw, unrounded — a rounded partial would
  * not merge), written to `storeDir/batch_id=N` with per-batch
  * OVERWRITE: replay of a batch whose write finished but whose
  * checkpoint commit did not rewrites its own partition — idempotent
  * by construction (the StreamingDecontaminate lesson; a flat append
  * would DOUBLE-COUNT on replay, which dedup-style stores tolerate but
  * sums never do). Reads merge the log with one partial-aggregated
  * groupBy, round to the 4dp convention, and feed the SAME
  * [[TimeSeries.fromSlots]] half the batch operator uses — so
  * store-built series equal the batch series on the union of all
  * batches by construction, any replay order (suite-pinned at both
  * SFs). No watermark is needed: a slot sum has no horizon (late
  * events just add), which is exactly why the state lives in a store
  * and not in keyed executor memory. [[compact]] bounds the log:
  * rewrite all-but-the-latest batch partitions as one summed snapshot
  * partition, same read path. */
final case class StreamingSeriesStore(storeDir: String,
    startDate: String, nSlots: Int, keyCol: String = "user_id",
    tsCol: String = "ts", valCol: String = "value",
    keyType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType) {

  private def store = BatchLog(storeDir)

  /** Fold ONE micro-batch's partial slot sums into the store. */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    store.write(TimeSeries.slotSums(batch, startDate, nSlots, keyCol,
      tsCol, valCol), batchId)

  /** The centered series as of all folded batches — identical shape
    * (and, on the same event set, identical values) to
    * [[TimeSeries.dailySeries]]. An untouched store yields an EMPTY
    * series, not a read error — "queryable at any point" includes
    * before the first commit (review catch; the pre-data schema types
    * the key as `keyType` — LongType by default per the fixture
    * event-id convention, pass StringType for entity-name keys; once
    * any batch has committed the parquet schema governs). A read racing
    * a failure-replay overwrite of one batch partition can transiently
    * miss files — retry semantics are the caller's (the usual
    * object-store snapshot caveat). */
  def series(spark: SparkSession): DataFrame = {
    val slots = store.read(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol, keyType),
        org.apache.spark.sql.types.StructField("__d",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__v",
          org.apache.spark.sql.types.DoubleType))))
    TimeSeries.fromSlots(
      slots.groupBy(col(keyCol), col("__d"))
        .agg(round(sum("__v"), 4).as("__v")),
      nSlots, keyCol)
  }

  /** Compact the per-batch partial-sum log into ONE summed snapshot
    * partition — the read path is unchanged (the snapshot is itself a
    * raw partial that merges like any batch), so a store that folded
    * 10⁴ micro-batches stops paying 10⁴-partition list-and-merge on
    * every read.
    *
    * Replay safety: the LATEST batch partition is deliberately LEFT
    * OUT of the fold. Batches commit sequentially, so the only
    * partition a restart can rewrite is the max written id (its
    * checkpoint commit may not have landed); folding it would turn
    * that benign self-overwrite into a double-count against the
    * snapshot. Every lower id has committed and can never replay —
    * those fold into a snapshot at the LOWEST folded id (an id no
    * future batch or replay can collide with).
    *
    * The snapshot is staged as a dot-prefixed temp dir INSIDE the
    * store (invisible to Spark's file index) and swapped in with
    * delete-then-rename. The swap is NOT crash-atomic: run compact()
    * as a maintenance step — no concurrent readers mid-swap (the
    * same transient-miss caveat [[series]] documents for replay
    * overwrites, wider here). A no-op below 3 batch partitions. */
  def compact(spark: SparkSession): Unit =
    // plain (key, __d, __v) rows; the sum stays RAW — the snapshot
    // is a partial, rounding happens once at the read merge like
    // every other batch
    store.compact(spark)(
      _.groupBy(col(keyCol), col("__d")).agg(sum("__v").as("__v")))

  /** Top-k correlated entities over the CURRENT store state. */
  def topK(spark: SparkSession, queryPred: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val s = series(spark)
    Similarity.bruteForceTopK(s.where(queryPred), s, k,
      idCol = keyCol, vecCol = "vec")
  }

  /** Wire onto a streaming DataFrame of events. `compactEvery = n`
    * folds the log inline every n-th batch (after that batch's write,
    * before its checkpoint commit): [[compact]] never touches the
    * max written partition, so the only batch whose commit is still
    * in flight — the current one — stays replayable, and a replay
    * after a mid-compaction crash re-runs both the write and the
    * compaction (both idempotent against the folded state). The
    * transient-miss caveat for concurrent READERS still applies. */
  def attach(stream: DataFrame, checkpointDir: String,
      compactEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId)
        compactEvery.foreach { n =>
          if (n > 0 && batchId > 0 && batchId % n == 0)
            compact(batch.sparkSession)
        }
      }
      .start()
}
