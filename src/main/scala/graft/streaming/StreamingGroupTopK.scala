package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming per-group top-k — the running form of the bounded
  * sampling family ([[graft.llm.Sampling.weightedReservoir]],
  * [[graft.llm.Sampling.capPerKey]]): maintain, across micro-batches,
  * the k best rows per group under a DETERMINISTIC total order.
  *
  * Top-k under a total order is a MERGEABLE, IDEMPOTENT summary:
  * `topK(topK(A) ∪ B) = topK(A ∪ B)` (a row in the final top-k is in
  * the top-k of any subset containing it), and re-merging rows the
  * snapshot already holds changes nothing once duplicates collapse on
  * the id. Two consequences this class is built on, both suite-pinned
  * (StreamingGroupTopKSuite):
  *
  *  - **chunking invariance**: the snapshot after any partition of
  *    the corpus into batches — in any order — equals the BATCH
  *    operator over the whole corpus, so the streaming twins of
  *    llm_reservoir / llm_source_cap reuse those queries' DuckDB
  *    oracles verbatim;
  *  - **replay safety**: this store is the third pattern in the
  *    round-14 replay-discipline audit (SCALE.md) — the replayed
  *    batch DOES read state its first attempt wrote, and that is
  *    FINE, because the merge is idempotent. No per-batch partition
  *    bookkeeping needed; the snapshot is the whole state.
  *
  * Durability: each merge materializes to a staging dir FIRST, then
  * [[CompactSwap]] swaps it in (manifest + checked delete/rename), so
  * a crash at any point leaves either the old snapshot or a
  * self-healing interrupted swap — never a torn store.
  *
  * Contracts: `order` must be total per group (tie-break on a unique
  * id — same rule as capPerKey); the id columns must functionally
  * determine the row (a re-sent id must carry identical values; true
  * for content-derived rows like reservoir keys); and the store is
  * SINGLE-WRITER (one stream/driver merges at a time — the
  * StreamingMergeUpsert contract; CompactSwap recovery heals crashes,
  * not concurrent writers). Feed batches either
  * directly or pre-summarized with the batch operator (both pinned
  * equal — per-batch top-k IS the mergeable summary, and shipping
  * ≤ groups·k rows per batch into the merge is the scale path).
  * Snapshot size is bounded by groups × k rows; the merge is one
  * rank-filter window over snapshot ∪ batch, planned with Catalyst's
  * partial WindowGroupLimit like the batch operator. */
final case class StreamingGroupTopK(storeDir: String, k: Int,
    groupCols: Seq[String], order: Seq[Column], idCols: Seq[String]) {
  require(k >= 1, s"k=$k must be >= 1")
  require(groupCols.nonEmpty && order.nonEmpty && idCols.nonEmpty,
    "groupCols, order and idCols must be non-empty")

  private def snap = Snapshot(s"$storeDir/snapshot", s"$storeDir/staging")

  /** Current kept set (k best rows per group so far); empty-schema
    * answers come from the first batch, so this throws before any
    * batch has committed.
    *
    * Concurrent-reader caveat (ADVICE r14): [[processBatch]] swaps the
    * WHOLE snapshot on EVERY batch (delete-old + rename-staging), so
    * an external reader racing an active merge can transiently hit a
    * missing/partial snapshot — the StreamingSeriesStore transient-miss
    * semantics, but per batch rather than only during maintenance
    * compaction. Retry semantics are the caller's; the single-WRITER
    * contract is unchanged, and this read writes nothing (after a
    * crash mid-swap it reads the staged copy; the next
    * [[processBatch]] finishes the swap). */
  def snapshot(spark: SparkSession): DataFrame =
    snap.read(spark).getOrElse(throw new IllegalArgumentException(
      s"StreamingGroupTopK: no committed snapshot under $storeDir yet"))

  /** Merge one micro-batch into the store and return the NEW
    * snapshot. Call from foreachBatch (the Pipeline pattern) or
    * directly for replay harnesses. */
  def processBatch(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    // Round-16 note: folding the dedup + window onto ONE exchange by
    // hash-partitioning on the group key alone was tried and REVERTED
    // — group keys are low-cardinality (a language, a source), so it
    // clusters the whole raw merge onto |groups| partitions and skews
    // the (group, id) dedup that the two-exchange plan runs well
    // spread; the saved exchange measured as noise locally.
    snap.update(spark)(_.fold(batch)(_.unionByName(batch))
      // a replayed batch re-sends rows the snapshot already holds;
      // collapse on the id FIRST or duplicates would occupy top-k
      // slots and evict legitimate rows
      .dropDuplicates(groupCols ++ idCols)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .drop("_rn"))
    snapshot(spark)
  }
}
