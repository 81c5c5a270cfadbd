package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Streaming MinHash near-dup detection — the fuzzy-dedup stage
  * ([[graft.llm.Dedup.minhashLshPairsMd5]]) as a continuous pipeline,
  * completing the streaming-twin family (exact, line, decontaminate,
  * prepare all had twins; fuzzy did not): docs arrive in
  * micro-batches, and each batch emits every near-dup pair it forms
  * with ANY doc seen so far (its own batch included). Banding is the
  * batch operator's verbatim — the SAME [[Dedup.sigSets]] /
  * [[Dedup.bandRowsFromSigs]] derivation, so the CANDIDATE set over
  * any replay equals the batch operator's candidate set exactly, under
  * ANY chunking of the corpus (a pair agrees on a band key regardless
  * of which batches its two docs landed in; the pair surfaces when its
  * later doc arrives). Suite-pinned at sf0.001 and sf0.1.
  *
  * == The documented divergence: estimate verify, not exact verify ==
  * The batch operator verifies candidates with EXACT Jaccard over the
  * hashed shingle sets. A stream cannot: keeping every past doc's full
  * shingle set is corpus-sized state (hundreds of hashes per doc —
  * the thing the signature exists to avoid). The store keeps only the
  * k-long MinHash SIGNATURE per doc, and verification is the standard
  * signature estimate — `est_jaccard` = fraction of agreeing signature
  * components, an unbiased estimator of true Jaccard with
  * std ≈ sqrt(J(1−J)/k) (~0.087 at J = 0.6, k = 32). Pairs near the
  * threshold can therefore flip versus the batch exact verify in
  * EITHER direction; the suite pins the output EXACTLY against a
  * batch-side reference running the same banding with estimate verify,
  * and pins measured recall/precision floors against the exact-verify
  * batch operator (the [[StreamingDecontaminate]] pin-the-divergence
  * discipline). Raising k tightens the estimate at k longs/doc of
  * state.
  *
  * == State ==
  * Two [[BatchLog]] stores under `storeDir` (near-dup identity has no
  * watermark horizon, so keyed state cannot hold it):
  *  - `bands/` (band int, band_key string, id): the LSH index the
  *    per-batch candidate join probes — `bands` rows per doc;
  *  - `sigs/`  (id, sig array<long>): k longs per doc for the
  *    estimate verify.
  * Per batch: the batch OVERWRITES its own `batch_id=N` partition of
  * both stores FIRST, then its band rows probe every partition (own
  * rows included) — ONE bucket-local join yields in-batch and
  * cross-batch pairs in the same pass; the probe side is ONE batch,
  * bounded. A replayed batch rewrites its partitions instead of
  * adding a second copy, so the store it probes is the one its first
  * attempt probed and it re-emits the identical pairs. At cluster
  * scale the stores become tables bucketed by (band, band_key) and
  * id respectively, so the join never reshuffles the store. Doc ids
  * must be UNIQUE across batches (append-only contract, as
  * [[StreamingVectorIndex]]). Empty docs (NULL signature) never band,
  * never verify, and are not stored.
  */
final case class StreamingNearDup(storeDir: String,
    idCol: String = "doc_id", textCol: String = "text",
    n: Int = 3, k: Int = 32, bands: Int = 8,
    threshold: Double = 0.6, seed: Long = 42L) {

  require(bands >= 1 && bands <= k && k % bands == 0,
    s"bands=$bands must divide the signature width k=$k")

  private def bandLog = BatchLog(s"$storeDir/bands")
  private def sigLog = BatchLog(s"$storeDir/sigs")

  /** Process ONE micro-batch: write the batch's band/sig rows to its
    * store partitions, then emit the batch's new near-dup pairs
    * (id_a < id_b, est_jaccard ≥ threshold — in-batch AND
    * against-store, one probe join). */
  def processBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    // signature pass: the ONE shared derivation (md5-long shingles +
    // exact band keys — the oracle-reproducible batch variant this
    // twin is pinned against). The batch is re-consumed three times
    // (candidate probe, verify sigs, store writes) — materialize the
    // bounded batch once. Band rows are a map-only explode over the
    // checkpointed sigs (never re-running the shingle/minhash work),
    // so they need no second pin of their own (round-16 job cut).
    val sigs = Dedup.sigSets(
        Dedup.shingleSetsMd5(batch, idCol, textCol, n), k, seed)
      .where(col("sig").isNotNull)
      .select(col("id"), col("sig"))
      .localCheckpoint(true)
    val bandRows = Dedup.bandRowsFromSigs(sigs, k, bands,
      exactBandKey = true)
    // Write FIRST (round-16 job cut): with the batch's own rows in
    // the store, ONE batch-probes-store join yields in-batch AND
    // cross-batch pairs in the same pass (b.id =!= s.id skips the
    // self-pair; an in-batch pair surfaces from both directions and
    // collapses in the pair dedup) — replacing the former
    // self-join ∪ store-join double pass.
    sigLog.write(sigs, batchId)
    bandLog.write(bandRows, batchId)
    // candidate pairs: batch probes the store's LSH index (own rows
    // included); pair order normalizes by id so output ids are
    // (lo, hi) like the batch op regardless of arrival order
    val cand = bandRows.as("b")
      .join(bandLog.read(spark, bandRows.schema).as("s"),
        col("b.band") === col("s.band") &&
          col("b.band_key") === col("s.band_key") &&
          col("b.id") =!= col("s.id"))
      .select(least(col("b.id"), col("s.id")).as("id_a"),
        greatest(col("b.id"), col("s.id")).as("id_b"))
      // hash by id_a ONCE (round-16 exchange cut): hash(id_a)
      // satisfies the (id_a, id_b) dedup's clustering (subset rule)
      // AND co-partitions the sa join below, so neither inserts its
      // own shuffle. Skew exposure is unchanged — the sa join already
      // clustered by id_a.
      .repartition(col("id_a"))
      .dropDuplicates("id_a", "id_b")
    // estimate verify: signature agreement fraction. Sig lookup joins
    // the bounded candidate side against the store signatures (the
    // batch's own sigs are in the store now) — the same
    // build-the-pairs-side discipline as the batch verify.
    val allSigs = sigLog.read(spark, sigs.schema)
    cand.hint("shuffle_hash")
      .join(allSigs.as("sa"), col("id_a") === col("sa.id"))
      .hint("shuffle_hash")
      .join(allSigs.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("est_jaccard",
        Dedup.sigEstimate(col("sa.sig"), col("sb.sig"), k))
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      // pin the output before LATER batches grow the store: a replay
      // harness unions every batch's frame and evaluates at the end,
      // and an unpinned plan would then see future batches through
      // the store scans
      .localCheckpoint(true)
  }

  /** Fold all-but-the-latest batch partitions of each store into one
    * snapshot partition ([[StreamingNearDup.compactStores]]).
    * File-count hygiene for long streams; maintenance-step contract —
    * no concurrent readers mid-swap. */
  def compact(spark: SparkSession): Unit =
    StreamingNearDup.compactStores(spark, bandLog, sigLog)

  /** Wire onto a streaming DataFrame: each micro-batch's new pairs
    * overwrite `outDir/batch_id=N` — a replay rewrites, never
    * duplicates. */
  def attach(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BatchLog(outDir).write(processBatch(batch, batchId), batchId)
      }
      .start()
}

object StreamingNearDup {
  /** Compact a band log and a sig log (this twin's and
    * [[StreamingFuzzyDedup]]'s stores), each snapshot sorted by its
    * probe key: clustered row groups give parquet min/max stats real
    * selectivity, so the candidate join's runtime filters can skip
    * store row groups. */
  private[streaming] def compactStores(spark: SparkSession,
      bands: BatchLog, sigs: BatchLog): Unit = {
    def one(log: BatchLog, sortCols: String*): Unit =
      log.compact(spark)(_.dropDuplicates().sort(sortCols.map(col): _*))
    one(bands, "band", "band_key")
    one(sigs, "id")
  }
}
