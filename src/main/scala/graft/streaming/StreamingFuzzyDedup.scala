package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** The DROP stage of fuzzy dedup as a stream — what
  * [[StreamingNearDup]] (the pair stage) deliberately is not: each
  * micro-batch returns its SURVIVING docs, so the fuzzy half of the
  * e2e prepare pipeline (`llm_e2e_prepare_fuzzy`'s
  * pairs → clusters → keep-lowest-rep) runs as one continuous
  * ingestion alongside the exact/line/decontaminate twins.
  *
  * == Semantics (and the one documented divergence) ==
  * A batch doc survives iff it does NOT est-match any already-KEPT
  * doc, and it is its batch-internal cluster's lowest id:
  *
  *  1. cross-batch: batch docs whose signature estimate
  *     ([[Dedup.sigEstimate]], the [[StreamingNearDup]] verify)
  *     reaches `threshold` against ANY kept doc are dropped — the
  *     kept store only ever holds survivors, so "first arrival wins"
  *     exactly like the exact-dedup streaming twin;
  *  2. batch-internal: the remaining batch docs run the FULL batch
  *     machinery — est pairs → [[Dedup.dedupClusters]] transitive
  *     components → keep the lowest id per cluster. A batch is
  *     bounded, so the CC loop is the batch operator's own.
  *
  * Replaying the whole corpus as ONE batch therefore reproduces the
  * batch pipeline EXACTLY (modulo the estimate-vs-exact verify, the
  * StreamingNearDup divergence): path 2 is the batch pipeline.
  * Across batches the divergence is TRANSITIVE CHAINS: batch keeps
  * only the component minimum of a chain a–b, b–c (no a–c edge),
  * while a stream that saw c after b was already dropped KEEPS c —
  * c matches no kept doc (a is kept, but a never paired with c).
  * That is the honest online semantics (you can only compare against
  * what you kept — dropping c would need the retracted b), the same
  * greedy-vs-transitive split every streaming dedup system documents.
  * The suite pins BOTH sides: single-batch ≡ batch-CC survivors, and
  * multi-batch ≡ a single-threaded greedy reference simulated from
  * the pair graph, chain divergence by hand case.
  *
  * == State: per-batch partition OVERWRITE (idempotent replay) ==
  * The kept store holds ONLY survivors, as two [[BatchLog]]s
  * (`bands/`, `sigs/`), and every store read EXCLUDES the current
  * batch's own partition. A replayed
  * batch (store write landed, downstream commit did not) therefore
  * recomputes from EXACTLY the inputs the first attempt saw and
  * emits the identical survivor set — no silent survivor loss, which
  * a flat-append store would cause (the batch's own kept copies
  * would est-match themselves at 1.0 and everything would drop).
  * Suite-pinned. Unique ids across batches (append-only contract);
  * empty docs (NULL signature) never match anything and SURVIVE
  * (they carry no content to duplicate); they are not stored.
  * [[compact]] folds all-but-the-latest partitions into one sorted
  * snapshot (the latest stays replayable — the SeriesStore rule). */
final case class StreamingFuzzyDedup(storeDir: String,
    idCol: String = "doc_id", textCol: String = "text",
    n: Int = 3, k: Int = 32, bands: Int = 8,
    threshold: Double = 0.6, seed: Long = 42L) {

  require(bands >= 1 && bands <= k && k % bands == 0,
    s"bands=$bands must divide the signature width k=$k")

  private def bandLog = BatchLog(s"$storeDir/bands")
  private def sigLog = BatchLog(s"$storeDir/sigs")

  /** Process ONE micro-batch: returns the batch's SURVIVING rows
    * (all input columns), then overwrites the batch's kept band/sig
    * store partitions. */
  def processBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    val sigs = Dedup.sigSets(
        Dedup.shingleSetsMd5(batch, idCol, textCol, n), k, seed)
      .where(col("sig").isNotNull)
      .select(col("id"), col("sig"))
      .localCheckpoint(true)
    // map-only explode over the checkpointed sigs, consumed once by
    // the cross-batch probe — needs no second pin (round-16 job cut)
    val bandRows = Dedup.bandRowsFromSigs(sigs, k, bands,
      exactBandKey = true)
    // 1. cross-batch drop: batch ids est-matching ANY kept doc of an
    // EARLIER batch (own partition excluded — replay idempotency).
    // Candidates dedup to pairs before the sig joins (pairs-sized,
    // the StreamingNearDup discipline).
    val crossCand = bandRows.as("b")
      .join(bandLog.read(spark, bandRows.schema, Some(batchId)).as("s"),
        col("b.band") === col("s.band") &&
          col("b.band_key") === col("s.band_key"))
      .select(col("b.id").as("bid"), col("s.id").as("kid"))
      // hash by kid ONCE (round-16 exchange cut): hash(kid) satisfies
      // the (bid, kid) dedup's clustering (subset rule) and
      // co-partitions the store-sig join; joining the BATCH sigs last
      // leaves the frame hashed by bid, so the final id distinct
      // inserts no shuffle either
      .repartition(col("kid"))
      .dropDuplicates("bid", "kid")
    val dropIds = crossCand
      .join(sigLog.read(spark, sigs.schema, Some(batchId)).as("sb"),
        col("kid") === col("sb.id"))
      .join(sigs.as("sa"), col("bid") === col("sa.id"))
      .where(Dedup.sigEstimate(col("sa.sig"), col("sb.sig"), k)
        >= threshold)
      .select(col("bid").as("id")).distinct()
    // 2. batch-internal CC + keep-lowest among the remainder
    val survSigs = sigs.join(dropIds, Seq("id"), "left_anti")
      .localCheckpoint(true)
    val survBands = Dedup.bandRowsFromSigs(survSigs, k, bands,
      exactBandKey = true)
    val inPairs = survBands.as("l")
      .join(survBands.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      // hash(id_a) serves the pair dedup AND the sa join (subset
      // rule, as in the cross-batch chain above)
      .repartition(col("id_a"))
      .dropDuplicates("id_a", "id_b")
      .join(survSigs.as("sa"), col("id_a") === col("sa.id"))
      .join(survSigs.as("sb"), col("id_b") === col("sb.id"))
      .where(Dedup.sigEstimate(col("sa.sig"), col("sb.sig"), k)
        >= threshold)
      .select(col("id_a"), col("id_b"))
    val clusters = Dedup.dedupClusters(inPairs) // (id, cluster_rep)
    val keptIds = survSigs.select(col("id"))
      .join(clusters, Seq("id"), "left")
      .where(col("cluster_rep").isNull ||
        col("cluster_rep") === col("id"))
      .select(col("id"))
    // survivors = kept content docs ∪ empty docs (no sig — nothing
    // to duplicate); computed as batch rows whose id is NOT a
    // non-surviving sig id
    val lostIds = sigs.select(col("id"))
      .join(keptIds, Seq("id"), "left_anti")
    val out = batch.join(lostIds.withColumnRenamed("id", idCol),
        Seq(idCol), "left_anti")
      .localCheckpoint(true) // pin before the store writes below
    val keptSigs = survSigs.join(keptIds, Seq("id"), "left_semi")
      .localCheckpoint(true) // consumed by BOTH store writes
    sigLog.write(keptSigs, batchId)
    bandLog.write(
      Dedup.bandRowsFromSigs(keptSigs, k, bands, exactBandKey = true),
      batchId)
    out
  }

  /** Fold all-but-the-latest batch partitions of each store into one
    * sorted, deduplicated snapshot partition at the lowest folded id
    * — [[StreamingSeriesStore.compact]]'s replay-safety rule (the max
    * written id may still be rewritten by a replay; every lower id
    * has committed) with [[StreamingNearDup.compactStores]]' sorted
    * re-layout. Maintenance-step contract: no concurrent readers
    * mid-swap. */
  def compact(spark: SparkSession): Unit =
    StreamingNearDup.compactStores(spark, bandLog, sigLog)

  /** Wire onto a streaming DataFrame: each micro-batch's survivors
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
