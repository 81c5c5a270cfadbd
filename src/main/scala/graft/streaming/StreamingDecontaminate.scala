package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Decontaminate

/** Span-cut decontamination as a continuous streaming stage — the
  * streaming twin of [[Decontaminate.cutContaminated]], completing the
  * decontamination family's streaming surface (the drop-based
  * [[Decontaminate.cleanStreaming]] is the e2e prepare stage; this is
  * the cut-don't-drop variant production pipelines prefer for long
  * documents quoting one eval item).
  *
  * Why foreachBatch and why there is NO stream-side state: the whole
  * computation is a PER-DOCUMENT transformation against a fixed
  * benchmark — flag (winnow overlap), locate (positional k-gram runs
  * vs the benchmark), cut (doc-bounded windows). The benchmark side
  * broadcasts into every stage; nothing crosses documents, so the
  * micro-batch application IS the batch operator applied to the
  * batch's rows, and — unlike the dedup stages (StreamingPrepareSuite's
  * rank-chunked replay) or line dedup (persistent store) — replay
  * parity holds under ANY chunking, with no ordering requirement.
  *
  * The one batch/streaming divergence, documented: the docs-side hot
  * k-gram cap (`maxDf`, [[graft.llm.Dedup.duplicateSpansAgainst]]) is
  * corpus-scoped in batch but batch-scoped here — a k-gram hot across
  * the corpus yet cool within every micro-batch is capped by batch
  * mode only. Parity is EXACT whenever no flagged-doc k-gram exceeds
  * `maxDf` (the fixture case, suite-pinned at sf0.001 and sf0.1); at
  * scale the cap is a quadratic-tail guard either way.
  */
final case class StreamingDecontaminate(benchmark: DataFrame,
    k: Int = 4, w: Int = 4, minShared: Int = 2, spanK: Int = 8,
    minTokens: Int = 16, maxDf: Int = 1000,
    idCol: String = "doc_id", textCol: String = "text") {

  /** The foreachBatch body — one micro-batch through the batch
    * operator (exposed for direct parity testing). */
  def processBatch(batch: DataFrame): DataFrame =
    Decontaminate.cutContaminated(batch, benchmark, k, w, minShared,
      spanK, minTokens, maxDf, idCol, textCol)

  /** Wire onto a streaming DataFrame: per micro-batch, write the cut
    * corpus to `outDir/batch_id=N`. The per-batch OVERWRITE (not a
    * flat append) makes replay idempotent — foreachBatch re-delivers a
    * micro-batch whose write finished but whose checkpoint commit did
    * not, and an append would duplicate its rows (review catch);
    * rewriting the batch's own partition directory is a no-op on
    * replay. Readers `spark.read.parquet(outDir)` and get `batch_id`
    * back as a partition column. */
  def attach(stream: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BatchLog(outDir).write(processBatch(batch), batchId)
      }
      .start()
}
