package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis

/** Streaming distribution-drift monitor — [[TextAnalysis.tokenDrift]]
  * as a continuous pipeline quality gate: a REFERENCE per-language
  * token distribution (built once from a trusted snapshot, persisted
  * as parquet) is compared against every arriving micro-batch, and
  * one (lang, …, js_div) row per language lands in the batch's
  * `batch_id=N` partition of the monitor output. The standard ingest guard: a crawl source
  * going bad (language flip, boilerplate flood, encoding breakage)
  * moves JS sharply long before volume metrics notice.
  *
  * Same math as the batch operator — side A = reference counts, side
  * B = the batch (a FULL outer union of the two vocabularies, exactly
  * [[TextAnalysis.jsFromCounts]]) — so batch/streaming parity is a
  * code-path identity, pinned in StreamingDriftSuite: a batch whose
  * token distribution equals the reference reads js_div = 0.0
  * EXACTLY.
  *
  * Scale shape: per batch, the batch side is bounded by the trigger;
  * the reference store is a bare (lang, term, cnt) scan — bucket it
  * on (lang, term) at cluster scale to co-locate the join. The
  * monitor output is a few rows per batch. State never lives in
  * executor memory (the StreamingLineDedup store argument). */
final case class StreamingDrift(refDir: String,
    idCol: String = "doc_id", textCol: String = "text",
    langCol: String = "lang") {

  /** Build (or rebuild) the reference distribution from a trusted
    * corpus snapshot: one partial-aggregated pass → (lang, term, cnt)
    * parquet. */
  def buildReference(df: DataFrame): Unit =
    df.select(col(langCol).as("lang"),
        explode_outer(TextAnalysis.tokens(col(textCol))).as("term"))
      .where(col("term").isNotNull)
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(refDir)

  /** Drift of ONE micro-batch against the reference:
    * (lang, n_tokens_a = reference mass, n_tokens_b = batch mass,
    * n_terms, js_div). */
  def processBatch(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val ref = spark.read.parquet(refDir)
      .select(col("lang"), col("term"), col("cnt").as("ca"))
    val b = batch.select(col(langCol).as("lang"),
        explode_outer(TextAnalysis.tokens(col(textCol))).as("term"))
      .where(col("term").isNotNull)
      .groupBy("lang", "term").agg(count(lit(1)).as("cb"))
    // full outer: reference-only terms carry batch mass 0 and vice
    // versa — both contribute divergence, the jsFromCounts contract
    // report only languages the batch actually carries ("drift of
    // THIS batch"): a lang with zero batch mass would divide q by a
    // zero total. Semi join against the batch's tiny lang set — never
    // a window by lang (a language's reference vocabulary in one
    // window task is the no-big-window hazard).
    val cnts = ref.join(b, Seq("lang", "term"), "full_outer")
      .select(col("lang"), col("term"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .join(broadcast(b.select("lang").distinct()), Seq("lang"),
        "left_semi")
    TextAnalysis.jsFromCounts(cnts)
  }

  /** Wire onto a streaming DataFrame: per micro-batch, overwrite the
    * drift report at `outDir/batch_id=N` — a replay rewrites, never
    * duplicates; readers get `batch_id` back as a partition column. */
  def attach(stream: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BatchLog(outDir).write(processBatch(batch), batchId)
      }
      .start()
}
