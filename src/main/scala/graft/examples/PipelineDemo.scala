package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.normalize.NormalizerSpec
import graft.ops.Stages
import graft.pipeline.{Decoders, Pipeline, PipelineConfig}
import graft.runner.{SegmentQuery, SegmentRunner}
import graft.sink.RotationPolicy
import graft.sources.FileBinarySource

/** End-to-end usage sample: wire messages (Confluent-style 6-byte
  * prefix + JSON payload) → streaming pipeline (munge → decode →
  * normalize → rotating segments → per-segment SQL) → metrics report.
  *
  * This is the Spark-native equivalent of the reference's README
  * example (/root/reference/README.md:96-149): swap
  * `FileBinarySource` for `KafkaSource(...)` in a cluster with the
  * kafka connector jar and nothing else changes.
  *
  * Usage: runMain graft.examples.PipelineDemo [sfDir]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft-demo").toString

    // Stand in for the Kafka topic: events rows marshalled to bytes.
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    ev.select(
      concat(unhex(lit("0" * 12)),
        to_json(struct(ev.columns.map(col).toIndexedSeq: _*))
          .cast("binary")).as("value"),
      current_timestamp().as("timestamp"))
      .repartition(4)
      .write.parquet(s"$root/msgs")

    val payloadSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))

    val pipe = Pipeline(spark, PipelineConfig(
      source = FileBinarySource(s"$root/msgs", maxFilesPerTrigger = Some(1)),
      outputDir = s"$root/out",
      destTable = "events_raw",
      pathPrefix = "duck",
      munger = Some(Stages.confluentStrip),
      decode = Decoders.json(payloadSchema),
      normalizer = Some(NormalizerSpec(
        Seq("event_id", "event_type"), Seq("event_id", "kind"))),
      rotation = RotationPolicy(thresholdMB = 0, durationSec = 100000,
        clamp = false), // demo: rotate every micro-batch
      runner = Some(SegmentRunner(
        queries = SegmentQuery.sql("SELECT count(*) FROM events_raw_norm")))))

    pipe.metrics.startBenchmarkSampler(intervalSec = 2)
    val q = pipe.run()
    q.processAllAvailable()
    pipe.close()
    pipe.metrics.stopBenchmarkSampler()

    println("=== METRICS REPORT ===")
    println(pipe.metrics.report())
    println("=== BENCHMARK SAMPLES (2s window) ===")
    print(pipe.metrics.benchmarksReport())
    println("=== MANIFEST ===")
    spark.read.parquet(s"$root/out/_manifest/*.parquet")
      .orderBy("seg_index").show(false)
    println(s"conservation=${pipe.metrics.conservationHolds}")
    println(s"error=${pipe.error}")
    spark.stop()
  }
}
