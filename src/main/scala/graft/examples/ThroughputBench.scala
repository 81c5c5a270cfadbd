package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.mock.MockGen
import graft.normalize.NormalizerSpec
import graft.ops.Stages
import graft.pipeline.{Decoders, Pipeline, PipelineConfig, ProtoCodec,
  ProtoEncodeExpr}
import graft.sink.RotationPolicy
import graft.sources.{BinaryQueueSource, DataFrameSource, FileBinarySource, MessageSource}

/** Ingest-throughput measurement comparable in character to the
  * reference's published run (BASELINE.md: 398k records/s decode,
  * 806k rows/s raw+norm sink on 60 CPUs): generate N wire messages
  * (6-byte prefix + payload), run the full pipeline
  * (munge → decode → normalize → raw+norm parquet) and print one JSON
  * line per mode (`mode`, `records_per_s`, `sink_rows_per_s`,
  * `conservation`).
  *
  * Modes over the SAME logical record (id, site{id,kind}, score, flag;
  * protobuf frames add `ts = id − 500`):
  *  - `json`            — untyped from_json decode (round-1 path)
  *  - `proto`           — REAL protobuf wire format (varint/zigzag/
  *                        fixed64/nested, graft.pipeline.ProtoCodec)
  *                        through the typed boundary — the closest
  *                        analogue to the reference's generated-proto
  *                        decode (/root/reference/proto.go:106-172)
  *  - `proto-columnar`  — protobuf decoded by the one-pass codegen'd
  *                        `ProtoParseExpr`
  *  - `binqueue`        — streaming: the DSv2 `graft-binqueue` source
  *                        over the protobuf frames, columnar decode
  *  - `file-stream`     — streaming: FileStreamSource over the same
  *                        frames, columnar decode
  *  - `all`             — every mode above
  * The first three feed one already-read batch; the two streaming
  * modes read from their source over ~8 triggers.
  *
  * Usage: runMain graft.examples.ThroughputBench [nMessages] [mode]
  *   mode ∈ json | proto | proto-columnar | binqueue | file-stream |
  *          all (default all)
  */
object ThroughputBench {

  private val Modes =
    Seq("json", "proto", "proto-columnar", "binqueue", "file-stream", "all")

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("site", StructType(Seq(
      StructField("id", StringType), StructField("kind", StringType)))),
    StructField("score", DoubleType),
    StructField("flag", BooleanType)))

  /** Stage wire messages to parquet so generation cost is excluded;
    * spread like a real N-partition topic would arrive. */
  private def stage(spark: SparkSession, dir: String,
      msgs: DataFrame): DataFrame = {
    msgs.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** The one pipeline shape every mode runs: envelope strip, `decode`,
    * normalizer, raw+norm sink, no rotation while measuring. */
  private def config(root: String, mode: String, source: MessageSource,
      decode: DataFrame => DataFrame): PipelineConfig = PipelineConfig(
    source = source,
    outputDir = s"$root/out_$mode",
    destTable = "msgs",
    munger = Some(Stages.confluentStrip),
    decode = decode,
    normalizer = Some(NormalizerSpec(
      Seq("id", "site.id", "site.kind", "score"),
      Seq("id", "site", "kind", "score"))),
    rotation = RotationPolicy(thresholdMB = 100000, durationSec = 100000,
      clamp = false))

  private def runMode(spark: SparkSession, root: String, mode: String,
      wire: DataFrame, decode: DataFrame => DataFrame, n: Long): Unit = {
    val pipe = Pipeline(spark,
      config(root, mode, DataFrameSource(wire), decode))
    val t0 = System.nanoTime()
    pipe.processBatch(wire, 0L)
    pipe.close()
    record(mode, n, (System.nanoTime() - t0) / 1e9, pipe)
  }

  /** One JSON line per mode: `mode`, `records_per_s`,
    * `sink_rows_per_s` (raw + norm rows) and `conservation`. */
  private def record(mode: String, n: Long, secs: Double,
      pipe: Pipeline): Unit = {
    val m = pipe.metrics
    val recsPerSec = m.recordsProcessed.get / secs
    val rowsPerSec = (m.recordsInserted.get + m.normRecordsInserted.get) / secs
    println(f"""{"mode": "$mode", "messages": $n, "wall_s": $secs%.2f, """ +
      f""""records_per_s": $recsPerSec%.0f, "sink_rows_per_s": $rowsPerSec%.0f, """ +
      s""""conservation": ${m.conservationHolds}}""")
  }

  /** SOURCE-inclusive sustained throughput: the full STREAMING path
    * (trigger planning → source read → munge → decode → ingest) over
    * multiple micro-batches — the shape of the reference's published
    * 398k rec/s, which is a consume-from-source number
    * (/root/reference/kafka.go:90-167), where [[runMode]] starts from
    * an already-read DataFrame. `binqueue` exercises the DSv2
    * `graft-binqueue` source (admission control + per-trigger
    * latestOffset) vs `file-stream`'s FileStreamSource over the SAME
    * frames. */
  private def runStreamMode(spark: SparkSession, root: String,
      mode: String, source: MessageSource,
      decode: DataFrame => DataFrame, n: Long): Unit = {
    val pipe = Pipeline(spark, config(root, mode, source, decode)
      .copy(checkpointDir = Some(s"$root/ckpt_$mode")))
    val t0 = System.nanoTime()
    val q = pipe.run()
    q.processAllAvailable()
    pipe.close()
    record(mode, n, (System.nanoTime() - t0) / 1e9, pipe)
  }

  /** Stage the wire frames as a partitioned BinaryQueue log —
    * executor-parallel, one task per queue partition file. */
  private def stageQueue(wire: DataFrame, dir: String, parts: Int): Unit = {
    new java.io.File(dir).mkdirs()
    wire.select("value").repartition(parts).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        // append=false: a retried/speculative task OVERWRITES its own
        // partition file instead of appending a second copy (review
        // finding — duplicated frames would inflate rec/s and break
        // conservation)
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(new java.io.FileOutputStream(
            new java.io.File(dir, s"p$pid.log"), false), 1 << 20))
        try it.foreach { r =>
          val b = r.getAs[Array[Byte]](0)
          out.writeInt(b.length)
          out.writeLong(1700000000000L)
          out.write(b)
        } finally out.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val mode = args.drop(1).headOption.getOrElse("all")
    require(Modes.contains(mode),
      s"unknown mode '$mode' (${Modes.mkString(" | ")})")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft-tput").toString

    val rows = MockGen.batch(spark, schema, n, seed = 42)

    lazy val jsonWire = stage(spark, s"$root/msgs_json",
      MockGen.asMessages(rows, prefixBytes = 6))
    // columnar encode of the MockGen rows: the same bytes as the typed
    // ProtoCodec.encode (ProtoCodecSuite pins the two byte-equal)
    lazy val protoWire = {
      val rec = struct(col("id"), col("site"), col("score"), col("flag"),
        (col("id") - 500L).as("ts"))
      val payload = ColumnBridge.column(
        ProtoEncodeExpr(ColumnBridge.expression(rec)))
      stage(spark, s"$root/msgs_proto", rows.select(
        concat(unhex(lit("00" * 6)), payload).as("value"),
        current_timestamp().as("timestamp")))
    }
    def on(m: String): Boolean = mode == "all" || mode == m

    if (on("json"))
      runMode(spark, root, "json", jsonWire,
        Decoders.json(schema), n)
    if (on("proto"))
      runMode(spark, root, "proto", protoWire,
        Decoders.typed(ProtoCodec.decode), n)
    if (on("proto-columnar"))
      runMode(spark, root, "proto-columnar",
        protoWire, ProtoCodec.decodeColumnar, n)
    // source-inclusive STREAMING arms over the same frames + the same
    // (fastest) columnar decode, ~8 triggers each, so the source layer
    // is the only variable between them
    if (on("binqueue")) {
      val qDir = s"$root/binqueue"
      stageQueue(protoWire, qDir, parts = 8)
      runStreamMode(spark, root, "binqueue",
        BinaryQueueSource(qDir, maxOffsetsPerTrigger = Some(n / 8)),
        ProtoCodec.decodeColumnar, n)
    }
    if (on("file-stream")) {
      protoWire.count() // force the lazy staging of msgs_proto
      runStreamMode(spark, root, "file-stream",
        FileBinarySource(s"$root/msgs_proto",
          maxFilesPerTrigger = Some(4)),
        ProtoCodec.decodeColumnar, n)
    }

    spark.stop()
  }
}
