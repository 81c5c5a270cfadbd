package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.ops.Stages
import graft.runner.{QuerySink, SegmentQuery, SegmentRunner}
import graft.sink.{RotationPolicy, SegmentWrites}
import graft.sources.{BinaryQueue, BinaryQueueSource}
import graft.streaming.BatchLog

/** The ingest path starts no `chmod` or `readlink` process for the
  * files it writes: checkpoint logs, staged parts, markers, manifest
  * entries, source sidecars and the segment runner's exports. Without
  * libhadoop, Hadoop's local filesystem forks one per created file or
  * dir and per renamed checkpoint entry; `graft.fs.NioLocalFileSystem`
  * avoids them. A streaming twin's `BatchLog` starts no `ls`, which
  * Hadoop forks to load a listed file's permission.
  * Counted with an in-process JFR recording of `jdk.ProcessStart`,
  * filtered by path: JVM one-offs (Hadoop's `setsid` probe) and
  * writes through Spark's cached FileSystem are not graft's. */
class ProcessSpawnSuite extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def frames(from: Long, n: Long) =
    (from until from + n).map(i => (s"""{"id":$i}""".getBytes(UTF_8), 1700000000000L + i))

  /** Command lines of `commands` (by default `chmod` and `readlink`)
    * started while `body` ran that name a path under `root`. */
  private def spawnsUnder(root: String,
      commands: Set[String] = Set("chmod", "readlink"))(
      body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val file = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter { c =>
          commands(c.takeWhile(_ != ' ').split('/').last) &&
            c.contains(root)
        }
    } finally { rec.close(); Files.delete(file) }
  }

  /** Three micro-batches over graft-binqueue, each rotating a segment
    * (and running `runner` on it). */
  private def viaPipeline(root: String,
      runner: Option[SegmentRunner] = None): Unit = {
    BinaryQueue.append(s"$root/queue", 0, frames(0, 10))
    val pipe = Pipeline(spark, PipelineConfig(
      source = BinaryQueueSource(s"$root/queue"),
      outputDir = s"$root/out",
      destTable = "ids",
      decode = Decoders.json(schema),
      rotation = RotationPolicy(thresholdMB = 0, clamp = false),
      runner = runner,
      checkpointDir = Some(s"$root/ckpt")))
    val q = pipe.run()
    q.processAllAvailable()
    Seq(10L, 20L).foreach { from =>
      BinaryQueue.append(s"$root/queue", 0, frames(from, 10))
      q.processAllAvailable()
    }
    pipe.close()
    assert(pipe.error.isEmpty, pipe.error)
    assert(pipe.metrics.recordsInserted.get == 30)
    assert(pipe.metrics.filesClosed.get >= 3)
  }

  /** The same three batches into graft-binsegment. */
  private def viaSegmentWrite(root: String): Unit = {
    BinaryQueue.append(s"$root/queue", 0, frames(0, 10))
    val q = Stages.decodeJson(schema)(BinaryQueueSource(s"$root/queue").stream(spark))
      .where(col("_corrupt").isNull).select("id")
      .writeStream
      .format("graft-binsegment")
      .option("path", s"$root/out")
      .option("table", "t")
      .option("thresholdMB", "0") // rotate after every committing epoch
      .option("durationSec", "100000")
      .option("clamp", "false")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      q.processAllAvailable()
      Seq(10L, 20L).foreach { from =>
        BinaryQueue.append(s"$root/queue", 0, frames(from, 10))
        q.processAllAvailable()
      }
    } finally q.stop()
    SegmentWrites.finalRotate(s"$root/out")
    assert(q.recentProgress.map(_.numInputRows).sum == 30)
  }

  private def assertNone(name: String, spawns: Seq[String]): Unit =
    assert(spawns.isEmpty, s"$name: ${spawns.size} spawns, e.g. " +
      spawns.groupBy(_.split(' ').take(2).mkString(" ")).view
        .mapValues(_.size).toMap)

  test("no chmod or readlink spawns under the ingest dirs: a Pipeline " +
      "and a graft-binsegment query, each with a checkpoint") {
    Seq("Pipeline" -> (viaPipeline(_: String)), "graft-binsegment" -> viaSegmentWrite _)
      .foreach { case (name, run) =>
        val root = Files.createTempDirectory("graft-spawns").toString
        assertNone(name, spawnsUnder(root)(run(root)))
      }
  }

  test("a segment runner's export into the segment dir starts no chmod; " +
      "the caller's session keeps its file: filesystem") {
    val root = Files.createTempDirectory("graft-spawns").toString
    val runner = SegmentRunner(Seq(SegmentQuery(
      "SELECT count(*) AS n, sum(id) AS s FROM ids",
      Some(QuerySink("${segment}/_agg")))))
    assertNone("runner export", spawnsUnder(root)(viaPipeline(root, Some(runner))))
    val aggs = new java.io.File(s"$root/out").listFiles().toSeq
      .filter(d => new java.io.File(d, "_agg").isDirectory)
    assert(aggs.length >= 3, aggs)
    assert(spark.read.parquet(aggs.map(d => s"$d/_agg/*.parquet"): _*)
      .selectExpr("sum(n)").head().getLong(0) == 30L)
    assert(spark.conf.getOption("fs.file.impl").isEmpty,
      "the runner changed the caller's session")
  }

  test("a BatchLog write and read over batch_id partitions starts no ls") {
    val root = Files.createTempDirectory("graft-spawns").toString
    val log = BatchLog(s"$root/log")
    val spawns = spawnsUnder(root, Set("ls")) {
      (0L until 3L).foreach(b => log.write(spark.range(b * 5, b * 5 + 5).toDF("id"), b))
      assert(log.read(spark, schema).count() == 15)
      assert(log.read(spark, schema, excluding = Some(2L)).count() == 10)
    }
    assertNone("BatchLog", spawns)
  }
}
