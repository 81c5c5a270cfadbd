package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.normalize.NormalizerSpec
import graft.runner.SegmentRunner
import graft.sink.{RotatingSegmentSink, RotationPolicy}
import graft.sources.{BinaryQueue, BinaryQueueSource}

/** The pipeline's segment commit under crashes: a micro-batch stopped
  * inside the commit, or a run stopped without `close()`, must end
  * with every id once in raw and in norm, every segment that holds
  * rows in the manifest, and the runner run once per segment. */
class ExactlyOnceSuite extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("tags", ArrayType(StringType))))

  private def nTags(id: Long): Int = (id % 3).toInt

  /** JSON frames for ids [from, until) over two queue partitions. */
  private def append(queue: String, from: Long, until: Long): Unit =
    (0 until 2).foreach { p =>
      BinaryQueue.append(queue, p, (from until until).filter(_ % 2 == p)
        .map { id =>
          val tags = (0 until nTags(id)).map(t => s""""t$t"""").mkString(",")
          s"""{"id":$id,"tags":[$tags]}""".getBytes("UTF-8") -> 1700000000000L
        })
    }

  /** Segments the runner ran on, by dir name. */
  private val runs = new ConcurrentLinkedQueue[String]()

  private def pipeline(root: String, thresholdMB: Long = 1000): Pipeline =
    Pipeline(spark,
    PipelineConfig(
      source = BinaryQueueSource(s"$root/queue"),
      outputDir = s"$root/out",
      destTable = "ev",
      decode = Decoders.json(schema),
      deadLetterTable = Some("dead"),
      normalizer = Some(NormalizerSpec(Seq("id", "tags"), Seq("id", "tag"))),
      rotation = RotationPolicy(thresholdMB = thresholdMB,
        durationSec = 100000, clamp = false),
      runner = Some(SegmentRunner(exec = false, queryFunc = Some { (_, views) =>
        val f = new Path(views.values.head.inputFiles.head)
        runs.add(f.getParent.getParent.getName)
        ()
      })),
      checkpointDir = Some(s"$root/ckpt")))

  /** Check the output of ids [0, n): each id once in raw, the closed
    * norm form, manifest = segments holding rows = runner runs. */
  private def checkOutput(root: String, n: Long, ranOn: Seq[String]): Unit = {
    val manifest = spark.read.parquet(s"$root/out/_manifest")
      .select("path").as[String].collect().toSeq
    val names = manifest.map(new Path(_).getName)
    assert(names.distinct.length == names.length, names)
    val withRows = new java.io.File(s"$root/out").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("seg_") &&
        Option(new java.io.File(d, "ev").list()).exists(
          _.exists(_.endsWith(".parquet")))).map(_.getName).toSeq
    assert(withRows.sorted == names.sorted,
      s"segments holding rows $withRows, manifest $names")
    assert(ranOn.sorted == names.sorted, s"runner ran on $ranOn")
    def table(t: String): DataFrame = spark.read.parquet(
      manifest.map(_ + "/" + t).filter(new java.io.File(_).exists()): _*)
    assert(table("ev").select("id").as[Long].collect().sorted.toSeq ==
      (0L until n), "raw ids not exactly once")
    val norm = table("ev_norm")
    val expected = (0L until n).map(id => math.max(1, nTags(id))).sum
    assert(norm.count() == expected)
    assert(norm.distinct().count() == expected, "norm rows duplicated")
  }

  for (point <- Seq("renamed", "marked"))
    test(s"a micro-batch stopped at '$point' lands exactly once after a " +
        "restart from the checkpoint") {
      val root = Files.createTempDirectory("graft-crash").toString
      runs.clear()
      append(s"$root/queue", 0, 50)
      val p1 = pipeline(root)
      val q1 = p1.run()
      q1.processAllAvailable()
      append(s"$root/queue", 50, 100)
      RotatingSegmentSink.crashAt.put(s"$root/out", point)
      val e = intercept[StreamingQueryException](q1.processAllAvailable())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[RotatingSegmentSink.SimulatedCrash]), e)
      assert(!RotatingSegmentSink.crashAt.containsKey(s"$root/out"))

      // no close(): the process is gone; a new pipeline restarts
      val p2 = pipeline(root)
      p2.run().processAllAvailable()
      p2.close()
      assert(p2.error.isEmpty, p2.error)
      checkOutput(root, 100, runs.asScala.toSeq)
    }

  test("a close stopped at 'closing' (handed off, no runner, no " +
      "manifest yet) fails the query; the restart closes it once") {
    val root = Files.createTempDirectory("graft-crash-close").toString
    runs.clear()
    append(s"$root/queue", 0, 50)
    val p1 = pipeline(root, thresholdMB = 0) // every batch rotates
    val q1 = p1.run()
    q1.processAllAvailable()
    RotatingSegmentSink.crashAt.put(s"$root/out", "closing")
    append(s"$root/queue", 50, 100)
    q1.processAllAvailable() // commits; its segment's close crashes
    append(s"$root/queue", 100, 150)
    // the next commit or rotation rethrows the failed close
    val e = intercept[StreamingQueryException](q1.processAllAvailable())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[RotatingSegmentSink.SimulatedCrash]), e)
    assert(!RotatingSegmentSink.crashAt.containsKey(s"$root/out"))

    val p2 = pipeline(root, thresholdMB = 0)
    p2.run().processAllAvailable()
    p2.close()
    assert(p2.error.isEmpty, p2.error)
    checkOutput(root, 150, runs.asScala.toSeq)
  }

  test("a run stopped without close(): the restart closes its open " +
      "segment once, through the runner and the manifest") {
    val root = Files.createTempDirectory("graft-orphan").toString
    runs.clear()
    append(s"$root/queue", 0, 40)
    val p1 = pipeline(root)
    val q1 = p1.run()
    q1.processAllAvailable()
    q1.stop() // the segment holding ids 0-39 stays open

    append(s"$root/queue", 40, 90)
    val p2 = pipeline(root)
    p2.run().processAllAvailable()
    p2.close()
    assert(p2.error.isEmpty, p2.error)
    assert(p2.metrics.messagesConsumed.get == 50, "restart re-read input")
    checkOutput(root, 90, runs.asScala.toSeq)
    assert(runs.size == 2)
  }
}
