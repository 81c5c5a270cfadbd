package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.runner.{QuerySink, SegmentQuery, SegmentRunner}
import graft.sink.RotationPolicy
import graft.sources.{BinaryQueue, BinaryQueueSource, DataFrameSource}

/** Latches a runner's Spark task blocks on (tasks reach them through
  * this object, not through a serialized closure). */
object SegmentCloseGate {
  @volatile var taskIn = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** The segment close off the trigger path: a rotation hands the
  * segment to a background close and returns; the next rotation,
  * `closedSegments()` and `close()` wait for it; stopping the query
  * does not cancel it; the runner runs in a session clone; epoch
  * markers are pruned at each close; the sink reads the session's
  * Hadoop conf. */
class SegmentCloseSuite extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def frames(from: Long, until: Long): Seq[Array[Byte]] =
    (from until until).map(i => s"""{"id":$i}""".getBytes("UTF-8"))

  private def batch(from: Long, until: Long): DataFrame =
    frames(from, until).map(b => (b, new java.sql.Timestamp(0L)))
      .toDF("value", "timestamp")

  private val everyBatch = RotationPolicy(thresholdMB = 0,
    durationSec = 100000, clamp = false)

  private def pipeline(root: String, source: graft.sources.MessageSource,
      runner: Option[SegmentRunner], outputDir: Option[String] = None,
      checkpoint: Boolean = false): Pipeline =
    Pipeline(spark, PipelineConfig(
      source = source,
      outputDir = outputDir.getOrElse(s"$root/out"),
      decode = Decoders.json(schema),
      rotation = everyBatch,
      runner = runner,
      checkpointDir = if (checkpoint) Some(s"$root/ckpt") else None))

  private def manifestPaths(out: String): Seq[String] =
    spark.read.parquet(s"$out/_manifest").select("path").as[String]
      .collect().toSeq

  test("a rotation returns while its close runs; the next rotation, " +
      "closedSegments() and close() wait for it") {
    val root = Files.createTempDirectory("graft-overlap").toString
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val runs = new AtomicInteger(0)
    val pipe = pipeline(root, DataFrameSource(batch(0, 1)),
      Some(SegmentRunner(exec = false, queryFunc = Some { (_, _) =>
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
        runs.incrementAndGet()
        ()
      })))
    pipe.processBatch(batch(0, 20), 0L) // rotates; returns anyway
    assert(entered.await(60, TimeUnit.SECONDS), "the close never started")
    assert(runs.get == 0)
    val second = Future(pipe.processBatch(batch(20, 40), 1L))
    val drained = Future(pipe.closedSegments())
    // the second batch's rows count once it committed; its rotation
    // check comes next
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (pipe.metrics.recordsInserted.get < 40 && System.nanoTime() < deadline)
      Thread.sleep(10)
    Thread.sleep(300)
    assert(!second.isCompleted, "a second rotation did not wait")
    assert(!drained.isCompleted, "closedSegments() did not wait")
    release.countDown()
    Await.result(second, 60.seconds)
    assert(Await.result(drained, 60.seconds).nonEmpty)
    pipe.close()
    assert(pipe.error.isEmpty, pipe.error)
    assert(runs.get == 2, "the runner did not run once per segment")
    val paths = manifestPaths(s"$root/out")
    assert(paths.length == 2 && paths.distinct == paths, paths)
    val waited = """"close_wait_ms": ([\d.]+)""".r
      .findFirstMatchIn(pipe.metrics.report()).map(_.group(1).toDouble)
    assert(waited.exists(_ >= 100.0), pipe.metrics.report())
  }

  test("a close that fails after later batches committed is run again " +
      "before the next close: its markers survive close(), and a restart " +
      "finds each id once in the manifest") {
    val root = Files.createTempDirectory("graft-failed-close").toString
    val (queue, out) = (s"$root/queue", s"$root/out")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val runs = new AtomicInteger(0)
    val config = PipelineConfig(
      source = BinaryQueueSource(queue),
      outputDir = out,
      decode = Decoders.json(StructType(Seq(StructField("id", LongType),
        StructField("pad", StringType)))),
      rotation = RotationPolicy(thresholdMB = 1, durationSec = 100000,
        clamp = false),
      runner = Some(SegmentRunner(exec = false, queryFunc = Some { (_, _) =>
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
        runs.incrementAndGet()
        ()
      })),
      checkpointDir = Some(s"$root/ckpt"))
    def ids(from: Long, until: Long): Unit =
      BinaryQueue.append(queue, 0, frames(from, until).map(_ -> 0L))
    // about 1.6 MB of random hex: the first batch crosses the 1 MB threshold
    val rnd = new scala.util.Random(11)
    BinaryQueue.append(queue, 0, (0L until 8000L).map { i =>
      val pad = Array.fill(100)(f"${rnd.nextInt(256)}%02x").mkString
      s"""{"id":$i,"pad":"$pad"}""".getBytes("UTF-8") -> 0L
    })
    val p1 = Pipeline(spark, config)
    val q1 = p1.run()
    q1.processAllAvailable()
    assert(entered.await(60, TimeUnit.SECONDS), "the close never started")
    (0 until 3).foreach { k => // commit into the next segment meanwhile
      ids(8000L + 10 * k, 8010L + 10 * k)
      q1.processAllAvailable()
    }
    // the held close's manifest write fails: its dir is a plain file
    val manifestDir = new java.io.File(s"$out/_manifest")
    assert(manifestDir.createNewFile())
    release.countDown()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (p1.error.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(p1.error.nonEmpty, "the manifest write did not fail")
    ids(8030, 8040)
    intercept[StreamingQueryException](q1.processAllAvailable())
    // while the cause lasts, close() fails again and prunes nothing
    intercept[java.io.IOException](p1.close())
    val marker0 = new java.io.File(s"$out/_epochs/${q1.id}/e0")
    assert(marker0.exists, "a marker of the failed segment was pruned")
    assert(manifestDir.delete())
    p1.close() // the failed segment's close, then the open segment's
    // three attempts on the failed segment, one on the open segment
    assert(runs.get == 4, "the runner did not run on each close attempt")
    val closed = manifestPaths(out)
    assert(closed.length == 2 && closed.distinct == closed, closed)

    val p2 = Pipeline(spark, config) // replays the batch the failure stopped
    p2.run().processAllAvailable()
    p2.close()
    assert(p2.error.isEmpty, p2.error)
    val paths = manifestPaths(out)
    assert(paths.distinct == paths, paths)
    assert(spark.read.parquet(paths.map(_ + "/msgs"): _*).select("id")
      .as[Long].collect().sorted.toSeq == (0L until 8040L))
  }

  test("query.stop() while a close is in flight does not cancel the " +
      "close's Spark jobs") {
    val root = Files.createTempDirectory("graft-stop").toString
    SegmentCloseGate.taskIn = new CountDownLatch(1)
    SegmentCloseGate.release = new CountDownLatch(1)
    val counted = new AtomicLong(-1)
    BinaryQueue.append(s"$root/queue", 0, frames(0, 30).map(_ -> 0L))
    val pipe = pipeline(root, BinaryQueueSource(s"$root/queue"),
      Some(SegmentRunner(exec = false, queryFunc = Some { (_, views) =>
        counted.set(views("msgs").rdd.mapPartitions { it =>
          SegmentCloseGate.taskIn.countDown()
          SegmentCloseGate.release.await(60, TimeUnit.SECONDS)
          it
        }.count())
        ()
      })), checkpoint = true)
    val q = pipe.run()
    q.processAllAvailable()
    assert(SegmentCloseGate.taskIn.await(60, TimeUnit.SECONDS),
      "the runner job never started")
    q.stop() // the runner's job is running now
    SegmentCloseGate.release.countDown()
    pipe.close()
    assert(pipe.error.isEmpty, pipe.error)
    assert(counted.get == 30, "the runner's job was cancelled")
    assert(manifestPaths(s"$root/out").length == 1)
  }

  test("the runner sees the segment under its table name; a user's temp " +
      "view of that name keeps its rows") {
    val root = Files.createTempDirectory("graft-views").toString
    spark.range(3).toDF("id").createOrReplaceTempView("msgs")
    try {
      val pipe = pipeline(root, DataFrameSource(batch(0, 1)),
        Some(SegmentRunner(Seq(SegmentQuery("SELECT count(*) AS n FROM msgs",
          Some(QuerySink("${segment}/_n")))))))
      pipe.processBatch(batch(0, 40), 0L)
      assert(spark.table("msgs").count() == 3, "view replaced during the run")
      pipe.close()
      assert(pipe.error.isEmpty, pipe.error)
      val seg = pipe.closedSegments().map(_.path)
      assert(seg.length == 1)
      assert(spark.read.parquet(s"${seg.head}/_n").as[Long].head() == 40L,
        "the runner did not see the segment")
      assert(spark.table("msgs").count() == 3, "the user's view was lost")
    } finally spark.catalog.dropTempView("msgs")
  }

  test("rotating batches leave at most 2 epoch markers per streaming " +
      "query; a direct caller's markers stay for its replays") {
    val root = Files.createTempDirectory("graft-markers").toString
    val queue = s"$root/queue"
    BinaryQueue.append(queue, 0, Nil)
    val pipe = pipeline(root, BinaryQueueSource(queue), None,
      checkpoint = true)
    val q = pipe.run()
    (0 until 30).foreach { k =>
      BinaryQueue.append(queue, 0, frames(k * 4L, k * 4L + 4).map(_ -> 0L))
      q.processAllAvailable()
    }
    pipe.close()
    assert(pipe.error.isEmpty, pipe.error)
    val out = s"$root/out"
    val ids = new java.io.File(s"$out/_epochs").listFiles().toSeq
    assert(ids.length == 1, ids)
    val left = ids.head.list().toSeq.filterNot(_.startsWith(".")) // .crc
    assert(left.length <= 2, s"markers left: ${left.sorted}")
    val paths = manifestPaths(out)
    assert(paths.length >= 30 && paths.distinct == paths)
    assert(spark.read.parquet(paths.map(_ + "/msgs"): _*).select("id")
      .as[Long].collect().sorted.toSeq == (0L until 120L))

    val direct = pipeline(root, DataFrameSource(batch(0, 1)), None,
      outputDir = Some(s"$root/direct"))
    (0L until 5L).foreach(b => direct.processBatch(batch(b * 4, b * 4 + 4), b))
    direct.close()
    direct.processBatch(batch(0, 4), 0L) // a replay: commits nothing
    assert(direct.metrics.recordsInserted.get == 20)
    val dids = new java.io.File(s"$root/direct/_epochs").listFiles().toSeq
    assert(dids.length == 1 &&
      dids.head.list().count(!_.startsWith(".")) == 5,
      dids.map(_.list().toSeq))
  }

  test("a session-only fs.<scheme>.impl reaches the sink: segments, " +
      "manifest and runner output land under that scheme") {
    val root = Files.createTempDirectory("graft-sink-conf").toString
    // the cache switch makes every resolution consult the conf it is
    // given: a FileSystem cached by another test cannot stand in
    spark.conf.set("fs.graftq.impl", classOf[GraftqTestFileSystem].getName)
    spark.conf.set("fs.graftq.impl.disable.cache", "true")
    try {
      val plain = new org.apache.hadoop.conf.Configuration()
      plain.setBoolean("fs.graftq.impl.disable.cache", true)
      intercept[Exception](new org.apache.hadoop.fs.Path(s"graftq:$root")
        .getFileSystem(plain))
      val pipe = pipeline(root, DataFrameSource(batch(0, 1)),
        Some(SegmentRunner(Seq(SegmentQuery("SELECT count(*) AS n FROM msgs",
          Some(QuerySink("${segment}/_n")))))),
        outputDir = Some(s"graftq:$root/out"))
      pipe.processBatch(batch(0, 25), 0L)
      pipe.close()
      assert(pipe.error.isEmpty, pipe.error)
      val seg = pipe.closedSegments().map(_.path)
      assert(seg.length == 1 && seg.head.startsWith("graftq:"), seg)
      val local = seg.head.stripPrefix("graftq:")
      assert(manifestPaths(s"$root/out") == seg)
      assert(spark.read.parquet(s"$local/msgs").count() == 25)
      assert(spark.read.parquet(s"$local/_n").as[Long].head() == 25L)
    } finally {
      spark.conf.unset("fs.graftq.impl")
      spark.conf.unset("fs.graftq.impl.disable.cache")
    }
  }
}
