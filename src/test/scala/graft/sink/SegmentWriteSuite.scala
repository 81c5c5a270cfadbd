package graft.sink

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkSpec, Tables}
import graft.ops.Stages
import graft.sources.FileBinarySource

/** The DSv2 streaming segment sink (K1 through the real connector
  * write API): e2e parity with the library RotatingSegmentSink's
  * layout/manifest/rotation, epoch-marker exactly-once on replay, and
  * checked staging renames. */
class SegmentWriteSuite extends SparkSpec {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeMessages(dir: String): Long = {
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    ev.select(
        concat(unhex(lit("0" * 12)),
          to_json(struct(ev.columns.map(col).toIndexedSeq: _*))
            .cast("binary")).as("value"),
        current_timestamp().as("timestamp"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir)
    ev.count()
  }

  test("e2e: streaming write through graft-binsegment rotates per " +
      "batch with library-sink manifest/layout parity, no loss") {
    val root = Files.createTempDirectory("graft-dsv2sink").toString
    val msgDir = s"$root/messages"
    val out = s"$root/out"
    val n = writeMessages(msgDir)

    val src = FileBinarySource(msgDir, maxFilesPerTrigger = Some(2))
      .stream(spark)
    val decoded = Stages.decodeJson(payloadSchema)(
        Stages.munge(Stages.confluentStrip)(src))
      .where(col("_corrupt").isNull)
      .select("event_id", "user_id", "event_type", "value")
    val q = decoded.writeStream
      .format("graft-binsegment")
      .option("path", out)
      .option("table", "events_raw")
      .option("thresholdMB", "0") // rotate after every committing epoch
      .option("durationSec", "100000")
      .option("clamp", "false")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()

    // manifest parity: same schema and content rules as the library
    // sink (shared RotatingSegmentSink code — pinned anyway)
    val manifest = spark.read.parquet(s"$out/_manifest")
    assert(manifest.columns.toSeq ==
      Seq("path", "seg_index", "closed_at", "size_mb", "tables"))
    val segs = manifest.select("path").as[String].collect().toSeq
    assert(segs.length >= 2,
      s"rotate-per-batch should close multiple segments: $segs")
    assert(manifest.select("tables").as[String].collect()
      .forall(_ == "events_raw"))
    // segment naming parity: prefix_ts_s<sinkId>_<index>
    assert(segs.forall(
      _.matches(""".*/seg_\d{4}-\d{2}-\d{2}_\d{2}-\d{2}-\d{2}_s\d+_\d+$""")),
      s"segment naming diverged: $segs")
    // no loss, no duplication — every event exactly once across parts
    val got = spark.read.parquet(segs.map(_ + "/events_raw"): _*)
    assert(got.count() == n)
    val expected = Tables.load(spark, sf0001, "events")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got.select("event_id").as[Long].collect().sorted.toSeq ==
      expected, "DSv2 sink lost or duplicated rows")
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      payloadSchema.map(f => (f.name, f.dataType)),
      "part files not schema-faithful")
    // staging fully cleaned
    val stg = new java.io.File(s"$out/.staging")
    assert(!stg.exists() || stg.listFiles().isEmpty,
      "staging dirs left behind")
  }

  /** JSON frames `{"id": i}` for `ids`, one parquet file per call. */
  private def writeIds(dir: String, ids: Seq[Long]): Unit =
    ids.toDF("id").select(to_json(struct(col("id"))).cast("binary").as("value"),
        current_timestamp().as("timestamp"))
      .coalesce(1).write.mode("append").parquet(dir)

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  /** An id stream from `msgDir` into graft-binsegment at `out`. */
  private def startIds(msgDir: String, out: String, ckpt: String,
      thresholdMB: String = "100000") =
    Stages.decodeJson(idSchema)(FileBinarySource(msgDir).stream(spark))
      .where(col("_corrupt").isNull).select("id")
      .writeStream
      .format("graft-binsegment")
      .option("path", out)
      .option("table", "t")
      .option("thresholdMB", thresholdMB)
      .option("durationSec", "100000")
      .option("clamp", "false")
      .option("checkpointLocation", ckpt)
      .start()

  /** Ids visible through the manifest (the read contract). */
  private def manifestIds(out: String): Seq[Long] = {
    val segs = spark.read.parquet(s"$out/_manifest")
      .select("path").as[String].collect().toSeq
    assert(segs.distinct == segs, s"manifest lists a segment twice: $segs")
    spark.read.parquet(segs.map(_ + "/t").filter(new java.io.File(_).exists()): _*)
      .select("id").as[Long].collect().sorted.toSeq
  }

  test("a new query on a fresh checkpoint over an existing path keeps " +
      "its rows; a replay on the same checkpoint is still a no-op") {
    val root = Files.createTempDirectory("graft-dsv2twoq").toString
    val out = s"$root/out"
    writeIds(s"$root/msgsA", 0L until 30L)
    val a = startIds(s"$root/msgsA", out, s"$root/ckptA")
    a.processAllAvailable()
    a.stop() // A's segment stays open: B's first commit closes it

    // B: epochs 0, 1, ... again, under B's own query id
    writeIds(s"$root/msgsB", 100L until 120L)
    val ckptB = s"$root/ckptB"
    val replayed = graft.streaming.StreamReplay.rerunLastBatch(ckptB) {
      startIds(s"$root/msgsB", out, ckptB)
    }
    assert(replayed == 0L)
    SegmentWrites.finalRotate(out)
    assert(manifestIds(out) == (0L until 30L) ++ (100L until 120L),
      "B's rows dropped as replays of A, or the replay re-appended")
  }

  test("epochs of one query share the open segment until it rotates") {
    // Spark builds a StreamingWrite per micro-batch; the segment, its
    // size and its age belong to the base dir, not to one epoch
    val root = Files.createTempDirectory("graft-dsv2epochs").toString
    val (out, msgs) = (s"$root/out", s"$root/msgs")
    writeIds(msgs, 0L until 10L)
    val q = startIds(msgs, out, s"$root/ckpt")
    q.processAllAvailable()
    (1 to 2).foreach { k =>
      writeIds(msgs, (k * 10L) until (k * 10L + 10L))
      q.processAllAvailable()
    }
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    SegmentWrites.finalRotate(out)
    assert(spark.read.parquet(s"$out/_manifest").count() == 1,
      "each epoch opened a segment of its own")
    assert(manifestIds(out) == (0L until 30L))
  }

  for (point <- Seq("renamed", "marked"))
    test(s"an epoch stopped at '$point' lands exactly once after a restart " +
        "from the checkpoint") {
      val root = Files.createTempDirectory("graft-dsv2crash").toString
      val (out, msgs, ckpt) = (s"$root/out", s"$root/msgs", s"$root/ckpt")
      writeIds(msgs, 0L until 25L)
      val q1 = startIds(msgs, out, ckpt)
      q1.processAllAvailable()
      writeIds(msgs, 25L until 60L)
      RotatingSegmentSink.crashAt.put(out, point)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q1.processAllAvailable())
      assert(!RotatingSegmentSink.crashAt.containsKey(out))
      SegmentWrites.forget(out) // the driver process is gone
      val q2 = startIds(msgs, out, ckpt)
      q2.processAllAvailable()
      q2.stop()
      SegmentWrites.finalRotate(out)
      assert(manifestIds(out) == (0L until 60L))
    }

  test("an epoch whose close stopped at 'closing' fails its commit; " +
      "after a restart each segment holding rows is in the manifest once") {
    val root = Files.createTempDirectory("graft-dsv2close").toString
    val (out, msgs, ckpt) = (s"$root/out", s"$root/msgs", s"$root/ckpt")
    writeIds(msgs, 0L until 25L)
    val q1 = startIds(msgs, out, ckpt, thresholdMB = "0")
    q1.processAllAvailable()
    writeIds(msgs, 25L until 60L)
    RotatingSegmentSink.crashAt.put(out, "closing")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.processAllAvailable())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[RotatingSegmentSink.SimulatedCrash]), e)
    assert(!RotatingSegmentSink.crashAt.containsKey(out))
    SegmentWrites.forget(out) // the driver process is gone
    writeIds(msgs, 60L until 70L)
    val q2 = startIds(msgs, out, ckpt, thresholdMB = "0")
    q2.processAllAvailable()
    q2.stop()
    SegmentWrites.finalRotate(out)
    assert(manifestIds(out) == (0L until 70L))
    val withRows = new java.io.File(out).listFiles()
      .filter(d => d.getName.startsWith("seg_") &&
        Option(new java.io.File(d, "t").list()).exists(_.nonEmpty))
      .map(_.getPath).toSeq
    val manifested = spark.read.parquet(s"$out/_manifest")
      .select("path").as[String].collect().toSeq
    assert(withRows.sorted == manifested.sorted)
  }

  test("a query restarted in the same JVM after a failed close: the " +
      "dir's sink closes the failed segment before the next, and a later " +
      "run's recovery finds each id once in the manifest") {
    val root = Files.createTempDirectory("graft-dsv2reclose").toString
    val (out, msgs, ckpt) = (s"$root/out", s"$root/msgs", s"$root/ckpt")
    writeIds(msgs, 0L until 25L)
    val q1 = startIds(msgs, out, ckpt, thresholdMB = "0")
    q1.processAllAvailable()
    writeIds(msgs, 25L until 60L)
    RotatingSegmentSink.crashAt.put(out, "closing")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.processAllAvailable())
    assert(SegmentWrites.registeredCount(out) == 1)
    (60L until 90L by 10L).foreach { from => // three epochs, each rotating
      writeIds(msgs, from until from + 10L)
      val q = startIds(msgs, out, ckpt, thresholdMB = "0")
      q.processAllAvailable()
      q.stop()
    }
    SegmentWrites.finalRotate(out)
    assert(manifestIds(out) == (0L until 90L))
    writeIds(msgs, 90L until 95L)
    val q3 = startIds(msgs, out, ckpt) // a new sink: its recovery runs
    q3.processAllAvailable()
    q3.stop()
    SegmentWrites.finalRotate(out)
    assert(manifestIds(out) == (0L until 95L))
  }

  test("finalRotate reaches the engine-constructed write: the tail " +
      "segment below threshold gets announced after query.stop()") {
    // review finding: Spark builds SegmentStreamingWrite internally,
    // so without the registry no caller could close the last open
    // segment — sub-threshold tail data existed on disk but never
    // reached the manifest (the documented read contract).
    val root = Files.createTempDirectory("graft-dsv2tail").toString
    val msgDir = s"$root/messages"
    val out = s"$root/out"
    val n = writeMessages(msgDir)
    val q = Stages.decodeJson(payloadSchema)(
        Stages.munge(Stages.confluentStrip)(
          FileBinarySource(msgDir).stream(spark)))
      .where(col("_corrupt").isNull)
      .select("event_id", "user_id", "event_type", "value")
      .writeStream
      .format("graft-binsegment")
      .option("path", out)
      .option("table", "events_raw")
      .option("thresholdMB", "100000") // never rotates on its own
      .option("durationSec", "100000")
      .option("clamp", "false")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()
    // nothing announced yet — the data is invisible per the contract
    assert(!new java.io.File(s"$out/_manifest").exists(),
      "sub-threshold segment rotated prematurely")
    val info = SegmentWrites.finalRotate(out)
    assert(info.nonEmpty, "finalRotate found no registered write")
    val manifest = spark.read.parquet(s"$out/_manifest")
    val segs = manifest.select("path").as[String].collect().toSeq
    assert(segs.size == 1)
    val got = spark.read.parquet(s"${segs.head}/events_raw")
    assert(got.count() == n, "tail segment missing rows")
    // idempotent: nothing pending → no second announcement
    assert(SegmentWrites.finalRotate(out).isEmpty)
    // registry entry dropped with the rotate (ADVICE r13 leak): stale
    // instances from this stopped query cannot be reached again
    assert(SegmentWrites.registeredCount(out) == 0,
      "finalRotate left instances registered for the JVM lifetime")
  }

  test("epoch replay hits the marker and is discarded; rename failures " +
      "surface instead of losing the epoch") {
    val root = Files.createTempDirectory("graft-dsv2replay").toString
    val out = s"$root/out"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val write = new SegmentStreamingWrite(out, schema, queryId = "q1",
      table = "t", prefix = "seg",
      policy = RotationPolicy(thresholdMB = 1000000, durationSec = 1000000,
        clamp = false))
    val factory = write.createStreamingWriterFactory(null)

    def runEpoch(epochId: Long, ids: Seq[Long]): WriterCommitMessage = {
      val w = factory.createWriter(0, epochId * 10, epochId)
      ids.foreach(i =>
        w.write(InternalRow(i, UTF8String.fromString(s"n$i"))))
      w.commit()
    }
    def visibleIds(): Seq[Long] = {
      val dir = new java.io.File(out)
      val segDirs = dir.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("seg_"))
      val tdirs = segDirs.map(_.getPath + "/t").filter(p =>
        new java.io.File(p).exists())
      if (tdirs.isEmpty) Nil
      else spark.read.parquet(tdirs.toIndexedSeq: _*)
        .select("id").as[Long].collect().sorted.toSeq
    }

    write.commit(0L, Array(runEpoch(0L, Seq(1L, 2L))))
    assert(visibleIds() == Seq(1L, 2L))
    // replay of epoch 0 (its checkpoint commit was lost): marker makes
    // the re-run a no-op — rows NOT doubled, staging cleaned
    write.commit(0L, Array(runEpoch(0L, Seq(1L, 2L))))
    assert(visibleIds() == Seq(1L, 2L), "replayed epoch re-appended")
    assert(!new java.io.File(s"$out/.staging/q1-e0").exists())
    // a fresh epoch still lands
    write.commit(1L, Array(runEpoch(1L, Seq(3L))))
    assert(visibleIds() == Seq(1L, 2L, 3L))
    // a commit message pointing at a missing staged file must throw
    // loudly (the local FS raises its own IOException; an HDFS-style
    // rename-returns-false hits our checked throw), never silently
    // drop the epoch
    val err = intercept[java.io.IOException](write.commit(2L,
      Array(SegmentCommitMessage(0, Seq(StagedPart("t",
        s"$out/.staging/q1-e2/t/ghost.parquet", 5L, 100L))))))
    assert(err.getMessage.contains("ghost.parquet"),
      s"unactionable message: ${err.getMessage}")
    assert(!new java.io.File(s"$out/_epochs/q1/e2").exists(),
      "failed epoch must not be marked committed")
    // empty epochs write markers but never announce empty segments
    write.commit(3L, Array(SegmentCommitMessage(0, Nil)))
    assert(new java.io.File(s"$out/_epochs/q1/e3").exists())
    val manifested = new java.io.File(s"$out/_manifest")
    assert(!manifested.exists(), "rotation fired before any threshold")
  }
}
