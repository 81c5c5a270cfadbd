package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.ops.Stages
import graft.sink.RotationPolicy
import graft.sources.{BinaryQueue, BinaryQueueSource}

/** The DSv2 binary-queue source (S1 beyond config parity): e2e through
  * the full pipeline, offsets resuming across restart from the
  * checkpoint, maxOffsetsPerTrigger admission, and torn-tail-frame
  * tolerance. */
/** A local filesystem under a scheme NO default Configuration knows —
  * resolvable only where the session's `spark.hadoop.fs.graftq.impl`
  * arrives (the Spark test-suite fake-scheme idiom). */
class GraftqTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftq"
  override def getUri: java.net.URI = java.net.URI.create("graftq:///")
}

class BinaryQueueSuite extends SparkSpec {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Confluent-style wire frame: 6 garbage bytes + JSON payload. */
  private def msg(i: Long): (Array[Byte], Long) = {
    val json =
      s"""{"event_id":$i,"user_id":${i % 7},"event_type":"t${i % 3}","value":${i * 0.5}}"""
    (Array.fill[Byte](6)(0) ++ json.getBytes("UTF-8"), 1700000000000L + i)
  }

  private def pipelineFor(dir: String, root: String,
      maxPerTrigger: Option[Long]): Pipeline =
    Pipeline(spark, PipelineConfig(
      source = BinaryQueueSource(dir, maxPerTrigger),
      outputDir = s"$root/out",
      destTable = "events_raw",
      munger = Some(Stages.confluentStrip),
      decode = Decoders.json(payloadSchema),
      rotation = RotationPolicy(thresholdMB = 0, durationSec = 100000,
        clamp = false),
      checkpointDir = Some(s"$root/ckpt")))

  test("e2e through the pipeline; restart resumes from committed " +
      "offsets — no loss, no reprocessing") {
    val root = Files.createTempDirectory("graft-binq").toString
    val dir = s"$root/queue"
    // two partitions, unequal depth (the per-partition offset map must
    // track them independently)
    BinaryQueue.append(dir, 0, (0L until 40L).map(msg))
    BinaryQueue.append(dir, 1, (100L until 125L).map(msg))

    val pipe = pipelineFor(dir, root, maxPerTrigger = Some(16))
    val q = pipe.run()
    q.processAllAvailable()
    // rate telemetry (ReportsSourceMetrics → per-trigger source
    // metrics): the throttled run must have REPORTED falling behind —
    // 65 available at a 16-record cap leaves 49 behind after batch 0 —
    // and be fully caught up by the end
    val behinds = q.recentProgress.toSeq
      .flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.metrics.get("behindRecords")).map(_.toLong))
    assert(behinds.nonEmpty && behinds.max > 0,
      s"throttled run never reported lag: $behinds")
    val allotted = q.recentProgress.toSeq
      .flatMap(p => p.sources.headOption)
      .flatMap(s =>
        Option(s.metrics.get("lastTriggerAllottedRecords")).map(_.toLong))
    assert(allotted.forall(_ <= 16),
      s"admission telemetry exceeded the cap: $allotted")
    pipe.close()
    assert(pipe.error.isEmpty)
    assert(pipe.metrics.messagesConsumed.get == 65)
    // admission: 65 records at maxOffsetsPerTrigger=16 needs ≥ 5
    // micro-batches, each within the cap
    assert(pipe.metrics.maxBatchRows.get <= 16,
      s"a batch exceeded the admission cap: ${pipe.metrics.maxBatchRows.get}")
    // and the lag telemetry folded into the pipeline metrics report
    assert(pipe.metrics.maxQueueBehind.get > 0,
      "queue-depth high-water missing from PipelineMetrics")
    assert(pipe.metrics.report().contains("max_queue_behind_records"),
      "report missing the queue-depth field")

    def rawRows(): Seq[Long] = {
      val manifest = spark.read.parquet(s"$root/out/_manifest")
      spark.read.parquet(manifest.select("path").as[String].collect()
          .map(_ + "/events_raw"): _*)
        .select("event_id").as[Long].collect().toSeq
    }
    val r1 = rawRows()
    assert(r1.sorted == ((0L until 40L) ++ (100L until 125L)).sorted,
      "first run lost or duplicated records")

    // append MORE to both partitions while the pipeline is down, plus
    // a brand-new partition — restart must consume exactly the delta
    BinaryQueue.append(dir, 0, (40L until 55L).map(msg))
    BinaryQueue.append(dir, 1, (125L until 130L).map(msg))
    BinaryQueue.append(dir, 2, (200L until 210L).map(msg))
    val pipe2 = pipelineFor(dir, root, maxPerTrigger = Some(16))
    val q2 = pipe2.run()
    q2.processAllAvailable()
    pipe2.close()
    assert(pipe2.error.isEmpty)
    assert(pipe2.metrics.messagesConsumed.get == 30,
      s"restart reprocessed old offsets: ${pipe2.metrics.messagesConsumed.get}")
    val r2 = rawRows()
    assert(r2.sorted == ((0L until 55L) ++ (100L until 130L) ++
      (200L until 210L)).sorted,
      "restart lost or duplicated records")
  }

  test("column shape matches the Kafka source; timestamps survive " +
      "the wire frame") {
    val root = Files.createTempDirectory("graft-binq-shape").toString
    val dir = s"$root/queue"
    BinaryQueue.append(dir, 0, Seq(msg(7L)))
    val df = BinaryQueueSource(dir).stream(spark)
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("value", "binary"), ("timestamp", "timestamp")))
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Byte], java.sql.Timestamp)]
    val q = df.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= b.as[(Array[Byte], java.sql.Timestamp)].collect()
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(seen.length == 1)
    assert(seen.head._1.toSeq == msg(7L)._1.toSeq, "payload bytes differ")
    assert(seen.head._2.getTime == 1700000000007L, "timestamp differs")
  }

  test("sidecar frame index: latestOffset walks only the suffix past " +
      "the checkpoint; torn frames and stale sidecars stay exact") {
    // round-12 verdict task: the full frame-walk was the codebase's
    // one driver-side O(data-size) loop. The corrupt-the-prefix trick
    // PROVES suffix-only reads: bytes before the checkpoint become
    // garbage a full walk would misparse, so a correct count is only
    // reachable by seeking past them.
    val root = Files.createTempDirectory("graft-binq-idx").toString
    val dir = s"$root/queue"
    BinaryQueue.append(dir, 0, (0L until 200L).map(msg))
    val log = new org.apache.hadoop.fs.Path(s"$dir/p0.log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val len1 = fs.getFileStatus(log).getLen
    // below the refresh threshold: full walk, no sidecar written
    assert(BinaryQueue.countFrames(fs, log, len1, Long.MaxValue) == 200L)
    assert(!fs.exists(BinaryQueue.indexPath(log)))
    // threshold 1 byte: the walk checkpoints the tail
    assert(BinaryQueue.countFrames(fs, log, len1, 1L) == 200L)
    val (n0, pos0) = BinaryQueue.readIndex(fs, log, len1)
    assert(n0 == 200L && pos0 == len1, s"bad checkpoint ($n0, $pos0)")
    // new frames + a torn tail AFTER the index point
    BinaryQueue.append(dir, 0, (200L until 250L).map(msg))
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(
      new java.io.File(s"$dir/p0.log"), true))
    out.writeInt(100); out.writeLong(123L); out.write(Array[Byte](1, 2))
    out.close()
    val len2 = fs.getFileStatus(log).getLen
    // indexed count ≡ the full walk (sidecar deleted) on intact bytes
    assert(BinaryQueue.countFrames(fs, log, len2) == 250L)
    fs.delete(BinaryQueue.indexPath(log), false)
    assert(BinaryQueue.countFrames(fs, log, len2) == 250L,
      "indexed and full walks disagree")
    // re-checkpoint at 250 whole frames, then corrupt every byte
    // BEFORE the checkpoint — only a suffix-only walk stays correct
    assert(BinaryQueue.countFrames(fs, log, len2, 1L) == 250L)
    val (n1, pos1) = BinaryQueue.readIndex(fs, log, len2)
    val raf = new java.io.RandomAccessFile(s"$dir/p0.log", "rw")
    raf.write(Array.fill[Byte](pos1.toInt)(-1))
    raf.close()
    assert(BinaryQueue.countFrames(fs, log, len2) == 250L,
      "count read bytes before the checkpoint")
    // a garbage sidecar must fall back to the full walk, not corrupt
    // counts (fresh partition with intact bytes)
    BinaryQueue.append(dir, 1, (0L until 7L).map(msg))
    val log1 = new org.apache.hadoop.fs.Path(s"$dir/p1.log")
    val g = fs.create(BinaryQueue.indexPath(log1), true)
    g.write(Array[Byte](9, 9, 9)); g.close()
    val len3 = fs.getFileStatus(log1).getLen
    assert(BinaryQueue.countFrames(fs, log1, len3) == 7L,
      "torn sidecar corrupted the count")
    // a checkpoint beyond the file length (structurally impossible on
    // an append-only log) is rejected, not trusted
    val b = fs.create(BinaryQueue.indexPath(log1), true)
    b.writeLong(999L); b.writeLong(len3 + 1000L); b.close()
    assert(BinaryQueue.countFrames(fs, log1, len3) == 7L,
      "stale-ahead sidecar corrupted the count")
  }

  test("partition readers seek to the nearest checkpoint at or below " +
      "their start offset — the log prefix is never re-walked") {
    // A tail read of a long-lived partition log must not frame-walk
    // the whole prefix per task per trigger. Proof by corruption
    // again: with a checkpoint ladder in place, every byte below the
    // greatest checkpoint ≤ start becomes garbage — a reader that
    // still produces the right rows provably sought past it.
    import graft.sources.{BinaryQueue, BinQueuePartition, BinQueueReaderFactory}
    val root = Files.createTempDirectory("graft-binq-seek").toString
    val dir = s"$root/queue"
    BinaryQueue.append(dir, 0, (0L until 300L).map(msg))
    val log = new org.apache.hadoop.fs.Path(s"$dir/p0.log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val len = fs.getFileStatus(log).getLen
    // refresh every ~5 frames → a LADDER of checkpoints from one walk
    val frameBytes = len / 300
    assert(BinaryQueue.countFrames(fs, log, len, frameBytes * 5) == 300L)
    val entries = BinaryQueue.readIndexEntries(fs, log, len)
    assert(entries.length > 10,
      s"expected a checkpoint ladder, got ${entries.length}")
    assert(entries == entries.sorted, "ladder not ascending")
    // read frames [150, 160): the seek point is the greatest
    // checkpoint ≤ 150 — corrupt everything below it
    val ckpt = entries.takeWhile(_._1 <= 150L).last
    assert(ckpt._1 > 0, "fixture: need a nonzero checkpoint below 150")
    val raf = new java.io.RandomAccessFile(s"$dir/p0.log", "rw")
    raf.write(Array.fill[Byte](ckpt._2.toInt)(-1))
    raf.close()
    val factory = new BinQueueReaderFactory(spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())))
    val reader = factory.createReader(
      BinQueuePartition(s"$dir/p0.log", 150L, 160L))
    val got = scala.collection.mutable.Buffer[Long]()
    while (reader.next()) {
      val r = reader.get()
      val payload = r.getBinary(0)
      val json = new String(payload.drop(6), "UTF-8")
      got += """"event_id":(\d+)""".r.findFirstMatchIn(json)
        .get.group(1).toLong
    }
    reader.close()
    assert(got.toSeq == (150L until 160L).toSeq,
      s"reader rows wrong after prefix corruption: $got")
  }

  test("session Hadoop conf reaches the executor-side readers: a " +
      "custom fs.<scheme>.impl set ONLY on the session resolves") {
    // round-12 verdict finding: readers built `new Configuration()` on
    // the executor, so session-set Hadoop options (s3a credentials,
    // endpoints, custom schemes) silently never reached the read path.
    // The graftq: scheme below exists ONLY in the session conf — the
    // negative control proves a default Configuration cannot resolve
    // it, so the stream completing pins the SerializableConfiguration
    // propagation end-to-end (driver listing AND executor read).
    val root = Files.createTempDirectory("graft-binq-conf").toString
    val dir = s"$root/queue"
    BinaryQueue.append(dir, 0, (0L until 6L).map(msg))
    intercept[Exception](new org.apache.hadoop.fs.Path(s"graftq:$dir")
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
      .exists(new org.apache.hadoop.fs.Path(s"graftq:$dir")))
    // runtime session confs are copied VERBATIM into newHadoopConf(),
    // so the raw hadoop key is the session-scoped knob (the Spark
    // test-suite idiom; spark.hadoop.* is the STATIC SparkConf prefix)
    spark.conf.set("fs.graftq.impl",
      classOf[GraftqTestFileSystem].getName)
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val df = spark.readStream.format("graft-binqueue")
        .option("path", s"graftq:$dir").load()
      val q = df.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= Seq(b.count())
          ()
        }.start()
      q.processAllAvailable()
      q.stop()
      assert(seen.sum == 6,
        s"session-conf scheme read the wrong record count: $seen")
    } finally spark.conf.unset("fs.graftq.impl")
  }

  test("the reader factory carries the Hadoop conf as a broadcast: it " +
      "serializes in under 4 KB") {
    // a conf shipped inside the factory (~34 KB) is deserialized by
    // every task of every trigger
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-binq-factory").toString
    BinaryQueue.append(s"$root/queue", 0, Seq(msg(0L)))
    val table = new graft.sources.BinaryQueueProvider().getTable(
        graft.sources.BinaryQueueProvider.Schema, Array.empty,
        Map("path" -> s"$root/queue").asJava)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val factory = table.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toMicroBatchStream(s"$root/ckpt").createReaderFactory()
    val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
    val bytes = ser.serialize(factory).remaining()
    assert(bytes < 4096, s"reader factory serializes to $bytes bytes")
  }

  test("short-name registration and torn tail frames: only whole " +
      "frames are offered as offsets") {
    val root = Files.createTempDirectory("graft-binq-torn").toString
    val dir = s"$root/queue"
    BinaryQueue.append(dir, 0, (0L until 5L).map(msg))
    // torn tail: a frame header claiming 100 payload bytes, only 3
    // bytes present (a crashed writer mid-frame)
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(
      new java.io.File(s"$dir/p0.log"), true))
    out.writeInt(100); out.writeLong(123L); out.write(Array[Byte](1, 2, 3))
    out.close()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the services-file short name, not the class name
    val df = spark.readStream.format("graft-binqueue")
      .option("path", dir).load()
    val q = df.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= Seq(b.count())
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(seen.sum == 5, s"torn frame leaked into offsets: $seen")
  }
}
