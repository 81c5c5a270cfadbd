package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.ops.{CustomTransform, Stages}
import graft.normalize.NormalizerSpec
import graft.runner.{QuerySink, SegmentQuery, SegmentRunner}
import graft.sink.RotationPolicy
import graft.sources.{BinaryQueue, BinaryQueueSource, DataFrameSource,
  FileBinarySource}

class PipelineSuite extends SparkSpec {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** events → Confluent-style wire messages (6 garbage prefix bytes +
    * JSON payload), parquet-backed so FileBinarySource streams them. */
  private def writeMessages(dir: String, corrupt: Int = 0): Long = {
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val msgs = ev.select(
      concat(unhex(lit("0" * 12)),
        to_json(struct(ev.columns.map(col).toIndexedSeq: _*)).cast("binary"))
        .as("value"),
      current_timestamp().as("timestamp"))
    val bad = spark.range(corrupt).select(
      concat(unhex(lit("0" * 12)), lit("not-json-%".getBytes).cast("binary"))
        .as("value"),
      current_timestamp().as("timestamp"))
    msgs.unionAll(bad).repartition(4)
      .write.mode("overwrite").parquet(dir)
    msgs.count() + corrupt
  }

  test("end-to-end: munge → decode → norm+raw+custom → rotate → runner → manifest") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val msgDir = s"$root/messages"
    val outDir = s"$root/out"
    val nMsgs = writeMessages(msgDir, corrupt = 25)
    val nGood = nMsgs - 25

    @volatile var runnerSegments = 0
    @volatile var runnerRowsSeen = 0L
    val runner = SegmentRunner(exec = false,
      queryFunc = Some { (s, views) =>
        runnerSegments += 1
        views.get("events_raw").foreach(df => runnerRowsSeen += df.count())
      })

    val pipe = Pipeline(spark, PipelineConfig(
      source = FileBinarySource(msgDir, maxFilesPerTrigger = Some(2)),
      outputDir = outDir,
      destTable = "events_raw",
      pathPrefix = "duck",
      munger = Some(Stages.confluentStrip),
      decode = Decoders.json(payloadSchema),
      customFields = Seq(Stages.CustomField("ingest_day",
        org.apache.spark.sql.types.StringType,
        value = date_format(col("timestamp"), "yyyy-MM-dd"))),
      deadLetterTable = Some("dead_letters"),
      normalizer = Some(NormalizerSpec(
        Seq("event_id", "event_type", "value"),
        Seq("event_id", "kind", "v"))),
      customTransforms = Seq(CustomTransform("by_type",
        df => df.groupBy("event_type").agg(count(lit(1)).as("n")))),
      rotation = RotationPolicy(thresholdMB = 0, durationSec = 100000,
        clamp = false), // rotate after every batch
      runner = Some(runner)))

    val q = pipe.run()
    q.processAllAvailable()
    pipe.close()

    val m = pipe.metrics
    assert(m.messagesConsumed.get == nMsgs)
    assert(m.recordsProcessed.get == nGood)
    assert(m.decodeErrors.get == 25)
    assert(m.catchUpSkips.get == 0)
    assert(m.conservationHolds, "consumed = processed + errors + skips")
    assert(m.recordsInserted.get == nGood)
    assert(m.normRecordsInserted.get == nGood) // no list fan-out
    assert(m.filesClosed.get >= 2, "maxFilesPerTrigger=2 over 4 files → ≥2 segments")
    assert(pipe.error.isEmpty)

    // runner saw every segment and every raw row exactly once
    assert(runnerSegments.toLong == m.filesClosed.get)
    assert(runnerRowsSeen == nGood)

    // micro-batch lag telemetry (queue-depth parity): close() drains
    // recentProgress, so telemetry is deterministic by now
    assert(m.hasBatchTelemetry, "no StreamingQueryProgress recorded")
    assert(m.maxBatchRows.get > 0 && m.maxBatchRows.get <= nMsgs,
      s"max_batch_rows ${m.maxBatchRows.get} out of (0, $nMsgs]")
    val rep = m.report()
    Seq("max_batch_rows", "last_batch_duration_ms",
      "last_batch_input_rps", "last_batch_processed_rps")
      .foreach(k => assert(rep.contains("\"" + k + "\""), k))

    // segment dirs + manifest
    val segs = pipe.closedSegments()
    assert(segs.length.toLong == m.filesClosed.get)
    val manifest = spark.read.parquet(s"$outDir/_manifest")
    assert(manifest.count() == m.filesClosed.get)
    val manifestTables = manifest.select("tables").as[String].collect()
    assert(manifestTables.forall(_.contains("events_raw")))

    // data round-trip: union of all segments == decoded input
    val rawAll = spark.read.parquet(
      manifest.select("path").as[String].collect().map(_ + "/events_raw"): _*)
    assert(rawAll.count() == nGood)
    // N2 custom field present and populated on every ingested row
    assert(rawAll.where(col("ingest_day").rlike("\\d{4}-\\d{2}-\\d{2}"))
      .count() == nGood)
    val normAll = spark.read.parquet(
      manifest.select("path").as[String].collect().map(_ + "/events_raw_norm"): _*)
    assert(normAll.columns.toSeq == Seq("event_id", "kind", "v"))
    // dead letters landed
    val deadAll = spark.read.parquet(
      manifest.select("path").as[String].collect()
        .filter(p => new java.io.File(s"$p/dead_letters").exists())
        .map(_ + "/dead_letters"): _*)
    assert(deadAll.count() == 25)
    // by_type custom table aggregates to the same total
    val byType = spark.read.parquet(
      manifest.select("path").as[String].collect()
        .filter(p => new java.io.File(s"$p/by_type").exists())
        .map(_ + "/by_type"): _*)
    assert(byType.agg(sum("n")).head().getLong(0) == nGood)
  }

  test("runner export mode writes a per-segment artifact (COPY-TO parity)") {
    val root = Files.createTempDirectory("graft-export").toString
    val nMsgs = writeMessages(s"$root/messages")
    val runner = SegmentRunner(queries = Seq(
      // export: aggregate per segment → parquet under the segment dir
      SegmentQuery(
        "SELECT event_type, count(*) AS n FROM events_raw GROUP BY event_type",
        Some(QuerySink("${segment}/_export/by_type"))),
      // effect-only command: runs eagerly, nothing collected (temp
      // views are lazy plans, so it must not reference segment views
      // that are dropped when the runner finishes)
      SegmentQuery("CREATE OR REPLACE TEMP VIEW last_seg AS SELECT 42 AS n"),
      // result-bearing, no sink: must execute without driver collect
      SegmentQuery("SELECT * FROM events_raw")))
    val pipe = Pipeline(spark, PipelineConfig(
      source = FileBinarySource(s"$root/messages", maxFilesPerTrigger = Some(2)),
      outputDir = s"$root/out",
      destTable = "events_raw",
      munger = Some(Stages.confluentStrip),
      decode = Decoders.json(payloadSchema),
      rotation = RotationPolicy(thresholdMB = 0, durationSec = 100000,
        clamp = false),
      runner = Some(runner)))
    val q = pipe.run()
    q.processAllAvailable()
    pipe.close()
    assert(pipe.error.isEmpty)
    val segs = pipe.closedSegments()
    assert(segs.length >= 2)
    // every segment carries its export; union equals the full input
    val exported = segs.map(s =>
      spark.read.parquet(s"${s.path}/_export/by_type"))
    exported.foreach(df =>
      assert(df.columns.toSeq == Seq("event_type", "n")))
    val total = exported.reduce(_ unionAll _)
      .agg(sum("n")).head().getLong(0)
    assert(total == nMsgs)
    // the effect-only command ran (temp view left behind by last segment)
    assert(spark.sql("SELECT n FROM last_seg").head().getInt(0) == 42)
    spark.catalog.dropTempView("last_seg")
  }

  test("an empty micro-batch past the age rule closes no segment") {
    val root = Files.createTempDirectory("graft-empty-seg").toString
    val queue = s"$root/queue"
    BinaryQueue.append(queue, 0, Nil) // empty log: batch 0 has no frames
    val pipe = Pipeline(spark, PipelineConfig(
      source = BinaryQueueSource(queue),
      outputDir = s"$root/out",
      destTable = "events_raw",
      decode = Decoders.json(payloadSchema),
      rotation = RotationPolicy(thresholdMB = 100, durationSec = 1,
        clamp = false),
      runner = Some(SegmentRunner(queries = Seq(
        SegmentQuery("SELECT count(*) AS n FROM events_raw"))))))
    Thread.sleep(1100) // the open segment is past its age at batch 0
    val q = pipe.run()
    q.processAllAvailable()
    assert(q.recentProgress.exists(p => p.batchId == 0 &&
      p.numInputRows == 0), "batch 0 did not run empty")
    BinaryQueue.append(queue, 0, (0L until 20L).map { i =>
      (s"""{"event_id":$i,"user_id":${i % 7},"event_type":"t${i % 3}",""" +
        s""""value":${i * 0.5}}""").getBytes("UTF-8") -> (1700000000000L + i)
    })
    q.processAllAvailable()
    pipe.close()
    assert(pipe.error.isEmpty, pipe.error.map(_.getMessage).getOrElse(""))
    val manifest = spark.read.parquet(s"$root/out/_manifest")
    val tables = manifest.select("tables").as[String].collect()
    assert(tables.nonEmpty && tables.forall(_ == "events_raw"),
      tables.mkString("; "))
    assert(spark.read.parquet(manifest.select("path").as[String].collect()
      .map(_ + "/events_raw"): _*).count() == 20)
  }

  test("runner guards: deleteOnDone×segment-export and unresolved ${segment}") {
    // deleting the segment right after exporting into it is rejected
    intercept[IllegalArgumentException] {
      SegmentRunner(queries = Seq(SegmentQuery("SELECT 1",
        Some(QuerySink("${segment}/_export")))), deleteOnDone = true)
    }
    // ${segment} with no segmentDir is an accumulated error, not a
    // silent write into a literal '${segment}' directory
    // ...and the rejection happens BEFORE the statement executes, so
    // an eagerly-run command's side effect cannot land
    val r = SegmentRunner(queries = Seq(SegmentQuery(
      "CREATE OR REPLACE TEMP VIEW guard_probe AS SELECT 1 AS x",
      Some(QuerySink("${segment}/_export")))))
    val errs = r.run(spark, Map.empty)
    assert(errs.exists(_.getMessage.contains("segmentDir")))
    assert(!spark.catalog.tableExists("guard_probe"),
      "side effect committed before sink validation")
  }

  test("batch telemetry: last-batch fields track the latest batch id") {
    val m = new PipelineMetrics()
    m.recordBatch(0L, 500, 30000, 10.0, 20.0) // slow cold start
    m.recordBatch(1L, 900, 200, 1000.0, 2000.0)
    m.recordBatch(0L, 500, 30000, 10.0, 20.0) // close-time replay
    val r = m.report()
    assert(r.contains("\"last_batch_duration_ms\": 200"), r)
    assert(r.contains("\"max_batch_rows\": 900"), r)
    // restart without checkpoint restarts batch ids at 0 — clearEnd
    // re-arms the monotone guard so the new run's telemetry lands
    m.clearEnd()
    m.recordBatch(0L, 100, 350, 5.0, 6.0)
    assert(m.report().contains("\"last_batch_duration_ms\": 350"))
  }

  test("closedSegments drains exactly once (DuckPaths parity)") {
    val root = Files.createTempDirectory("graft-drain").toString
    writeMessages(s"$root/messages")
    val pipe = Pipeline(spark, PipelineConfig(
      source = FileBinarySource(s"$root/messages"),
      outputDir = s"$root/out",
      munger = Some(Stages.confluentStrip),
      decode = Decoders.json(payloadSchema)))
    val q = pipe.run()
    q.processAllAvailable()
    pipe.close()
    val first = pipe.closedSegments()
    assert(first.nonEmpty)
    assert(pipe.closedSegments().isEmpty)
  }

  test("typed decoder routes CatchUpSkip and Failed (proto.go:133-145 parity)") {
    val root = Files.createTempDirectory("graft-typed").toString
    // wire format: "id|name"; id%10==9 → catch-up; id%10==5 → bad
    val msgs = spark.range(100).select(
      concat(col("id").cast("string"), lit("|name"),
        col("id").cast("string")).cast("binary").as("value"),
      current_timestamp().as("timestamp"))
    msgs.write.mode("overwrite").parquet(s"$root/messages")

    val decode = Decoders.typed[KV] { bytes =>
      val s = new String(bytes)
      val Array(id, name) = s.split('|')
      if (id.toLong % 10 == 9) DecodeResult.CatchUpSkip
      else if (id.toLong % 10 == 5) DecodeResult.Failed("bad record")
      else DecodeResult.Ok(KV(id.toLong, name))
    }

    val pipe = Pipeline(spark, PipelineConfig(
      source = FileBinarySource(s"$root/messages"),
      outputDir = s"$root/out",
      destTable = "kv",
      decode = decode))
    val q = pipe.run()
    q.processAllAvailable()
    pipe.close()

    val m = pipe.metrics
    assert(m.messagesConsumed.get == 100)
    assert(m.recordsProcessed.get == 80)
    assert(m.decodeErrors.get == 10)
    assert(m.catchUpSkips.get == 10)
    assert(m.conservationHolds)
  }

  test("wire stats ride the decode scan: ONE source pass per micro-batch") {
    val root = Files.createTempDirectory("graft-onescan").toString
    val n = writeMessages(s"$root/messages")
    val recordsRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        recordsRead.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pipe = Pipeline(spark, PipelineConfig(
        source = FileBinarySource(s"$root/messages"),
        outputDir = s"$root/out",
        destTable = "events_raw",
        munger = Some(Stages.confluentStrip),
        decode = Decoders.json(payloadSchema)))
      val q = pipe.run()
      q.processAllAvailable()
      pipe.close()
      assert(pipe.metrics.messagesConsumed.get == n)
      assert(pipe.metrics.bytesProcessed.get > 0)
      assert(pipe.metrics.recordsInserted.get == n)
      // listener events are async — wait for the count to go quiet
      var last = -1L
      var spins = 0
      while (recordsRead.get != last && spins < 50) {
        last = recordsRead.get; spins += 1; Thread.sleep(100)
      }
      // no cache and one job per batch: the source rows, exactly once
      assert(recordsRead.get == n,
        s"source rows read ${recordsRead.get} vs $n — second scan regressed")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a non-rotating micro-batch writing raw, norm and dead letters " +
      "runs one Spark job") {
    val root = Files.createTempDirectory("graft-onejob").toString
    val good = (0L until 40L).map(i =>
      (s"""{"event_id":$i,"user_id":${i % 7},"event_type":"t${i % 3}",""" +
        s""""value":${i * 0.5}}""").getBytes("UTF-8"))
    val bad = Seq.fill(5)("not-json".getBytes("UTF-8"))
    val batch = (good ++ bad).map(b => (b, new java.sql.Timestamp(0L)))
      .toDF("value", "timestamp").repartition(3)
    val pipe = Pipeline(spark, PipelineConfig(
      source = DataFrameSource(batch),
      outputDir = s"$root/out",
      destTable = "events_raw",
      decode = Decoders.json(payloadSchema),
      deadLetterTable = Some("dead"),
      normalizer = Some(NormalizerSpec(Seq("event_id", "event_type"),
        Seq("event_id", "kind"))),
      rotation = RotationPolicy(thresholdMB = 1000, durationSec = 100000,
        clamp = false)))
    val staged = batch.localCheckpoint() // the shuffle stays out of the count
    assert(countJobs(pipe.processBatch(staged, 0L)) == 1)
    assert(pipe.closedSegments().isEmpty, "the batch rotated")
    pipe.close()
    val seg = pipe.closedSegments().map(_.path)
    assert(seg.length == 1)
    Seq("events_raw" -> 40L, "events_raw_norm" -> 40L, "dead" -> 5L).foreach {
      case (t, n) =>
        assert(spark.read.parquet(s"${seg.head}/$t").count() == n, t)
    }
    val m = pipe.metrics
    assert(m.recordsInserted.get == 40 && m.normRecordsInserted.get == 40 &&
      m.decodeErrors.get == 5 && m.conservationHolds)
    // per-batch phases and per-table rows join the parity report
    val r = m.report()
    Seq("batches_committed", "last_batch_ms", "total_batch_ms", "table_rows",
      "table_bytes", "decode_write", "rotate_check", "runner", "manifest")
      .foreach(k => assert(r.contains("\"" + k + "\""), k))
    assert(r.contains("\"dead\": 5"), r)
  }

  test("the staging job normalizes with the native kernel, and the " +
      "report splits its task time into rows pulled and parquet writes") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val root = Files.createTempDirectory("graft-kernel").toString
    val batch = (0L until 40L).map(i =>
      (s"""{"event_id":$i,"user_id":${i % 7},"event_type":"t${i % 3}",""" +
        s""""value":${i * 0.5}}""").getBytes("UTF-8"))
      .map(b => (b, new java.sql.Timestamp(0L)))
      .toDF("value", "timestamp").repartition(2).localCheckpoint()
    val pipe = Pipeline(spark, PipelineConfig(
      source = DataFrameSource(batch),
      outputDir = s"$root/out",
      destTable = "events_raw",
      decode = Decoders.json(payloadSchema),
      normalizer = Some(NormalizerSpec(Seq("event_id", "event_type"),
        Seq("event_id", "kind"))),
      rotation = RotationPolicy(thresholdMB = 1000, durationSec = 100000,
        clamp = false)))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("AS events_raw_norm") =>
          plans.add(s.physicalPlanDescription)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try countJobs(pipe.processBatch(batch, 0L)) // flushes the listener bus
    finally spark.sparkContext.removeSparkListener(listener)
    assert(plans.size == 1) // the staging job
    val plan = plans.peek()
    assert(plan.contains("graft_normalize_rows"), plan)
    assert(!plan.toLowerCase.contains("lambdafunction"), plan)

    val r = pipe.metrics.report()
    Seq("last_stage_task_ms", "total_stage_task_ms").foreach { k =>
      val split = (s""""$k": [{]"rows_pulled": ([0-9.]+), """ +
        """"parquet_write": ([0-9.]+)[}]""").r.findFirstMatchIn(r)
      assert(split.nonEmpty, s"$k missing in $r")
      assert(split.get.group(1).toDouble > 0 && split.get.group(2).toDouble > 0,
        s"$k: ${split.get}")
    }
    pipe.close()
    assert(spark.read.parquet(s"${pipe.closedSegments().head.path}/events_raw_norm")
      .count() == 40)
  }

  test("restart reopens a closed pipeline and resumes offsets (RestartDuck parity)") {
    val root = Files.createTempDirectory("graft-restart").toString
    val n1 = writeMessages(s"$root/messages")
    val pipe = Pipeline(spark, PipelineConfig(
      source = FileBinarySource(s"$root/messages"),
      outputDir = s"$root/out",
      destTable = "events_raw",
      munger = Some(Stages.confluentStrip),
      decode = Decoders.json(payloadSchema),
      checkpointDir = Some(s"$root/ckpt")))
    intercept[IllegalArgumentException](pipe.restart()) // not closed yet
    pipe.run().processAllAvailable()
    pipe.close()
    assert(pipe.isClosed)
    assert(pipe.metrics.messagesConsumed.get == n1)
    val segsBefore = pipe.closedSegments().map(_.index)

    // more input lands while closed; restart resumes from the committed
    // offset (no re-read of the first batch) and keeps counting
    val extra = Tables.load(spark, sf0001, "events").limit(100)
      .select(concat(unhex(lit("0" * 12)),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"))).cast("binary")).as("value"),
        current_timestamp().as("timestamp"))
    extra.write.mode("append").parquet(s"$root/messages")
    pipe.restart().processAllAvailable()
    pipe.close()
    assert(pipe.metrics.messagesConsumed.get == n1 + 100,
      "restart must resume, not re-read")
    val segsAfter = pipe.closedSegments().map(_.index)
    assert(segsAfter.nonEmpty && segsBefore.intersect(segsAfter).isEmpty,
      "segment numbering continues across restart")
  }

  test("metrics report carries the reference field names") {
    val m = new PipelineMetrics(normalizerFields = Some(10))
    m.recordsProcessed.set(123686901L)
    val r = m.report()
    Seq("num_cpu", "runtime_os", "kafka_clients", "kafka_queue_cap",
      "processor_routines", "arrow_queue_cap", "duckdb_threshold_mb",
      "duckdb_connections", "normalizer_fields", "start_time",
      "records", "data_transferred", "duration", "records_per_second",
      "total_rows_per_second", "transfer_rate", "duckdb_files",
      "duckdb_files_MB").foreach(k => assert(r.contains("\"" + k + "\""), k))
    assert(r.contains("123_686_901.00")) // util.go grouping parity
    // batch telemetry fields only appear once progress is observed
    assert(!r.contains("max_batch_rows"))
  }

  test("extractAppendedMillis recovers the reference's LE byte-append (S6)") {
    val ts = 1708800383123L // known millis
    val payload = "hello".getBytes("UTF-8")
    val le = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(ts).array()
    val df = Seq((payload ++ le, "x"), (Array[Byte](1, 2, 3), "short"))
      .toDF("value", "tag")
    val out = Stages.extractAppendedMillis(df)
    val x = out.where(col("tag") === "x")
    val row = x.select(col("msg_ts").cast("long"), col("value")).head()
    assert(row.getLong(0) == ts / 1000 * 1000 / 1000) // seconds via cast
    val got = x.select(unix_millis(col("msg_ts")), col("value")).head()
    assert(got.getLong(0) == ts)
    assert(new String(got.getAs[Array[Byte]](1), "UTF-8") == "hello")
    // a payload under 8 bytes carries no timestamp: both columns NULL
    val short = out.where(col("tag") === "short")
      .select(col("msg_ts"), col("value")).head()
    assert(short.isNullAt(0) && short.isNullAt(1), short.toString)
  }

  test("NULL, envelope-only and short frames never become good rows") {
    // After the 6-byte envelope strip a NULL frame stays NULL, an
    // envelope-only frame is an empty payload, and a 3-byte frame is
    // shorter than the envelope, so the strip returns NULL.
    implicit val benc = ExpressionEncoder[Array[Byte]]()
    val root = Files.createTempDirectory("graft-short").toString
    val envelope = Array.fill[Byte](6)(0)
    val odd = Seq[Array[Byte]](null, envelope, Array[Byte](1, 2, 3))
    def ingest(name: String, good: Seq[Array[Byte]],
        decode: DataFrame => DataFrame): Pipeline = {
      val batch = (good.map(envelope ++ _) ++ odd).toDF("value")
        .withColumn("timestamp", current_timestamp())
      val pipe = Pipeline(spark, PipelineConfig(
        source = DataFrameSource(batch),
        outputDir = s"$root/out_$name",
        munger = Some(Stages.confluentStrip),
        decode = decode,
        deadLetterTable = Some("dead")))
      pipe.processBatch(batch, 0L)
      pipe.close()
      pipe
    }

    // JSON: an empty payload is no record, so all three are dead letters
    val json = ingest("json", (0L until 5L).map(i =>
      (s"""{"event_id":$i,"user_id":1,"event_type":"t",""" +
        """"value":0.5}""").getBytes("UTF-8")),
      Decoders.json(payloadSchema))
    val jm = json.metrics
    assert(jm.recordsProcessed.get == 5 && jm.decodeErrors.get == 3,
      s"good ${jm.recordsProcessed.get}, dead ${jm.decodeErrors.get}")
    assert(jm.conservationHolds)
    val jsegs = json.closedSegments().map(_.path)
    assert(spark.read.parquet(jsegs.map(_ + "/dead"): _*).count() == 3)
    val jraw = spark.read.parquet(jsegs.map(_ + "/msgs"): _*)
    assert(jraw.count() == 5 && jraw.where(col("event_id").isNull).isEmpty)

    // protobuf: the empty payload is a valid empty message (the
    // all-default record); the NULL and 3-byte frames are dead letters
    val proto = ingest("proto", (1L to 5L).map(i =>
      ProtoCodec.encode(ProtoRecord(i, null, 0.5, flag = true, ts = 0L))),
      ProtoCodec.decodeColumnar)
    val pm = proto.metrics
    assert(pm.recordsProcessed.get == 6 && pm.decodeErrors.get == 2,
      s"good ${pm.recordsProcessed.get}, dead ${pm.decodeErrors.get}")
    assert(pm.conservationHolds)
    val psegs = proto.closedSegments().map(_.path)
    assert(spark.read.parquet(psegs.map(_ + "/dead"): _*).count() == 2)
    val dflt = spark.read.parquet(psegs.map(_ + "/msgs"): _*)
      .where(col("id") === 0L)
      .select(col("site").isNull, col("score"), col("flag")).collect()
    assert(dflt.toSeq == Seq(Row(true, 0.0, false)), dflt.mkString)
  }
}

case class KV(id: Long, name: String)
