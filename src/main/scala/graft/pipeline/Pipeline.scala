package graft.pipeline

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.fs.NioLocalFileSystem
import graft.normalize.{Normalizer, NormalizerSpec}
import graft.ops.{CustomTransform, Stages}
import graft.runner.SegmentRunner
import graft.sink.{RotatingSegmentSink, RotationPolicy, SegmentDataWriter,
  SegmentInfo}
import graft.sources.MessageSource

/** Decode outcomes — parity with the reference's decode-error routing
  * (/root/reference/proto.go:133-145): "catch-up" errors skip the
  * message silently; other errors are recorded and the message routed
  * to the dead-letter frame; the pipeline continues either way. */
sealed trait DecodeResult[+T]
object DecodeResult {
  final case class Ok[T](value: T) extends DecodeResult[T]
  case object CatchUpSkip extends DecodeResult[Nothing]
  final case class Failed(message: String) extends DecodeResult[Nothing]
}

object Decoders {
  /** Untyped JSON decoder (PERMISSIVE; corrupt rows → `_corrupt`). */
  def json(schema: StructType, extra: Map[String, Column] = Map.empty)
      : DataFrame => DataFrame =
    Stages.decodeJson(schema, extra)

  /** Typed pluggable decoder — the reference's `unmarshalFunc`
    * boundary (/root/reference/proto.go:33, README.md:104-137): a user
    * `Array[Byte] => DecodeResult[T]`. Protobuf users plug their
    * generated parser here; the engine never assumes a wire format. */
  def typed[T <: Product : TypeTag](fn: Array[Byte] => DecodeResult[T])
      : DataFrame => DataFrame = { df =>
    implicit val enc: Encoder[(Option[T], java.sql.Timestamp, String)] =
      ExpressionEncoder()
    val ds = df.select(col("value"), col("timestamp"))
      .as[(Array[Byte], java.sql.Timestamp)](
        ExpressionEncoder[(Array[Byte], java.sql.Timestamp)]())
    ds.mapPartitions { it =>
      it.flatMap { case (bytes, ts) =>
        fn(bytes) match {
          case DecodeResult.Ok(v) =>
            Iterator((Some(v), ts, null.asInstanceOf[String]))
          case DecodeResult.CatchUpSkip => Iterator.empty
          case DecodeResult.Failed(m) =>
            Iterator((Option.empty[T], ts, m))
        }
      }
    }.toDF("rec", "timestamp", "_corrupt")
      .select(col("rec.*"), col("timestamp"), col("_corrupt"))
  }
}

/** Pipeline configuration — option-for-option parity with the
  * reference's `Orchestrator` options (/root/reference/quacfka.go:26-126). */
final case class PipelineConfig(
    source: MessageSource,
    outputDir: String,
    destTable: String = "msgs",
    pathPrefix: String = "seg",
    munger: Option[Column => Column] = None, // WithMsgMunger
    decode: DataFrame => DataFrame = identity, // unmarshalFunc boundary
    hasCorruptRouting: Boolean = false,
    deadLetterTable: Option[String] = None,
    normalizer: Option[NormalizerSpec] = None, // WithNormalizer
    customFields: Seq[Stages.CustomField] = Nil, // WithCustomFields
    customTransforms: Seq[CustomTransform] = Nil, // WithCustomArrows
    ingestRaw: Boolean = true, // !WithoutDuckIngestRaw (quacfka.go:122-126)
    rotation: RotationPolicy = RotationPolicy(),
    runner: Option[SegmentRunner] = None, // WithDuckRunner
    trigger: Option[Trigger] = None,
    checkpointDir: Option[String] = None)

/** O1 — the orchestrator/pipeline driver
  * (/root/reference/quacfka.go:218-257), Spark-native: one streaming
  * query source → munge → foreachBatch{decode once; stage custom,
  * norm, raw and dead letters; commit; rotate; run segment SQL}. The
  * reference's three channel-decoupled thread pools collapse into
  * Spark stages: each micro-batch is ONE job whose tasks decode their
  * partition once and stream the raw row, its normalized rows and any
  * dead letter into per-table staged parquet parts (the reference
  * likewise decodes once and fans the Record pair out to pooled
  * appenders, proto.go:148-156, duck.go:431-546). The driver then
  * commits the parts through [[RotatingSegmentSink.commit]], keyed by
  * the query's persistent id and the batch id, so a micro-batch the
  * engine re-runs after a crash lands exactly once. Record counts,
  * per-table rows and bytes and the rotation size come from the
  * tasks' commit messages; no count job, no listing.
  *
  * Custom transforms are arbitrary `DataFrame => DataFrame`, so each
  * keeps a job of its own over the decoded batch, cached only then; it
  * stages and commits with the rest of the batch.
  *
  * A batch that crosses the rotation threshold hands the segment to the
  * sink's background close and returns: the segment runner, manifest
  * and announcement run on the close thread, in a clone of `spark`,
  * while the next micro-batches commit. At most one close is in flight;
  * [[close]] and [[closedSegments]] wait for it.
  */
final class Pipeline(val spark: SparkSession, val config: PipelineConfig) {

  val metrics = new PipelineMetrics(
    processorRoutines = spark.sparkContext.defaultParallelism,
    thresholdMB = config.rotation.effectiveThresholdMB,
    normalizerFields = config.normalizer.map(_.fields.length),
    customArrows =
      if (config.customTransforms.isEmpty) None
      else Some(config.customTransforms.length))

  val sink = new RotatingSegmentSink(spark, config.outputDir,
    config.pathPrefix, config.rotation, config.runner, Some(metrics))

  /** Commit key of batches fed to [[processBatch]] directly, outside a
    * streaming query. */
  private val directId = java.util.UUID.randomUUID().toString

  @volatile private var query: Option[StreamingQuery] = None
  @volatile private var closed = false

  /** Live micro-batch telemetry (queue-depth parity — see
    * PipelineMetrics.recordProgress). Name-matched so concurrent
    * pipelines on one session don't cross-feed. */
  private val progressListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == s"graft-${config.destTable}")
          metrics.recordProgress(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }

  /** Process one micro-batch (also callable on a batch DataFrame — the
    * reference's stage-skipping lets users feed channels directly,
    * quacfka.go:262-283; this is the Spark analog). Inside the
    * streaming query the commit key is the query's persistent id;
    * called directly, it is this pipeline's own id, so a `batchId`
    * passed twice is a replay and commits nothing the second time. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = try {
    val streamId = Option(spark.sparkContext.getLocalProperty(
      "sql.streaming.queryId"))
    val queryId = streamId.getOrElse(directId)
    val staging = sink.stagingDir(queryId, batchId)
    val t0 = System.nanoTime()
    // Wire-level stats (S7 byte counter + consumed count) ride the
    // decode scan as observed metrics — ONE source scan per batch.
    val observed = batch.observe("graft_wire",
      count(lit(1)).as("consumed"),
      sum(length(col("value"))).as("bytes"))
    val munged = config.munger.fold(observed)(m => Stages.munge(m)(observed))
    val decoded = Stages.customFields(config.customFields)(
      config.decode(munged))
    val hasCorrupt = decoded.columns.contains("_corrupt")
    val good = if (hasCorrupt) col("_corrupt").isNull else lit(true)
    val cached = config.customTransforms.nonEmpty
    val decodedAll = (if (cached) decoded.persist() else decoded)
      .observe("graft_decode",
        sum(when(good, 1L).otherwise(0L)).as("good"),
        sum(when(good, 0L).otherwise(1L)).as("dead"))

    try {
      // Ingest order parity: custom tables, then norm, then raw
      // (/root/reference/duck.go:353-371,473-518); all of them become
      // visible together at the commit.
      val goodRows = decodedAll.where(good).drop("_corrupt")
      val customJobs = config.customTransforms.map { ct =>
        val out = ct.fn(goodRows)
        out.select(struct(out.columns.map(c => out(c)).toIndexedSeq: _*)
          .as(ct.destinationTable))
      }
      val fields = decodedAll.columns.filterNot(_ == "_corrupt").map(col)
      val routed = decodedAll.select((
        config.normalizer.map(spec => when(good,
          Normalizer.rows(decodedAll.schema, spec))
          .as(s"${config.destTable}_norm")).toSeq ++
        (if (config.ingestRaw)
          Seq(when(good, struct(fields.toIndexedSeq: _*)).as(config.destTable))
        else Nil) ++
        config.deadLetterTable.filter(_ => hasCorrupt).map(t =>
          when(!good, struct(decodedAll.columns.map(col).toIndexedSeq: _*))
            .as(t)).toSeq): _*)
      val messages = (customJobs :+ routed)
        .flatMap(SegmentDataWriter.stage(_, staging, sink.taskConf))
      val observedAll = (customJobs :+ routed)
        .flatMap(_.queryExecution.observedMetrics).toMap
      val t1 = System.nanoTime()
      val committed = sink.commit(queryId, batchId, messages,
        keepMarkers = streamId.isEmpty)
      val t2 = System.nanoTime()
      committed.foreach { stats =>
        val wire = observedAll("graft_wire")
        val routing = observedAll("graft_decode")
        val consumed = wire.getLong(0)
        val goodN = Option(routing.get(0)).fold(0L)(_.asInstanceOf[Long])
        val deadN = Option(routing.get(1)).fold(0L)(_.asInstanceOf[Long])
        def rows(t: String) = stats.get(t).fold(0L)(_.rows)
        metrics.messagesConsumed.addAndGet(consumed)
        Option(wire.get(1)).foreach(b =>
          metrics.bytesProcessed.addAndGet(b.asInstanceOf[Long]))
        metrics.recordsProcessed.addAndGet(goodN)
        metrics.decodeErrors.addAndGet(deadN)
        metrics.catchUpSkips.addAndGet(math.max(0L, consumed - goodN - deadN))
        metrics.customRecordsInserted.addAndGet(
          config.customTransforms.map(ct => rows(ct.destinationTable)).sum)
        metrics.normRecordsInserted.addAndGet(rows(s"${config.destTable}_norm"))
        metrics.recordsInserted.addAndGet(rows(config.destTable))
      }
      sink.maybeRotate()
      metrics.recordCommit(committed.getOrElse(Map.empty),
        writeNs = t1 - t0, commitNs = t2 - t1,
        rotateNs = System.nanoTime() - t2,
        pullTaskNs = messages.map(_.pullNs).sum,
        writeTaskNs = messages.map(_.writeNs).sum)
    } finally if (cached) decoded.unpersist()
  } catch {
    case t: Throwable => metrics.recordError(t); throw t
  }

  /** Start the streaming query (Run parity, quacfka.go:218-257). */
  def run(): StreamingQuery = synchronized {
    require(query.isEmpty, "pipeline already running")
    val src = config.source.stream(spark)
    var w = src.writeStream
      .queryName(s"graft-${config.destTable}")
      .foreachBatch { (batch: DataFrame, id: Long) => processBatch(batch, id) }
    config.trigger.foreach(t => w = w.trigger(t))
    config.checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
    spark.streams.addListener(progressListener)
    // before start(): the query builds its checkpoint logs there
    NioLocalFileSystem.installFileContext(spark.sparkContext)
    val q = w.start()
    query = Some(q)
    q
  }

  /** Drain closed-segment announcements (DuckPaths parity), after the
    * close in flight finished. */
  def closedSegments(): Seq[SegmentInfo] = sink.closedSegments()

  def error: Option[Throwable] = metrics.error

  /** Stop + close final segment (Close parity, quacfka.go:202-216:
    * final partial flush and last path emit). Returns once every
    * segment close finished; a failed close is rethrown here, and the
    * next call runs it again before closing the open segment. */
  def close(): Unit = synchronized {
    if (!closed) {
      query.foreach { q =>
        // Deterministic lag-telemetry drain: listener events are
        // async and may still be in flight — recordProgress is
        // idempotent under this replay.
        q.recentProgress.foreach(metrics.recordProgress)
        q.stop()
      }
      spark.streams.removeListener(progressListener)
      sink.finish() // emit the final partial segment; wait for every close
      metrics.markEnd()
      closed = true
    }
  }
  def isClosed: Boolean = closed

  /** Reopen a closed pipeline — `RestartDuck` parity
    * (/root/reference/duck.go:209-220: requires a prior configuration
    * and a closed orchestrator). The same config and sink resume: the
    * segment index keeps counting, metrics keep accumulating (the
    * end-time freeze from close() is lifted). With a configured
    * `checkpointDir` the new streaming query resumes from the last
    * committed offset; without one it re-reads the source from
    * scratch (standard Structured Streaming semantics). */
  def restart(): StreamingQuery = synchronized {
    require(closed, "pipeline is not closed (RestartDuck parity)")
    closed = false
    query = None
    metrics.clearEnd()
    run()
  }
}

object Pipeline {
  def apply(spark: SparkSession, config: PipelineConfig): Pipeline =
    new Pipeline(spark, config)
}
