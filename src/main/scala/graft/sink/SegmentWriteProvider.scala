package graft.sink

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.fs.NioLocalFileSystem

/** K1's sink as a REAL DataSource-V2 streaming sink — the write-side
  * mirror of [[graft.sources.BinaryQueueProvider]]: the exact
  * `SupportsWrite`/`StreamingWrite` API the Kafka connector's writer
  * implements, over the [[RotatingSegmentSink]] layout. The
  * reference's pooled appender ingest (/root/reference/duck.go:431-546
  * — N appender goroutines bulk-loading Arrow batches into the open
  * DuckDB file) maps to exactly this shape: each Spark task is an
  * appender, its `DataWriter` streams rows into its OWN columnar part
  * file (Spark's `ParquetWriteSupport`, via
  * [[org.apache.spark.sql.graftbridge.ParquetBridge]] — byte-compatible
  * with `df.write.parquet`), and the DRIVER-side epoch commit makes
  * the files visible in the open segment, keeps the manifest, and
  * runs the SAME size/age rotation ([[RotatingSegmentSink]] is reused
  * verbatim, so naming/clamps/manifest/runner parity is by
  * construction, suite-pinned).
  *
  * Each epoch commits through [[RotatingSegmentSink.commit]], the
  * routine the pipeline also uses, keyed by the query's persistent id
  * (`LogicalWriteInfo.queryId`) and the epoch: renames to
  * deterministic part names, then an `_epochs/<query>/e<N>` marker; a
  * replayed epoch whose marker exists is discarded, and the parts of a
  * crash before the marker are overwritten by the replay under the
  * same names, or deleted first by a restarted driver's recovery
  * (exactly-once under the engine's replay contract, suite-pinned).
  * An epoch that rotates runs the library sink's one close routine
  * (runner, manifest, announcement) and waits for it before its
  * commit returns: a `StreamingWrite` has no stop hook where a later
  * wait could go, so unlike the pipeline this path does not overlap
  * the close with the next epoch. A failed close fails its epoch; the
  * dir's sink stays registered and runs that close again at its next
  * rotation or `finalRotate`, also for a query restarted in the same
  * JVM. Rename is a metadata op on HDFS-likes; on S3-likes
  * it copies — there, point `path` at a rename-capable store or
  * accept the copy (the manifest, not listing, is the read contract:
  * read it by the glob `*.parquet` inside `<path>/_manifest`, see
  * [[RotatingSegmentSink]]).
  *
  * Options: `path` (required), `table` (logical table, default
  * `events`), `prefix`, `thresholdMB`/`durationSec`/`clamp` (the
  * [[RotationPolicy]] knobs, reference-clamped by default). Every
  * closed segment gets its manifest entry, and crash recovery always
  * runs. One provider instance writes ONE
  * logical table — the Kafka writer's one-topic shape; multi-table
  * fan-out stays on the library sink. */
class SegmentWriteProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-binsegment"
  // write-only source: the query's schema arrives through
  // getTable(schema, …) — never inferred
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft-binsegment is write-only; the schema comes from the query")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val dir = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-binsegment needs a path option (the segment base dir)"))
    // table resolution precedes the query's checkpoint logs; the sink
    // itself is built only at the first commit
    NioLocalFileSystem.installFileContext(SparkSession.active.sparkContext)
    new SegmentWriteTable(dir, schema, opts)
  }
}

private[sink] class SegmentWriteTable(baseDir: String,
    writeSchema: StructType, opts: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  override def name(): String = s"graft-binsegment(`$baseDir`)"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new SegmentStreamingWrite(baseDir, info.schema(), info.queryId(),
            table = Option(opts.get("table")).getOrElse("events"),
            prefix = Option(opts.get("prefix")).getOrElse("seg"),
            policy = RotationPolicy(
              thresholdMB =
                Option(opts.get("thresholdMB")).map(_.toLong).getOrElse(100L),
              durationSec =
                Option(opts.get("durationSec")).map(_.toLong).getOrElse(60L),
              clamp =
                Option(opts.get("clamp")).forall(_.toBoolean)))
      }
    }
}

/** Driver-side sink registry for the DSv2 segment sink. Spark builds
  * a [[SegmentStreamingWrite]] per micro-batch, inside
  * `newWriteBuilder`; the driver-side state — open segment, rotation
  * clock, manifest — lives here instead, one [[RotatingSegmentSink]]
  * per base dir (one writer per dir), made by the first write after
  * the last `finalRotate`. After stopping the query, call
  * `SegmentWrites.finalRotate(baseDir)` — the DSv2 twin of
  * [[graft.pipeline.Pipeline.close]]'s final partial-segment emit —
  * so rows below the rotation threshold reach the manifest (the read
  * contract); a later run's recovery closes it otherwise. */
object SegmentWrites {
  private val sinks =
    new java.util.concurrent.ConcurrentHashMap[String, RotatingSegmentSink]()

  private[sink] def sink(baseDir: String,
      make: => RotatingSegmentSink): RotatingSegmentSink =
    sinks.computeIfAbsent(baseDir, _ => make)

  /** Close and announce the open segment on `baseDir`, if it holds
    * rows, wait for every close of the dir's sink, and drop the sink. */
  def finalRotate(baseDir: String): Option[SegmentInfo] =
    Option(sinks.remove(baseDir)).flatMap(_.finish())

  private[sink] def registeredCount(baseDir: String): Int =
    if (sinks.containsKey(baseDir)) 1 else 0

  /** Drop the dir's sink unclosed — the driver state a crash loses. */
  private[sink] def forget(baseDir: String): Unit = { sinks.remove(baseDir); () }
}

private[sink] class SegmentStreamingWrite(baseDir: String,
    schema: StructType, queryId: String, table: String, prefix: String,
    policy: RotationPolicy)
    extends StreamingWrite {

  // rotation, naming, clamps, manifest and commit are the library
  // sink's, shared by construction
  private lazy val sink = SegmentWrites.sink(baseDir,
    new RotatingSegmentSink(SparkSession.active, baseDir, prefix = prefix,
      policy = policy))
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val (dir, qid, tables, conf) =
      (baseDir, queryId, Seq(table -> schema), sink.taskConf)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      new SegmentDataWriter(RotatingSegmentSink.stagingDir(dir, qid, epochId),
        partitionId, taskId, tables, conf.value.value)
  }

  /** Commits, then runs a rotation's close and waits for it: Spark gives
    * a `StreamingWrite` no stop hook where a later wait could go, so the
    * epoch returns only once its segment is in the manifest. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit = {
    // an all-empty epoch writes its marker but announces nothing:
    // maybeRotate never closes a segment with no writes
    if (sink.commit(queryId, epochId,
        messages.toSeq.collect { case m: SegmentCommitMessage => m }).nonEmpty)
      sink.maybeRotate()
    sink.awaitClosed()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit = {
    val p = new Path(RotatingSegmentSink.stagingDir(baseDir, queryId, epochId))
    p.getFileSystem(sink.taskConf.value.value).delete(p, true)
    ()
  }
}
