package graft.sink

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

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
  * Two-phase commit: tasks write to `baseDir/.staging/e<epoch>/`
  * (dot-prefixed — invisible to readers), the epoch commit renames
  * each file to the DETERMINISTIC name
  * `<segment>/<table>/part-e<epoch>-p<partition>.parquet` (stale
  * target deleted first, rename return CHECKED — the CompactSwap
  * rule) and then drops an `_epochs/e<N>` marker. A replayed epoch
  * whose marker exists is discarded without re-appending
  * (exactly-once under the engine's replay contract, suite-pinned);
  * a crash in the middle of the rename loop can leave already-moved
  * files that a replay re-merges into the THEN-current segment under
  * the same deterministic names — duplicates only if rotation
  * happened in between, the same at-least-once residue the
  * foreachBatch append path has always had, now narrowed to the
  * rename window. Rename is a metadata op on HDFS-likes; on S3-likes
  * it copies — there, point `path` at a rename-capable store or
  * accept the copy (the manifest, not listing, is the read contract).
  *
  * Options: `path` (required), `table` (logical table, default
  * `events`), `prefix`, `thresholdMB`/`durationSec`/`clamp` (the
  * [[RotationPolicy]] knobs, reference-clamped by default),
  * `manifest` (default true). One provider instance writes ONE
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
          new SegmentStreamingWrite(baseDir, info.schema(),
            table = Option(opts.get("table")).getOrElse("events"),
            prefix = Option(opts.get("prefix")).getOrElse("seg"),
            policy = RotationPolicy(
              thresholdMB =
                Option(opts.get("thresholdMB")).map(_.toLong).getOrElse(100L),
              durationSec =
                Option(opts.get("durationSec")).map(_.toLong).getOrElse(60L),
              clamp =
                Option(opts.get("clamp")).forall(_.toBoolean)),
            writeManifest =
              Option(opts.get("manifest")).forall(_.toBoolean))
      }
    }
}

private[sink] case class SegmentCommitMessage(partitionId: Int,
    stagedPath: String, rows: Long) extends WriterCommitMessage

/** Driver-side handle registry for the DSv2 segment sink: Spark
  * constructs [[SegmentStreamingWrite]] internally (inside
  * `newWriteBuilder`), so without this no caller could reach the
  * instance to close the LAST open segment — data below the rotation
  * threshold at `query.stop()` would exist on disk but never reach
  * the manifest, invisible under the documented manifest read
  * contract (round-13 review finding). After stopping the query,
  * call `SegmentWrites.finalRotate(baseDir)` — the DSv2 twin of
  * [[graft.pipeline.Pipeline.close]]'s final partial-segment emit.
  * Keyed by base dir, latest write wins (a restarted query's fresh
  * instance owns the open segment). */
object SegmentWrites {
  // ALL instances per dir: the engine may construct the StreamingWrite
  // more than once per query (planning vs execution), and only the
  // instance that actually received commits holds the open segment —
  // a last-wins slot could point at an inert twin
  private val registry = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.Set[SegmentStreamingWrite]]()

  private[sink] def register(baseDir: String,
      w: SegmentStreamingWrite): Unit = {
    registry.computeIfAbsent(baseDir,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet()).add(w)
    ()
  }

  /** Close and announce the open segment of the (stopped) streaming
    * write on `baseDir`, if any registered instance has pending data —
    * then DROP the dir's entry, so instances never outlive the
    * stop→finalRotate cycle (ADVICE r13: an add-only registry leaked
    * every restart's instance for the JVM lifetime, and a stale
    * instance could re-announce an old open segment alongside the
    * current one). If a query was restarted WITHOUT finalRotate in
    * between, the prior run's pending instances are still registered
    * here — their rotation at the next call announces real
    * un-manifested rows (recovery, not duplication: each instance
    * rotates its own segment exactly once). */
  def finalRotate(baseDir: String): Option[SegmentInfo] = {
    import scala.jdk.CollectionConverters._
    val dropped = Option(registry.remove(baseDir))
    dropped.toSeq
      .flatMap(_.asScala.toSeq)
      .flatMap(_.finalRotate())
      .headOption
  }

  private[sink] def registeredCount(baseDir: String): Int =
    Option(registry.get(baseDir)).map(_.size).getOrElse(0)
}

private[sink] class SegmentStreamingWrite(baseDir: String,
    schema: StructType, table: String, prefix: String,
    policy: RotationPolicy, writeManifest: Boolean)
    extends StreamingWrite {

  // driver-side state, exactly the library sink — rotation, naming,
  // clamps, manifest and metrics semantics are shared by construction
  private val spark = SparkSession.active
  private val sink = new RotatingSegmentSink(spark, baseDir,
    prefix = prefix, policy = policy, writeManifest = writeManifest)
  SegmentWrites.register(baseDir, this)
  private val confSer = new SerializableConfiguration(
    spark.sessionState.newHadoopConf())

  private def fs = new Path(baseDir).getFileSystem(confSer.value)
  private def stagingDir(epochId: Long) =
    new Path(s"$baseDir/.staging/e$epochId")
  private def marker(epochId: Long) = new Path(s"$baseDir/_epochs/e$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new SegmentWriterFactory(s"$baseDir/.staging", schema, confSer)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit = {
    val f = fs
    if (f.exists(marker(epochId))) { // replayed, already visible
      f.delete(stagingDir(epochId), true)
      return
    }
    val msgs = messages.collect {
      case m: SegmentCommitMessage if m.rows > 0 => m }
    if (msgs.nonEmpty) {
      val segTable = new Path(s"${sink.currentSegment}/$table")
      f.mkdirs(segTable)
      msgs.foreach { m =>
        val dest = new Path(segTable,
          s"part-e$epochId-p${m.partitionId}.parquet")
        if (f.exists(dest) && !f.delete(dest, false))
          throw new java.io.IOException(
            s"graft-binsegment: cannot clear stale part $dest")
        if (!f.rename(new Path(m.stagedPath), dest))
          throw new java.io.IOException(
            s"graft-binsegment: rename ${m.stagedPath} -> $dest " +
              "returned false; epoch left staged for retry")
      }
      sink.noteExternalAppend(table)
    }
    val mk = marker(epochId)
    f.mkdirs(mk.getParent)
    f.create(mk, true).close()
    f.delete(stagingDir(epochId), true)
    // an all-empty epoch writes its marker but announces nothing:
    // maybeRotate never closes a segment with no writes
    sink.maybeRotate()
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit = {
    fs.delete(stagingDir(epochId), true)
    ()
  }

  /** Force-close the open segment (shutdown parity with
    * [[graft.pipeline.Pipeline.close]]). */
  def finalRotate(): Option[SegmentInfo] =
    if (sink.hasPendingWrites) Some(sink.rotate()) else None
}

private[sink] class SegmentWriterFactory(stagingBase: String,
    schema: StructType, confSer: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SegmentDataWriter(
      s"$stagingBase/e$epochId/p$partitionId-t$taskId.parquet",
      partitionId, schema, confSer)
}

/** One appender task: streams rows into one staged parquet part file.
  * The file is created lazily on the first row, so empty partitions
  * cost nothing (the reference's appenders also no-op on empty
  * batches). */
private[sink] class SegmentDataWriter(stagedPath: String,
    partitionId: Int, schema: StructType,
    confSer: SerializableConfiguration) extends DataWriter[InternalRow] {
  import org.apache.spark.sql.graftbridge.ParquetBridge

  private var writer: org.apache.spark.sql.execution.datasources.parquet
    .ParquetOutputWriter = _
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    if (writer == null)
      writer = ParquetBridge.writer(stagedPath, schema, confSer.value)
    writer.write(record)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    SegmentCommitMessage(partitionId, stagedPath, rows)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    val p = new Path(stagedPath)
    val f = p.getFileSystem(confSer.value)
    if (f.exists(p)) f.delete(p, false)
    ()
  }

  override def close(): Unit = ()
}
