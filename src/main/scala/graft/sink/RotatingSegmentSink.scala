package graft.sink

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter
import org.apache.spark.sql.graftbridge.ParquetBridge
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.pipeline.PipelineMetrics
import graft.runner.SegmentRunner

/** K2 — rotation policy, parity with the reference's clamped minimums
  * (/root/reference/quacfka.go:82-104: threshold < 100 MB → 100 MB,
  * duration < 60 s → 60 s). `clamp=false` is for tests only. */
final case class RotationPolicy(
    thresholdMB: Long = 100,
    durationSec: Long = 60,
    clamp: Boolean = true) {
  def effectiveThresholdMB: Long = if (clamp) math.max(thresholdMB, 100) else thresholdMB
  def effectiveDurationSec: Long = if (clamp) math.max(durationSec, 60) else durationSec
}

/** Metadata for a closed segment (K4 — the `DuckPaths` channel parity,
  * /root/reference/quacfka.go:65-70,188-193). */
final case class SegmentInfo(path: String, index: Long, closedAt: Instant,
    sizeMB: Long, tables: Seq[String])

/** One staged part file a task wrote for one logical table. */
final case class StagedPart(table: String, path: String, rows: Long,
    bytes: Long)

/** What one task of a staging job reports to the driver's commit. */
final case class SegmentCommitMessage(partitionId: Int,
    parts: Seq[StagedPart]) extends WriterCommitMessage

/** Per-table totals of one committed batch. */
final case class TableStats(rows: Long, bytes: Long)

/** K1+K2+K3+K4 — rotating columnar segment sink.
  *
  * The reference bulk-appends Arrow batches into a DuckDB file and
  * rotates the file on estimated size/age
  * (/root/reference/duck.go:252-295,431-546). Spark-native: each
  * logical table is a parquet dir under a segment dir
  * `prefix_yyyy-MM-dd_HH-mm-ss_s<sinkId>_N/` (naming parity:
  * duck.go:227-237; the sink token disambiguates restarts).
  *
  * Writes are two-phase, for both the pipeline and the DSv2 sink
  * ([[SegmentWriteProvider]]). Tasks stream rows into staged part
  * files ([[SegmentDataWriter]], dot-prefixed staging dir, invisible to
  * readers) and report rows and bytes per table. [[commit]] — the one
  * commit routine, keyed by (query id, batch id) — renames each part to
  * the deterministic name `<segment>/<table>/part-<query>-e<batch>-p<partition>.parquet`,
  * then drops the marker `_epochs/<query>/e<batch>`. A batch whose
  * marker exists is a replay and is discarded. Keying by the query's
  * persistent id keeps a new query over an old `path` from mistaking
  * the old query's markers for its own.
  *
  * The segment's size is the sum of the committed bytes (the
  * reference's pragma_database_size probe, duck.go:564-593, without a
  * listing per batch); size and age decide rotation. On rotation the
  * segment runner executes its SQL against the closed segment, then the
  * segment is announced on the path queue and in the `_manifest`
  * parquet table, one file per segment named after it, so closing a
  * segment twice lists it once.
  *
  * Crash recovery (one writer per `baseDir`): the first commit or
  * close of a sink looks for segment dirs without a manifest entry. It
  * deletes their parts whose marker is missing — a batch that crashed
  * before its marker, which the engine replays — and closes each dir
  * that still holds rows through the normal rotation path. A sink
  * with `writeManifest = false` has no such record and skips recovery.
  */
final class RotatingSegmentSink(
    spark: SparkSession,
    baseDir: String,
    prefix: String = "seg",
    policy: RotationPolicy = RotationPolicy(),
    runner: Option[SegmentRunner] = None,
    metrics: Option[PipelineMetrics] = None,
    writeManifest: Boolean = true) {
  import RotatingSegmentSink._

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss")
    .withZone(ZoneOffset.UTC)
  private val fs: FileSystem =
    new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val manifestDir = new Path(baseDir, "_manifest")
  private var segIndex = 0L
  private var segStartMs = System.currentTimeMillis()
  private var segBytes = 0L
  // JVM-unique sink token in every segment path: a restarted pipeline
  // builds a fresh sink whose segIndex restarts at 0, and the
  // timestamp half is second-granular. A name already on disk (another
  // JVM's sink in the same second) is skipped by bumping the index.
  private val sinkId = nextSinkId()
  private var current = newSegmentPath()
  private var recovered = false
  private val closedQueue = new ConcurrentLinkedQueue[SegmentInfo]()
  private val tablesWritten = scala.collection.mutable.LinkedHashSet[String]()

  private def newSegmentPath(): String = {
    def at(i: Long) =
      s"$baseDir/${prefix}_${fmt.format(Instant.now())}_s${sinkId}_$i"
    while (fs.exists(new Path(at(segIndex)))) segIndex += 1
    at(segIndex)
  }

  /** Whether the open segment holds committed rows (after recovering
    * a crashed run's segments). */
  def hasPendingWrites: Boolean = synchronized {
    recoverOnce()
    tablesWritten.nonEmpty
  }

  /** Drain closed-segment announcements (DuckPaths parity). */
  def closedSegments(): Seq[SegmentInfo] = {
    val out = scala.collection.mutable.Buffer[SegmentInfo]()
    var s = closedQueue.poll()
    while (s != null) { out += s; s = closedQueue.poll() }
    out.toSeq
  }

  /** Staging dir of one batch; tasks of a staging job write under it. */
  def stagingDir(queryId: String, batchId: Long): String =
    RotatingSegmentSink.stagingDir(baseDir, queryId, batchId)

  private def marker(queryId: String, batchId: Long) =
    new Path(s"$baseDir/_epochs/$queryId/e$batchId")

  /** The one commit routine: make a staged batch visible in the open
    * segment exactly once. Returns per-table rows and bytes, or None
    * when the batch's marker exists (a replay: its staging is
    * discarded). A failed rename throws before the marker, leaving the
    * batch to its replay. */
  def commit(queryId: String, batchId: Long,
      messages: Seq[SegmentCommitMessage]): Option[Map[String, TableStats]] =
    synchronized {
      recoverOnce()
      val mk = marker(queryId, batchId)
      val staging = new Path(stagingDir(queryId, batchId))
      if (fs.exists(mk)) {
        fs.delete(staging, true)
        return None
      }
      val parts = for (m <- messages; p <- m.parts if p.rows > 0) yield {
        val dest = new Path(s"$current/${p.table}",
          s"part-$queryId-e$batchId-p${m.partitionId}.parquet")
        fs.mkdirs(dest.getParent)
        fs.delete(dest, false) // a stale part of an earlier attempt
        if (!fs.rename(new Path(p.path), dest))
          throw new java.io.IOException(s"segment sink: rename ${p.path} -> " +
            s"$dest returned false; batch left staged for its replay")
        p
      }
      val stats = parts.groupBy(_.table).map { case (t, ps) =>
        t -> TableStats(ps.map(_.rows).sum, ps.map(_.bytes).sum)
      }
      segBytes += stats.values.map(_.bytes).sum
      tablesWritten ++= stats.keys.toSeq.sorted
      crashPoint(baseDir, "renamed")
      fs.mkdirs(mk.getParent)
      fs.create(mk, true).close()
      crashPoint(baseDir, "marked")
      fs.delete(staging, true)
      Some(stats)
    }

  /** Size/duration rotation check — call after each commit (parity:
    * `shouldRotateFile`, /root/reference/duck.go:536-544 + duration
    * clause duck.go:421-429). A segment with no writes is never closed
    * (its runner would query tables that do not exist); such a check
    * restarts the age clock instead, so a segment's age counts from
    * about its first write. */
  def maybeRotate(): Option[SegmentInfo] = synchronized {
    if (tablesWritten.isEmpty) {
      segStartMs = System.currentTimeMillis()
      None
    } else {
      val ageSec = (System.currentTimeMillis() - segStartMs) / 1000
      if (segBytes / MB >= policy.effectiveThresholdMB ||
          ageSec >= policy.effectiveDurationSec) Some(rotate())
      else None
    }
  }

  /** Force-close the open segment (also used at pipeline shutdown —
    * final path emit parity, duck.go:414-418). */
  def rotate(): SegmentInfo = synchronized {
    recoverOnce()
    val info = close(current, segIndex, tablesWritten.toSeq, segBytes,
      Some(System.currentTimeMillis() - segStartMs))
    segIndex += 1
    segStartMs = System.currentTimeMillis()
    segBytes = 0L
    tablesWritten.clear()
    current = newSegmentPath()
    info
  }

  /** Runner, metrics, announcement and manifest for one segment. */
  private def close(path: String, index: Long, tables: Seq[String],
      bytes: Long, ageMs: Option[Long]): SegmentInfo = {
    val info = SegmentInfo(path, index, Instant.now(), bytes / MB, tables)
    // Per-segment SQL before announcing (Q1 ordering parity: runner
    // fires after writes complete, before rotation announce —
    // /root/reference/duck.go:270-278).
    val t0 = System.nanoTime()
    runner.foreach { r =>
      val errs = r.run(spark, tables.map(t => t -> s"$path/$t").toMap,
        segmentDir = Some(path))
      errs.headOption.foreach(e => metrics.foreach(_.recordError(e)))
      if (r.deleteOnDone) r.deleteSegment(spark, path)
    }
    val t1 = System.nanoTime()
    if (writeManifest) writeManifestRow(info)
    val t2 = System.nanoTime()
    metrics.foreach { m =>
      m.filesClosed.incrementAndGet()
      m.filesMB.addAndGet(info.sizeMB)
      ageMs.foreach(m.recordFileDuration)
      m.recordRotation(runnerNs = t1 - t0, manifestNs = t2 - t1)
    }
    closedQueue.add(info)
    info
  }

  private def manifestFile(segment: String) =
    new Path(manifestDir, new Path(segment).getName + ".parquet")

  /** One parquet row per segment, written on the driver (no job),
    * staged under a hidden name and renamed into place. */
  private def writeManifestRow(info: SegmentInfo): Unit = {
    import org.apache.spark.unsafe.types.UTF8String.fromString
    val dest = manifestFile(info.path)
    val tmp = new Path(manifestDir, s".${dest.getName}.tmp")
    val w = ParquetBridge.writer(tmp.toString, ManifestSchema,
      spark.sparkContext.hadoopConfiguration)
    try w.write(InternalRow(fromString(info.path), info.index,
      fromString(info.closedAt.toString), info.sizeMB,
      fromString(info.tables.mkString(","))))
    finally w.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"segment sink: rename $tmp -> $dest returned false")
  }

  private def recoverOnce(): Unit =
    if (!recovered) {
      recovered = true
      if (writeManifest) recover()
    }

  /** Close the segments a crashed run left open — see the class doc. */
  private def recover(): Unit = if (fs.exists(new Path(baseDir))) {
    val manifested =
      if (!fs.exists(manifestDir)) Set.empty[String]
      else fs.listStatus(manifestDir).map(_.getPath.getName).toSet
    if (manifested.exists(_.startsWith("part-")))
      throw new IllegalStateException(s"segment sink: $manifestDir was " +
        "written before the one-file-per-segment manifest layout; write " +
        "to a fresh directory")
    def ls(p: Path) = fs.listStatus(p).filterNot(f => hidden(f.getPath.getName))
    ls(new Path(baseDir)).map(_.getPath.getName).sorted
      .filter(n => n.startsWith(prefix + "_") && n != new Path(current).getName &&
        !manifested.contains(n + ".parquet"))
      .foreach { name =>
        val seg = s"$baseDir/$name"
        val kept = ls(new Path(seg)).filter(_.isDirectory).map { t =>
          t.getPath.getName -> ls(t.getPath).filter { f =>
            f.getPath.getName match {
              case PartName(q, e) if !fs.exists(marker(q, e.toLong)) =>
                fs.delete(f.getPath, false); false
              case n => n.endsWith(".parquet")
            }
          }
        }.filter(_._2.nonEmpty)
        if (kept.nonEmpty)
          close(seg, name.drop(name.lastIndexOf('_') + 1).toLongOption.getOrElse(0L),
            kept.map(_._1).sorted.toSeq, kept.flatMap(_._2).map(_.getLen).sum, None)
      }
  }
}

object RotatingSegmentSink {
  private val MB = 1024L * 1024L
  private val PartName = """part-(.+)-e(\d+)-p\d+\.parquet""".r
  private def hidden(name: String) = name.startsWith("_") || name.startsWith(".")

  private val ManifestSchema = StructType.fromDDL(
    "path STRING, seg_index BIGINT, closed_at STRING, size_mb BIGINT, tables STRING")

  def stagingDir(baseDir: String, queryId: String, batchId: Long): String =
    s"$baseDir/.staging/$queryId-e$batchId"

  private val sinkIds = new java.util.concurrent.atomic.AtomicLong(0)
  /** Monotone per-JVM sink token — see the segment-path comment. */
  private def nextSinkId(): Long = sinkIds.incrementAndGet()

  /** Test-only crash injection: `baseDir -> point`. The commit of that
    * sink throws [[SimulatedCrash]] once at the named point:
    * `"renamed"` (parts in place, no marker) or `"marked"` (marker
    * written, the engine's commit-log entry not yet). */
  private[graft] val crashAt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def crashPoint(baseDir: String, point: String): Unit =
    if (crashAt.remove(baseDir, point)) throw new SimulatedCrash(point)

  final class SimulatedCrash(point: String)
      extends RuntimeException(s"simulated crash at $point")
}

/** One appender task: streams rows of each logical table into its own
  * staged parquet part file (Spark's `ParquetWriteSupport`, via
  * [[ParquetBridge]], byte-compatible with `df.write.parquet`). A file
  * is created on a table's first row, so empty tables and partitions
  * cost nothing (the reference's appenders also no-op on empty
  * batches). As a DSv2 `DataWriter` it writes table 0. */
private[graft] final class SegmentDataWriter(stagingDir: String,
    partitionId: Int, taskId: Long, tables: Seq[(String, StructType)],
    conf: Configuration) extends DataWriter[InternalRow] {

  private val writers = new Array[ParquetOutputWriter](tables.length)
  private val rows = new Array[Long](tables.length)
  private def path(t: Int) =
    s"$stagingDir/${tables(t)._1}/p$partitionId-t$taskId.parquet"

  def write(t: Int, row: InternalRow): Unit = {
    if (writers(t) == null)
      writers(t) = ParquetBridge.writer(path(t), tables(t)._2, conf)
    writers(t).write(row)
    rows(t) += 1
  }

  override def write(row: InternalRow): Unit = write(0, row)

  override def commit(): SegmentCommitMessage = {
    val parts = tables.indices.filter(writers(_) != null).map { t =>
      writers(t).close()
      val p = new Path(path(t))
      StagedPart(tables(t)._1, path(t), rows(t),
        p.getFileSystem(conf).getFileStatus(p).getLen)
    }
    SegmentCommitMessage(partitionId, parts)
  }

  override def abort(): Unit =
    tables.indices.filter(writers(_) != null).foreach { t =>
      writers(t).close()
      val p = new Path(path(t))
      p.getFileSystem(conf).delete(p, false)
    }

  override def close(): Unit = ()
}

object SegmentDataWriter {

  /** Stage `df` in one Spark job: each column is one logical table,
    * named by the column. A struct column is one row of its table; an
    * array-of-struct column is any number of rows (a NULL cell is
    * none). Runs as a SQL execution, so `df`'s observed metrics are
    * complete when it returns. */
  def stage(df: DataFrame, stagingDir: String): Seq[SegmentCommitMessage] = {
    val fields = df.schema.fields.toIndexedSeq
    val tables = fields.map { f =>
      f.name -> (f.dataType match {
        case s: StructType => s
        case ArrayType(s: StructType, _) => s
        case other => throw new IllegalArgumentException(
          s"segment table ${f.name}: ${other.simpleString} is not a row or rows")
      })
    }
    val fanOut = fields.map(_.dataType.isInstanceOf[ArrayType]).toArray
    val widths = tables.map(_._2.length).toArray
    val conf = new SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft segment stage")) {
      df.sparkSession.sparkContext.runJob(qe.toRdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) => {
          val w = new SegmentDataWriter(stagingDir, ctx.partitionId(),
            ctx.taskAttemptId(), tables, conf.value)
          try {
            it.foreach { row =>
              var c = 0
              while (c < widths.length) {
                if (!row.isNullAt(c)) {
                  if (fanOut(c)) {
                    val a = row.getArray(c)
                    var i = 0
                    while (i < a.numElements()) {
                      w.write(c, a.getStruct(i, widths(c))); i += 1
                    }
                  } else w.write(c, row.getStruct(c, widths(c)))
                }
                c += 1
              }
            }
            w.commit()
          } catch { case t: Throwable => w.abort(); throw t }
        }).toSeq
    }
  }
}
