package graft.sink

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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

/** K1+K2+K3+K4 — rotating columnar segment sink.
  *
  * The reference bulk-appends Arrow batches into a DuckDB file and
  * rotates the file on estimated size/age
  * (/root/reference/duck.go:252-295,431-546). Spark-native: each
  * logical table appends parquet under an epoch-stamped segment dir
  * `prefix_yyyy-MM-dd_HH-mm-ss_s<sinkId>_N/` (naming parity:
  * duck.go:227-237; the sink token disambiguates restarts — see the
  * field comment);
  * after each micro-batch the dir size (FileSystem.getContentSummary ≈
  * the reference's pragma_database_size probe, duck.go:564-593) and
  * age decide rotation. On rotation: the segment runner executes its
  * SQL against the closed segment, the segment is announced on the
  * path queue + appended to the `_manifest` parquet table (driver-held
  * lists don't scale; external consumers read the manifest).
  *
  * Scale: writes are `df.write.mode(Append).parquet` — executor-parallel
  * columnar writes, no driver data movement; rotation bookkeeping is
  * metadata-only.
  */
final class RotatingSegmentSink(
    spark: SparkSession,
    baseDir: String,
    prefix: String = "seg",
    policy: RotationPolicy = RotationPolicy(),
    runner: Option[SegmentRunner] = None,
    metrics: Option[PipelineMetrics] = None,
    writeManifest: Boolean = true) {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss")
    .withZone(ZoneOffset.UTC)
  private val segIndex = new AtomicLong(0)
  private val segStartMs = new AtomicLong(System.currentTimeMillis())
  // JVM-unique sink token in every segment path: a RESTARTED pipeline
  // builds a fresh sink whose segIndex restarts at 0, and the
  // timestamp half is second-granular — close-then-restart inside one
  // second made the new sink APPEND into the old segment dir, so the
  // manifest listed one path twice and readers double-counted
  // (caught as a parallel-suite flake, round 12). Concurrent drivers
  // sharing one outputDir across JVMs remain the caller's contract.
  private val sinkId = RotatingSegmentSink.nextSinkId()
  private val current = new AtomicReference[String](newSegmentPath())
  private val closedQueue = new ConcurrentLinkedQueue[SegmentInfo]()
  private val tablesWritten =
    scala.collection.mutable.LinkedHashSet[String]()

  private def newSegmentPath(): String =
    s"$baseDir/${prefix}_${fmt.format(Instant.now())}_s${sinkId}" +
      s"_${segIndex.get}"

  /** Current open segment directory. */
  def currentSegment: String = current.get()

  /** Whether the open segment has received any writes. */
  def hasPendingWrites: Boolean =
    tablesWritten.synchronized { tablesWritten.nonEmpty }

  /** Drain closed-segment announcements (DuckPaths parity). */
  def closedSegments(): Seq[SegmentInfo] = {
    val out = scala.collection.mutable.Buffer[SegmentInfo]()
    var s = closedQueue.poll()
    while (s != null) { out += s; s = closedQueue.poll() }
    out.toSeq
  }

  /** Bookkeeping for rows an EXTERNAL writer placed into the open
    * segment (the DSv2 streaming write path,
    * [[SegmentWriteProvider]]) — [[append]]'s table tracking without
    * the write itself, so rotation announces the right tables. */
  def noteExternalAppend(table: String): Unit =
    tablesWritten.synchronized { tablesWritten += table }

  /** Append one logical table's micro-batch into the open segment. */
  def append(table: String, df: DataFrame): Long = {
    val n = df.count()
    if (n > 0) {
      df.write.mode(SaveMode.Append)
        .parquet(s"${current.get()}/$table")
      tablesWritten.synchronized { tablesWritten += table }
    }
    n
  }

  private def dirSizeMB(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.getContentSummary(p).getLength / (1024 * 1024)
  }

  /** Size/duration rotation check — call after each micro-batch
    * (parity: `shouldRotateFile`, /root/reference/duck.go:536-544 +
    * duration clause duck.go:421-429). A segment with no writes is
    * never closed (the [[graft.pipeline.Pipeline.close]] guard): its
    * runner would query tables that do not exist. Such a check
    * restarts the age clock instead, so a segment's age counts from
    * about its first write. */
  def maybeRotate(): Option[SegmentInfo] = {
    if (!hasPendingWrites) {
      segStartMs.set(System.currentTimeMillis())
      return None
    }
    val ageSec = (System.currentTimeMillis() - segStartMs.get) / 1000
    val size = dirSizeMB(current.get())
    if (size >= policy.effectiveThresholdMB ||
        ageSec >= policy.effectiveDurationSec) Some(rotate())
    else None
  }

  /** Force-close the open segment (also used at pipeline shutdown —
    * final path emit parity, duck.go:414-418). */
  def rotate(): SegmentInfo = synchronized {
    val closingPath = current.get()
    val tables = tablesWritten.toSeq
    val sizeMB = dirSizeMB(closingPath)
    val info = SegmentInfo(closingPath, segIndex.get, Instant.now(),
      sizeMB, tables)

    // Per-segment SQL before announcing (Q1 ordering parity:
    // runner fires after writes complete, before rotation announce —
    // /root/reference/duck.go:270-278).
    runner.foreach { r =>
      val tableDirs = tables.map(t => t -> s"$closingPath/$t").toMap
      val errs = r.run(spark, tableDirs, segmentDir = Some(closingPath))
      errs.headOption.foreach(e => metrics.foreach(_.recordError(e)))
      if (r.deleteOnDone) r.deleteSegment(spark, closingPath)
    }

    metrics.foreach { m =>
      m.filesClosed.incrementAndGet()
      m.filesMB.addAndGet(sizeMB)
      m.recordFileDuration(System.currentTimeMillis() - segStartMs.get)
    }
    closedQueue.add(info)
    if (writeManifest) {
      import spark.implicits._
      Seq((info.path, info.index, info.closedAt.toString, info.sizeMB,
        info.tables.mkString(",")))
        .toDF("path", "seg_index", "closed_at", "size_mb", "tables")
        .write.mode(SaveMode.Append).parquet(s"$baseDir/_manifest")
    }

    segIndex.incrementAndGet()
    segStartMs.set(System.currentTimeMillis())
    tablesWritten.synchronized { tablesWritten.clear() }
    current.set(newSegmentPath())
    info
  }
}

object RotatingSegmentSink {
  private val sinkIds = new AtomicLong(0)
  /** Monotone per-JVM sink token — see the segment-path comment. */
  private def nextSinkId(): Long = sinkIds.incrementAndGet()
}
