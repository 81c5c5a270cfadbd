package graft.sink

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter
import org.apache.spark.sql.graftbridge.ParquetBridge
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.fs.NioLocalFileSystem
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

/** What one task of a staging job reports to the driver's commit:
  * its parts and, from [[SegmentDataWriter.stage]], the task's time
  * split into pulling its input rows (the upstream plan: decode,
  * normalize, routing) and writing them (the parquet writers, their
  * close included). */
final case class SegmentCommitMessage(partitionId: Int,
    parts: Seq[StagedPart], pullNs: Long = 0L, writeNs: Long = 0L)
    extends WriterCommitMessage

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
  * listing per batch); size and age decide rotation. A rotation hands
  * the segment to a background close and opens the next segment at
  * once, so the batch that crossed the threshold and the batches after
  * it commit while the segment's SQL runs. The close — the one close
  * routine — runs the segment runner against the closed segment, then
  * writes its `_manifest` entry (one parquet file per segment, named
  * after it, so closing a segment twice lists it once), prunes the
  * epoch markers that can no longer match a replay, records metrics
  * and announces the segment on the path queue (Q1 ordering parity:
  * the runner fires after the segment's writes complete and before its
  * announcement, duck.go:270-278).
  *
  * At most one close is in flight per sink, on a daemon thread of its
  * own; closes finish in rotation order. The next rotation waits for
  * the close before it, and so do [[finish]] and [[closedSegments]],
  * so when the runner is slower than the segments fill up the pace
  * falls back to a synchronous close and memory and disk stay bounded.
  * The close thread inherits no Spark local properties: its jobs carry
  * no streaming query's job group, execution id or batch id, so
  * stopping the query does not cancel them. Runner errors are recorded
  * in the metrics; any other failure of a close (the manifest write) is
  * recorded and rethrown once, by the next commit, rotation or
  * [[finish]]. The failed segment stays this sink's to close: the next
  * rotation or [[finish]] runs its close again before any other, so no
  * close prunes markers while an earlier segment lacks its manifest
  * entry (a later recovery would delete the parts of such a segment).
  *
  * The Hadoop conf is built once per sink from the session (so
  * session-set options such as `fs.<scheme>.impl` reach the sink) and
  * broadcast once for the staging tasks. Unless the session names its
  * own, its `file:` filesystem is [[graft.fs.NioLocalFileSystem]], so
  * local parts, markers and manifest files fork no `chmod`.
  *
  * Crash recovery (one writer per `baseDir`): the first commit or
  * close of a sink waits for any close in flight on the same dir in
  * this JVM, then looks for segment dirs without a manifest entry. It
  * deletes their parts whose marker is missing — a batch that crashed
  * before its marker, which the engine replays — and closes each dir
  * that still holds rows through the close routine. A segment whose
  * close was in flight at a crash has no manifest entry, so it is
  * closed here.
  *
  * Reading: the manifest is the read contract. Read it by the glob of
  * its files, `*.parquet` inside `<baseDir>/_manifest`: Spark treats a
  * path whose last name starts with `_` as hidden, so reading the
  * `_manifest` dir itself logs `All paths were ignored` (the rows come
  * back all the same).
  */
final class RotatingSegmentSink(
    spark: SparkSession,
    baseDir: String,
    prefix: String = "seg",
    policy: RotationPolicy = RotationPolicy(),
    runner: Option[SegmentRunner] = None,
    metrics: Option[PipelineMetrics] = None) {
  import RotatingSegmentSink._

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss")
    .withZone(ZoneOffset.UTC)
  private val hadoopConf =
    NioLocalFileSystem.install(spark.sessionState.newHadoopConf())
  /** The sink's Hadoop conf for its staging tasks, broadcast once. */
  private[graft] val taskConf: Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
  private val fs: FileSystem = new Path(baseDir).getFileSystem(hadoopConf)
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
  // latest batch per query id committed into the open segment, for the
  // marker pruning of its close (ids whose markers are kept excluded)
  private val segEpochs = scala.collection.mutable.Map[String, Long]()
  // the last close that failed: it runs again before any later close
  private val failed = new AtomicReference[FailedClose]()

  private def newSegmentPath(): String = {
    def at(i: Long) =
      s"$baseDir/${prefix}_${fmt.format(Instant.now())}_s${sinkId}_$i"
    while (fs.exists(new Path(at(segIndex)))) segIndex += 1
    at(segIndex)
  }

  /** Drain closed-segment announcements (DuckPaths parity), after
    * waiting for the close in flight. */
  def closedSegments(): Seq[SegmentInfo] = {
    awaitClose()
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
    * batch to its replay. `keepMarkers` is for a caller that may repeat
    * any earlier batch id (not a streaming query, which never re-runs a
    * batch once the next one has started): its markers are never
    * pruned. */
  def commit(queryId: String, batchId: Long,
      messages: Seq[SegmentCommitMessage],
      keepMarkers: Boolean = false): Option[Map[String, TableStats]] =
    synchronized {
      rethrowCloseFailure()
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
      if (!keepMarkers)
        segEpochs(queryId) = math.max(batchId, segEpochs.getOrElse(queryId, batchId))
      fs.delete(staging, true)
      Some(stats)
    }

  /** Size/duration rotation check — call after each commit (parity:
    * `shouldRotateFile`, /root/reference/duck.go:536-544 + duration
    * clause duck.go:421-429). A segment with no writes is never closed
    * (its runner would query tables that do not exist); such a check
    * restarts the age clock instead, so a segment's age counts from
    * about its first write. A rotation hands the segment to the
    * background close (waiting for the close before it) and returns. */
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

  /** Close the open segment if it holds rows (the final partial
    * segment emit at shutdown, duck.go:414-418) and wait for every
    * close; rethrows a failed close. */
  def finish(): Option[SegmentInfo] = synchronized {
    recoverOnce()
    val info = if (tablesWritten.nonEmpty) Some(rotate()) else {
      settle("finish()"); None
    }
    awaitClose()
    rethrowCloseFailure()
    info
  }

  /** Wait for the close in flight, if any, and rethrow its failure —
    * the DSv2 commit's wait for the close it started. */
  private[sink] def awaitClosed(): Unit = { awaitClose(); rethrowCloseFailure() }

  private def rotate(): SegmentInfo = {
    val info = SegmentInfo(current, segIndex, Instant.now(), segBytes / MB,
      tablesWritten.toSeq)
    startClose(Close(info, Some(System.currentTimeMillis() - segStartMs),
      segEpochs.toMap))
    segIndex += 1
    segStartMs = System.currentTimeMillis()
    segBytes = 0L
    tablesWritten.clear()
    segEpochs.clear()
    current = newSegmentPath()
    info
  }

  /** Hand one segment to the background close, once every earlier
    * close of this sink succeeded (see [[settle]]). */
  private def startClose(c: Close): Unit = {
    settle(s"the close of ${new Path(c.info.path).getName}")
    spawn(c)
  }

  /** Wait for the close in flight and rethrow its failure, then run a
    * failed close (already rethrown) again and wait for it. So a close
    * never starts, and never prunes markers, while an earlier segment
    * of this sink lacks its manifest entry; a failed segment stays
    * this sink's to close, as the open segment does. */
  private def settle(waiter: String): Unit = {
    def await(): Unit = {
      val ns = awaitClose()
      if (ns > 0) {
        countWait(ns)
        log.info(f"segment sink $baseDir: $waiter waited ${ns / 1e6}%.0f ms " +
          "for the close before it")
      }
      rethrowCloseFailure()
    }
    await()
    Option(failed.getAndSet(null)).foreach { f => spawn(f.close); await() }
  }

  /** Start `c` on a close thread of its own. */
  private def spawn(c: Close): Unit = {
    // no inherited thread-locals: a thread started inside a micro-batch
    // would carry its job group, query id, batch id and execution id
    val t = new Thread(null, () => close(c),
      s"graft-segment-close-${new Path(c.info.path).getName}", 0L, false)
    t.setDaemon(true)
    inFlight.put(baseDir, t)
    t.start()
  }

  /** Wait for the dir's close in flight, if any; the nanoseconds
    * waited. */
  private def awaitClose(): Long = Option(inFlight.get(baseDir)).fold(0L) { t =>
    val t0 = System.nanoTime()
    t.join()
    System.nanoTime() - t0
  }

  private def countWait(ns: Long): Unit = metrics.foreach(_.recordCloseWait(ns))

  /** Rethrow a failed close once; it stays queued for [[settle]]. */
  private def rethrowCloseFailure(): Unit =
    Option(failed.get()).filterNot(_.rethrown).foreach { f =>
      f.rethrown = true
      throw new java.io.IOException(s"segment sink: closing ${f.close.info.path} " +
        "failed; the next rotation or finish() closes it again", f.cause)
    }

  /** The one close routine, on the close thread: runner, manifest,
    * marker pruning, metrics, announcement. */
  private def close(c: Close): Unit = {
    val info = c.info
    try {
      spark.sparkContext.setJobDescription(
        s"graft segment close ${new Path(info.path).getName}")
      crashPoint(baseDir, "closing")
      val t0 = System.nanoTime()
      runner.foreach { r =>
        val errs = r.run(spark, info.tables.map(t => t -> s"${info.path}/$t").toMap,
          segmentDir = Some(info.path))
        errs.headOption.foreach(e => metrics.foreach(_.recordError(e)))
        if (r.deleteOnDone) r.deleteSegment(spark, info.path)
      }
      val t1 = System.nanoTime()
      writeManifestRow(info)
      val t2 = System.nanoTime()
      pruneMarkers(c.epochs)
      metrics.foreach { m =>
        m.filesClosed.incrementAndGet()
        m.filesMB.addAndGet(info.sizeMB)
        c.ageMs.foreach(m.recordFileDuration)
        m.recordRotation(runnerNs = t1 - t0, manifestNs = t2 - t1)
      }
      closedQueue.add(info)
    } catch {
      case t: Throwable =>
        metrics.foreach(_.recordError(t))
        failed.set(new FailedClose(c, t))
    } finally inFlight.remove(baseDir, Thread.currentThread())
  }

  /** Delete each query's markers below its latest batch in the closed
    * segment minus one: the engine never re-runs a batch once the next
    * one has started. */
  private def pruneMarkers(epochs: Map[String, Long]): Unit =
    epochs.foreach { case (queryId, latest) =>
      val dir = new Path(s"$baseDir/_epochs/$queryId")
      if (fs.exists(dir)) fs.listStatus(dir).foreach { f =>
        f.getPath.getName match {
          case MarkerName(e) if e.toLong < latest - 1 => fs.delete(f.getPath, false)
          case _ =>
        }
      }
    }

  private def manifestFile(segment: String) =
    new Path(manifestDir, new Path(segment).getName + ".parquet")

  /** One parquet row per segment, written on the driver (no job),
    * staged under a hidden name and renamed into place. */
  private def writeManifestRow(info: SegmentInfo): Unit = {
    import org.apache.spark.unsafe.types.UTF8String.fromString
    val dest = manifestFile(info.path)
    val tmp = new Path(manifestDir, s".${dest.getName}.tmp")
    val w = ParquetBridge.writer(tmp.toString, ManifestSchema, hadoopConf)
    try w.write(InternalRow(fromString(info.path), info.index,
      fromString(info.closedAt.toString), info.sizeMB,
      fromString(info.tables.mkString(","))))
    finally w.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"segment sink: rename $tmp -> $dest returned false")
  }

  /** Recover once; a recovery cut short by a failed close starts over
    * at the next call, after that close ran again. */
  private def recoverOnce(): Unit =
    if (!recovered) {
      recover()
      recovered = true
    }

  /** Close the segments a crashed run left open — see the class doc. */
  private def recover(): Unit = {
    settle("recovery")
    if (fs.exists(new Path(baseDir))) {
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
            startClose(Close(SegmentInfo(seg,
              name.drop(name.lastIndexOf('_') + 1).toLongOption.getOrElse(0L),
              Instant.now(), kept.flatMap(_._2).map(_.getLen).sum / MB,
              kept.map(_._1).sorted.toSeq), None, Map.empty))
        }
    }
  }
}

object RotatingSegmentSink {
  private val MB = 1024L * 1024L
  private val PartName = """part-(.+)-e(\d+)-p\d+\.parquet""".r
  private val MarkerName = """e(\d+)""".r
  private def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[RotatingSegmentSink])

  private val ManifestSchema = StructType.fromDDL(
    "path STRING, seg_index BIGINT, closed_at STRING, size_mb BIGINT, tables STRING")

  def stagingDir(baseDir: String, queryId: String, batchId: Long): String =
    s"$baseDir/.staging/$queryId-e$batchId"

  private val sinkIds = new java.util.concurrent.atomic.AtomicLong(0)
  /** Monotone per-JVM sink token — see the segment-path comment. */
  private def nextSinkId(): Long = sinkIds.incrementAndGet()

  /** The close in flight per base dir in this JVM — the one record of
    * it. A sink's waits join it, and so does a new sink's recovery, so
    * an abandoned sink's close and the recovery never both close one
    * segment. */
  private val inFlight = new ConcurrentHashMap[String, Thread]()

  /** One close's work: the segment, its age at the handoff (none for a
    * recovered segment) and the latest batch per query id in it, for
    * the marker pruning. */
  private final case class Close(info: SegmentInfo, ageMs: Option[Long],
      epochs: Map[String, Long])

  /** A close that failed; `rethrown` once a caller has thrown it. */
  private final class FailedClose(val close: Close, val cause: Throwable) {
    @volatile var rethrown = false
  }

  /** Test-only crash injection: `baseDir -> point`. That sink throws
    * [[SimulatedCrash]] once at the named point: in the commit,
    * `"renamed"` (parts in place, no marker) or `"marked"` (marker
    * written, the engine's commit-log entry not yet); on the close
    * thread, `"closing"` (segment handed off, runner and manifest not
    * yet run). */
  private[graft] val crashAt = new ConcurrentHashMap[String, String]()
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
    * complete when it returns. `conf` is the sink's broadcast Hadoop
    * conf ([[RotatingSegmentSink.taskConf]]). */
  def stage(df: DataFrame, stagingDir: String,
      conf: Broadcast[SerializableConfiguration]): Seq[SegmentCommitMessage] = {
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
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft segment stage")) {
      df.sparkSession.sparkContext.runJob(qe.toRdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) => {
          val w = new SegmentDataWriter(stagingDir, ctx.partitionId(),
            ctx.taskAttemptId(), tables, conf.value.value)
          try {
            // two clock reads per input row, around its writes; the
            // rest of the loop is the pull of the rows
            val start = System.nanoTime()
            var writeNs = 0L
            it.foreach { row =>
              val t = System.nanoTime()
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
              writeNs += System.nanoTime() - t
            }
            val t = System.nanoTime()
            val m = w.commit()
            val end = System.nanoTime()
            writeNs += end - t
            m.copy(pullNs = end - start - writeNs, writeNs = writeNs)
          } catch { case t: Throwable => w.abort(); throw t }
        }).toSeq
    }
  }
}
