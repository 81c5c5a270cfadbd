package graft.pipeline

import java.time.{Duration, Instant}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import graft.sink.TableStats

/** Pipeline metrics — parity with the reference's `Metrics` /
  * `MetricsReport` (/root/reference/metrics.go:15-51, 259-282): same
  * counter set (consumed / processed / inserted / norm / custom /
  * bytes), same JSON report field names, same human formatting
  * (underscore-grouped counts, byte units, Go-style durations —
  * /root/reference/util.go:9-56).
  */
final class PipelineMetrics(
    val kafkaClients: Int = 1,
    val kafkaQueueCap: Int = 122880,
    val processorRoutines: Int = Runtime.getRuntime.availableProcessors(),
    val arrowQueueCap: Int = 4,
    val thresholdMB: Long = 100,
    val duckConnections: Int = 1,
    val normalizerFields: Option[Int] = None,
    val customArrows: Option[Int] = None) {

  val messagesConsumed = new AtomicLong
  val recordsProcessed = new AtomicLong
  val recordsInserted = new AtomicLong
  val normRecordsInserted = new AtomicLong
  val customRecordsInserted = new AtomicLong
  val bytesProcessed = new AtomicLong
  val decodeErrors = new AtomicLong
  val catchUpSkips = new AtomicLong
  val filesClosed = new AtomicLong
  val filesMB = new AtomicLong
  private val fileDurationsMs = new ConcurrentLinkedQueue[Long]()

  // ---- micro-batch lag telemetry (queue-depth parity: the reference
  // samples channel-depth high-water marks every 30 s,
  // /root/reference/metrics.go:127-135; the Spark analog of "how full
  // is the queue" is per-trigger input volume and trigger latency
  // from StreamingQueryProgress) ----
  val maxBatchRows = new AtomicLong // maxMChanLen analog
  // queue-depth high-water from sources that report `behindRecords`
  // through ReportsSourceMetrics (graft-binqueue; the Kafka connector
  // reports its own lag family) — the reference's channel-depth
  // high-water (metrics.go:127-135) observed at the source boundary
  val maxQueueBehind = new AtomicLong(-1L) // -1 = never observed
  private var lastQueueBehind: Long = -1
  private var lastBatchId: Long = -1
  private var lastBatchDurMs: Long = -1
  private var lastInputRps: Double = 0.0
  private var lastProcRps: Double = 0.0

  /** Fold one progress event in. Idempotent under replay: the
    * high-water max absorbs duplicates and "last" fields only advance
    * with the (monotone) batch id — so a close-time drain of
    * `recentProgress` after live listener events cannot double-count,
    * and an out-of-order listener delivery cannot roll "last"
    * backwards. Synchronized: listener bus and close() both write. */
  def recordProgress(
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    recordBatch(p.batchId, p.numInputRows, p.batchDuration,
      p.inputRowsPerSecond, p.processedRowsPerSecond)
    // ALL sources, not just the first (review finding: in a union
    // query the binqueue source may not be sources[0]); multiple
    // reporting sources fold as a SUM — total records the query is
    // behind across its inputs
    val behinds = p.sources.toSeq
      .flatMap(s => Option(s.metrics.get("behindRecords")))
      .map(_.toLong)
    if (behinds.nonEmpty) {
      val b = behinds.sum
      maxQueueBehind.getAndUpdate(c => math.max(c, b))
      synchronized { if (p.batchId >= lastBatchId) lastQueueBehind = b }
    }
  }

  private[pipeline] def recordBatch(batchId: Long, numInputRows: Long,
      durationMs: Long, inputRps: Double,
      procRps: Double): Unit = synchronized {
    maxBatchRows.getAndUpdate(c => math.max(c, numInputRows))
    if (batchId >= lastBatchId) {
      lastBatchId = batchId
      lastBatchDurMs = math.max(0L, durationMs)
      if (!inputRps.isNaN && !inputRps.isInfinite) lastInputRps = inputRps
      if (!procRps.isNaN && !procRps.isInfinite) lastProcRps = procRps
    }
  }

  // ---- per-batch phases and per-table totals, from the commit
  // messages (ingest split into decode-and-write, commit, rotate
  // check, runner and manifest), and the waits for a segment close ----
  private val Phases = Seq("decode_write", "commit", "rotate_check",
    "runner", "manifest")
  private val lastPhaseNs = new Array[Long](Phases.length)
  private val totalPhaseNs = new Array[Long](Phases.length)
  // the staging tasks' time, summed over a batch's tasks: rows pulled
  // (decode, normalize, routing) and parquet writes
  private val StageParts = Seq("rows_pulled", "parquet_write")
  private val lastStageNs = new Array[Long](StageParts.length)
  private val totalStageNs = new Array[Long](StageParts.length)
  private var batchesCommitted = 0L
  private var closeWaitNs = 0L
  private val runnerCloseNs = scala.collection.mutable.Queue[Long]() // last 100
  private val tableTotals =
    scala.collection.mutable.LinkedHashMap[String, TableStats]()

  private def addPhase(i: Int, ns: Long): Unit = {
    lastPhaseNs(i) = ns; totalPhaseNs(i) += ns
  }

  /** One segment closed, on the sink's close thread: its runner and
    * manifest time ("last" is the last close's). The runner times of
    * the last 100 closes give `runner_close_ms`. */
  def recordRotation(runnerNs: Long, manifestNs: Long): Unit = synchronized {
    addPhase(3, runnerNs); addPhase(4, manifestNs)
    runnerCloseNs.enqueue(runnerNs)
    if (runnerCloseNs.size > 100) runnerCloseNs.dequeue()
  }

  /** A rotation or a pipeline close waited `ns` for an earlier segment
    * close to finish (the runner was slower than the segments filled). */
  def recordCloseWait(ns: Long): Unit = synchronized { closeWaitNs += ns }

  /** One batch through the sink: phase times, its staging tasks' pull
    * and write times, and the committed per-table rows and bytes
    * (empty for a discarded replay). The rotate-check time includes any
    * wait for an earlier close, which `close_wait_ms` also counts. */
  def recordCommit(tables: Map[String, TableStats],
      writeNs: Long, commitNs: Long, rotateNs: Long,
      pullTaskNs: Long, writeTaskNs: Long): Unit = synchronized {
    addPhase(0, writeNs); addPhase(1, commitNs); addPhase(2, rotateNs)
    lastStageNs(0) = pullTaskNs; totalStageNs(0) += pullTaskNs
    lastStageNs(1) = writeTaskNs; totalStageNs(1) += writeTaskNs
    batchesCommitted += 1
    tables.toSeq.sortBy(_._1).foreach { case (t, s) =>
      val prev = tableTotals.getOrElse(t, TableStats(0L, 0L))
      tableTotals(t) = TableStats(prev.rows + s.rows, prev.bytes + s.bytes)
    }
  }

  private def phaseFields: Seq[(String, String)] = synchronized {
    def ms(a: Array[Long], names: Seq[String] = Phases) = names.indices
      .map(i => f""""${names(i)}": ${a(i) / 1e6}%.1f""")
      .mkString("{", ", ", "}")
    def per(f: TableStats => Long) = tableTotals
      .map { case (t, s) => s""""$t": ${f(s)}""" }.mkString("{", ", ", "}")
    // nearest rank over the window of closes
    def pct(sorted: IndexedSeq[Long], p: Double) =
      sorted(math.ceil(p * sorted.length).toInt - 1) / 1e6
    val runner = Option(runnerCloseNs.toIndexedSeq.sorted).filter(_.nonEmpty)
      .map(r => "runner_close_ms" -> (f"""{"p50": ${pct(r, 0.5)}%.1f, """ +
        f""""p99": ${pct(r, 0.99)}%.1f, "closes": ${r.length}}"""))
    if (batchesCommitted == 0) Nil
    else Seq(
      "batches_committed" -> batchesCommitted.toString,
      "last_batch_ms" -> ms(lastPhaseNs),
      "total_batch_ms" -> ms(totalPhaseNs),
      "last_stage_task_ms" -> ms(lastStageNs, StageParts),
      "total_stage_task_ms" -> ms(totalStageNs, StageParts),
      "close_wait_ms" -> f"${closeWaitNs / 1e6}%.1f") ++ runner ++ Seq(
      "table_rows" -> per(_.rows),
      "table_bytes" -> per(_.bytes))
  }

  /** Whether any micro-batch progress has been observed. */
  def hasBatchTelemetry: Boolean = synchronized { lastBatchDurMs >= 0 }

  val startTime: Instant = Instant.now()
  private val endTime = new AtomicReference[Instant](null)
  val firstError = new AtomicReference[Throwable](null)

  def recordError(t: Throwable): Unit = firstError.compareAndSet(null, t)
  def error: Option[Throwable] = Option(firstError.get())
  def markEnd(): Unit = endTime.compareAndSet(null, Instant.now())
  /** Lift the end-time freeze and re-arm batch telemetry (pipeline
    * restart): without a checkpointDir the new streaming query's batch
    * ids restart at 0, which the monotone `batchId >= lastBatchId`
    * guard would otherwise ignore for the whole previous run's span. */
  def clearEnd(): Unit = {
    endTime.set(null)
    synchronized { lastBatchId = -1 }
  }
  def recordFileDuration(ms: Long): Unit = {
    fileDurationsMs.add(ms)
    while (fileDurationsMs.size() > 100) fileDurationsMs.poll() // sliding 100
  }

  // ---- formatting parity (/root/reference/util.go:9-56) ----
  private[pipeline] def groupUnderscore(n: Double): String = {
    val whole = math.floor(math.abs(n)).toLong
    val frac = f"${math.abs(n) - whole}%.2f".drop(1) // ".xx"
    val sign = if (n < 0) "-" else ""
    val grouped = whole.toString.reverse.grouped(3).mkString("_").reverse
    s"$sign$grouped$frac"
  }

  private[pipeline] def humanBytes(b: Long): String = {
    val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
    var v = b.toDouble; var i = 0
    while (v >= 1024 && i < units.length - 1) { v /= 1024; i += 1 }
    f"$v%.2f ${units(i)}"
  }

  private[pipeline] def goDuration(d: Duration): String = {
    val totalMs = d.toMillis
    val h = totalMs / 3600000; val m = (totalMs % 3600000) / 60000
    val s = (totalMs % 60000) / 1000.0
    (if (h > 0) s"${h}h" else "") + (if (m > 0 || h > 0) s"${m}m" else "") +
      f"$s%.3fs"
  }

  /** JSON report with the reference's exact field names
    * (/root/reference/metrics.go:259-282, README.md:151-173). */
  def report(): String = {
    val end = Option(endTime.get()).getOrElse(Instant.now())
    val dur = Duration.between(startTime, end)
    val secs = math.max(dur.toMillis / 1000.0, 1e-9)
    val totalRows = recordsInserted.get + normRecordsInserted.get +
      customRecordsInserted.get
    val fields = Seq(
      "num_cpu" -> Runtime.getRuntime.availableProcessors().toString,
      "runtime_os" -> ("\"" + sys.props.getOrElse("os.name", "?")
        .toLowerCase + "\""),
      "kafka_clients" -> kafkaClients.toString,
      "kafka_queue_cap" -> kafkaQueueCap.toString,
      "processor_routines" -> processorRoutines.toString,
      "arrow_queue_cap" -> arrowQueueCap.toString,
      "duckdb_threshold_mb" -> thresholdMB.toString,
      "duckdb_connections" -> duckConnections.toString) ++
      customArrows.map(n => "custom_arrows" -> n.toString) ++
      normalizerFields.map(n => "normalizer_fields" -> n.toString) ++ Seq(
      "start_time" -> ("\"" + startTime.toString + "\""),
      "end_time" -> ("\"" + end.toString + "\""),
      "records" -> ("\"" + groupUnderscore(recordsProcessed.get.toDouble) + "\""),
      "norm_records" -> ("\"" + groupUnderscore(normRecordsInserted.get.toDouble) + "\""),
      "data_transferred" -> ("\"" + humanBytes(bytesProcessed.get) + "\""),
      "duration" -> ("\"" + goDuration(dur) + "\""),
      "records_per_second" -> ("\"" + groupUnderscore(recordsProcessed.get / secs) + "\""),
      "total_rows_per_second" -> ("\"" + groupUnderscore(totalRows / secs) + "\""),
      "transfer_rate" -> ("\"" + f"${bytesProcessed.get / secs / 1048576}%.2f MB/second" + "\""),
      "duckdb_files" -> filesClosed.get.toString,
      "duckdb_files_MB" -> filesMB.get.toString) ++ synchronized {
        if (lastBatchDurMs < 0) Nil
        else Seq(
          "max_batch_rows" -> maxBatchRows.get.toString,
          "last_batch_duration_ms" -> lastBatchDurMs.toString,
          "last_batch_input_rps" ->
            ("\"" + groupUnderscore(lastInputRps) + "\""),
          "last_batch_processed_rps" ->
            ("\"" + groupUnderscore(lastProcRps) + "\""))
      } ++ synchronized {
        if (lastQueueBehind < 0) Nil
        else Seq(
          "max_queue_behind_records" -> maxQueueBehind.get.toString,
          "last_queue_behind_records" -> lastQueueBehind.toString)
      } ++ {
        val ds = {
          val it = fileDurationsMs.iterator(); var n = 0; var sum = 0L
          while (it.hasNext) { sum += it.next(); n += 1 }
          if (n == 0) None else Some(sum.toDouble / n)
        }
        ds.map(avg => "file_avg_duration" ->
          ("\"" + goDuration(Duration.ofMillis(avg.toLong)) + "\""))
      } ++ phaseFields
    fields.map { case (k, v) => s""""$k": $v""" }
      .mkString("{\n  ", ",\n  ", "\n}")
  }

  /** One-line JSONL variant (parity: `ReportJSONL`,
    * /root/reference/metrics.go:182-200). */
  def reportJsonl(): String = report().replaceAll("\n\\s*", " ")

  /** Conservation check (the reference's de-facto correctness bar,
    * SURVEY.md §5): consumed = processed + errors + skips. */
  def conservationHolds: Boolean =
    messagesConsumed.get == recordsProcessed.get + decodeErrors.get +
      catchUpSkips.get

  // ---- benchmark sampler (parity: `benchmark(ctx)` 30 s sampling
  // thread + sliding window, /root/reference/metrics.go:101-166) ----

  final case class BenchSample(at: Instant, recordsPerSec: Double,
      totalRowsPerSec: Double, mbPerSec: Double)

  private val samples = new ConcurrentLinkedQueue[BenchSample]()
  private val lastProcessed = new AtomicLong(0)
  private val lastRows = new AtomicLong(0)
  private val lastBytes = new AtomicLong(0)
  @volatile private var sampler:
    Option[java.util.concurrent.ScheduledExecutorService] = None

  def sample(intervalSec: Double): BenchSample = {
    val p = recordsProcessed.get
    val rows = recordsInserted.get + normRecordsInserted.get +
      customRecordsInserted.get
    val b = bytesProcessed.get
    val s = BenchSample(Instant.now(),
      (p - lastProcessed.getAndSet(p)) / intervalSec,
      (rows - lastRows.getAndSet(rows)) / intervalSec,
      (b - lastBytes.getAndSet(b)) / intervalSec / 1048576.0)
    samples.add(s)
    while (samples.size() > 100) samples.poll() // sliding window of 100
    s
  }

  /** Zero all counters (parity: the reference auto-resets metrics
    * every 24 h to keep fixed-point throughput math stable,
    * /root/reference/metrics.go:110-121; call from a scheduler if the
    * same behavior is wanted — our doubles don't overflow, so it is
    * opt-in rather than automatic). */
  def reset(): Unit = {
    Seq(messagesConsumed, recordsProcessed, recordsInserted,
      normRecordsInserted, customRecordsInserted, bytesProcessed,
      decodeErrors, catchUpSkips, lastProcessed, lastRows, lastBytes,
      maxBatchRows)
      .foreach(_.set(0))
    maxQueueBehind.set(-1L)
    synchronized {
      lastBatchId = -1; lastBatchDurMs = -1
      lastInputRps = 0.0; lastProcRps = 0.0
      lastQueueBehind = -1
      java.util.Arrays.fill(lastPhaseNs, 0L)
      java.util.Arrays.fill(totalPhaseNs, 0L)
      java.util.Arrays.fill(lastStageNs, 0L)
      java.util.Arrays.fill(totalStageNs, 0L)
      batchesCommitted = 0L; closeWaitNs = 0L
      runnerCloseNs.clear()
      tableTotals.clear()
    }
    samples.clear()
  }

  /** Start the periodic sampler (default 30 s, the reference's
    * window). Daemon thread; call stopBenchmarkSampler() to end. */
  def startBenchmarkSampler(intervalSec: Int = 30): Unit = synchronized {
    if (sampler.isEmpty) {
      val ex = java.util.concurrent.Executors
        .newSingleThreadScheduledExecutor { r =>
          val t = new Thread(r, "graft-bench-sampler")
          t.setDaemon(true); t
        }
      ex.scheduleAtFixedRate(() => sample(intervalSec.toDouble),
        intervalSec.toLong, intervalSec.toLong,
        java.util.concurrent.TimeUnit.SECONDS)
      sampler = Some(ex)
    }
  }

  def stopBenchmarkSampler(): Unit = synchronized {
    sampler.foreach(_.shutdownNow())
    sampler = None
  }

  /** JSONL benchmark report — one line per sample (parity:
    * `BenchmarksReport`, /root/reference/metrics.go:182-200). */
  def benchmarksReport(): String = {
    val it = samples.iterator()
    val sb = new StringBuilder
    while (it.hasNext) {
      val s = it.next()
      sb.append(s"""{"time": "${s.at}", "records_per_second": """ +
        f""""${groupUnderscore(s.recordsPerSec)}", """ +
        f""""total_rows_per_second": "${groupUnderscore(s.totalRowsPerSec)}", """ +
        f""""transfer_rate": "${s.mbPerSec}%.2f MB/second"}""" + "\n")
    }
    sb.toString
  }
}
