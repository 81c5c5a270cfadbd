package perfbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.SparkSession

import graft.normalize.NormalizerSpec
import graft.ops.Stages
import graft.pipeline.{Pipeline, PipelineConfig, ProtoCodec, ProtoRecord, WireSite}
import graft.runner.{QuerySink, SegmentQuery, SegmentRunner}
import graft.sink.RotationPolicy
import graft.sources.{BinaryQueue, BinaryQueueSource}

/** The ingest workload, in two phases over the same frames and pipeline
  * shape: a closed-loop bulk drain, then an open-loop paced run. Both feed
  * the full pipeline (envelope strip, columnar protobuf decode,
  * normalizer, raw and norm rotating sink, one runner aggregate per closed
  * segment) from a 4-partition `graft-binqueue` log; they differ in how
  * frames arrive.
  *
  * Frame `id` (0-based) goes to partition `id % 4` and carries
  * `(id + seed) mod 4` `stores` entries, so the normalizer's output
  * (one row per store, one for a record with none) has a closed form
  * that `run.py` checks: 7 rows per 4 consecutive ids. */
object Ingest {
  val Partitions = 4
  /** Backlog sizing for the bulk drain: frames per `--seconds`. */
  val BulkFramesPerSecond = 60000L
  val BulkPerTrigger = 200000L
  val PacedFramesPerSecond = 10000
  val TickMs = 100
  val PacedRotateMB = 2L
  val BulkWarmTriggers = 2
  val PacedWarmS = 3

  private val Envelope = Array.fill[Byte](6)(0)
  private val Kinds = Array("web", "app", "ctv", "dooh")

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def storesCount(seed: Long, id: Long): Int = Math.floorMod(id + seed, 4L).toInt

  def record(seed: Long, id: Long): ProtoRecord = {
    val h = mix(seed * 0x632BE59BD9B4E019L ^ id)
    val n = storesCount(seed, id)
    ProtoRecord(id,
      WireSite(s"site${(h & 0x3ff)}", Kinds(((h >>> 10) & 3).toInt)),
      score = ((h >>> 16) & 0xffff) / 100.0,
      flag = (h & 1L) == 0L,
      ts = ((h >>> 32) & 0xfff) - 2048,
      stores = (0 until n).map(j =>
        WireSite(s"store${(h >>> (40 + 6 * j)) & 0x3f}", Kinds(j))))
  }

  def frame(seed: Long, id: Long): Array[Byte] =
    Envelope ++ ProtoCodec.encode(record(seed, id))

  /** Append ids [from, until) to the queue, id % 4 picking the
    * partition; with `parallel`, one writer thread per partition. */
  def append(dir: String, seed: Long, from: Long, until: Long,
      tsMs: Long, parallel: Boolean = false): Unit = {
    val tasks = (0 until Partitions).map { p => () =>
      val chunk = 65536L
      var lo = from + Math.floorMod(p - from, Partitions.toLong)
      while (lo < until) {
        val hi = math.min(until, lo + chunk)
        BinaryQueue.append(dir, p, (lo until hi by Partitions.toLong)
          .map(id => (frame(seed, id), tsMs)))
        lo = hi + Math.floorMod(p - hi, Partitions.toLong)
      }
    }
    if (parallel) Parallel.run(tasks) else tasks.foreach(_())
  }

  /** Per-segment aggregate the runner exports into the segment dir. */
  val RunnerSql: String =
    "SELECT (SELECT count(*) FROM msgs) AS raw_rows, " +
      "(SELECT sum(id) FROM msgs) AS id_sum, " +
      "(SELECT count(*) FROM msgs_norm) AS norm_rows"

  def pipeline(spark: SparkSession, root: String, name: String,
      perTrigger: Option[Long], rotation: RotationPolicy): Pipeline =
    Pipeline(spark, PipelineConfig(
      source = BinaryQueueSource(s"$root/${name}_queue", perTrigger),
      outputDir = s"$root/${name}_out",
      destTable = "msgs",
      munger = Some(Stages.confluentStrip),
      decode = ProtoCodec.decodeColumnar,
      normalizer = Some(NormalizerSpec(
        Seq("id", "site.id", "stores.id", "score"),
        Seq("id", "site", "store", "score"))),
      rotation = rotation,
      runner = Some(SegmentRunner(Seq(SegmentQuery(RunnerSql,
        Some(QuerySink("${segment}/_agg")))))),
      checkpointDir = Some(s"$root/${name}_ckpt")))

  private def phase(pipe: Pipeline, root: String, name: String,
      frames: Long, progress: Seq[Json.Raw]): Map[String, Any] = {
    val m = pipe.metrics
    Map("frames" -> frames,
      "close_end_ms" -> System.currentTimeMillis(),
      "out_dir" -> s"$root/${name}_out",
      "progress" -> progress,
      "segments" -> pipe.closedSegments().map(_.path),
      "pipeline" -> Map(
        "conservation" -> m.conservationHolds,
        "raw_inserted" -> m.recordsInserted.get,
        "norm_inserted" -> m.normRecordsInserted.get,
        "error" -> pipe.error.map(_.toString)))
  }

  /** Bulk phase: drain a backlog in large triggers. The first
    * `BulkWarmTriggers` triggers are the warm-up (JIT, codegen); `run.py`
    * times the drain from the end of the last of them to the end of the
    * last trigger. */
  def bulk(spark: SparkSession, seed: Long, seconds: Int,
      root: String): Map[String, Any] = {
    val timed = math.max(1L,
      (BulkFramesPerSecond * seconds + BulkPerTrigger - 1) / BulkPerTrigger)
    val frames = (timed + BulkWarmTriggers) * BulkPerTrigger
    append(s"$root/bulk_queue", seed, 0, frames, 1700000000000L,
      parallel = true)
    val backlogMs = System.currentTimeMillis()
    // no rotation while draining: the one segment closes at close()
    val rotation = RotationPolicy(thresholdMB = 1L << 20,
      durationSec = 1L << 20, clamp = false)
    val pipe = pipeline(spark, root, "bulk", Some(BulkPerTrigger), rotation)
    val q = pipe.run()
    q.processAllAvailable()
    val progress = q.recentProgress.map(p => Json.Raw(p.json)).toSeq
    pipe.close()
    phase(pipe, root, "bulk", frames, progress) ++
      Map("warm_triggers" -> BulkWarmTriggers, "backlog_ms" -> backlogMs)
  }

  /** Paced phase: one generator thread appends frames on a wall-clock
    * schedule while the pipeline runs with default triggers. Events due
    * in the first `PacedWarmS` seconds are warm-up. */
  def paced(spark: SparkSession, seed: Long, seconds: Int,
      root: String): Map[String, Any] = {
    // size-based: a segment closes every ~7 s of input, however the
    // triggers happen to fall (a duration rule couples rotation to trigger
    // length and makes the trigger cadence bistable)
    val rotation = RotationPolicy(thresholdMB = PacedRotateMB,
      durationSec = 1L << 20, clamp = false)
    val queue = s"$root/paced_queue"
    new File(queue).mkdirs()
    val pipe = pipeline(spark, root, "paced", None, rotation)
    val q = pipe.run()
    val perTick = PacedFramesPerSecond * TickMs / 1000
    val nTicks = (PacedWarmS + seconds) * 1000 / TickMs
    // one row per tick: due time, how late the append started, and the
    // cumulative frame count of each partition once it was written
    val ticks = new Array[Seq[Long]](nTicks)
    val start = System.currentTimeMillis() + 200
    val gen = new Thread(() => {
      val cum = new Array[Long](Partitions)
      (0 until nTicks).foreach { k =>
        val due = start + k.toLong * TickMs
        var now = System.currentTimeMillis()
        while (now < due) {
          LockSupport.parkNanos((due - now) * 1000000L)
          now = System.currentTimeMillis()
        }
        val lo = k.toLong * perTick
        append(queue, seed, lo, lo + perTick, due)
        (lo until lo + perTick).foreach(id => cum((id % Partitions).toInt) += 1)
        ticks(k) = Seq(due, now - due) ++ cum.toSeq
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    val progress = q.recentProgress.map(p => Json.Raw(p.json)).toSeq
    pipe.close()
    phase(pipe, root, "paced", nTicks.toLong * perTick, progress) ++ Map(
      "tick_ms" -> TickMs, "warm_ms" -> PacedWarmS * 1000,
      "ticks" -> ticks.toSeq)
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, root: String,
      rec: Record): Unit = {
    rec("bulk") = bulk(spark, seed, seconds, root)
    System.gc() // the paced phase starts without the drain's garbage
    rec("paced") = paced(spark, seed, seconds, root)
  }
}
