package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Span recorder for traced runs, built only on Spark's public listener
  * API. Jobs carry the span id the harness sets as a local property
  * (query phases) or the micro-batch and query ids Spark sets itself
  * (ingest triggers); stages carry their task metrics; SQL executions
  * carry their description and, for writes, the target path. Everything
  * stays in memory until [[dump]] at the end of the run. */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stages = new ConcurrentHashMap[Int, StageSpan]()
  private val sqls = new ConcurrentHashMap[Long, SqlSpan]()
  private val callbackNs = new AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, JobSpan(e.jobId, e.time, -1L,
      prop(SpanKey).orNull, prop("streaming.sql.batchId").orNull,
      prop("sql.streaming.queryId").orNull,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.stageIds, ok = false))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time,
      ok = e.jobResult == JobSucceeded))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages.put(s.stageId, StageSpan(s.stageId, s.name,
      s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L),
      s.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      val path = WritePath.findFirstMatchIn(s.physicalPlanDescription)
        .map(_.group(1)).orNull
      sqls.put(s.executionId,
        SqlSpan(s.executionId, s.description, s.time, -1L, path))
    }
    case s: SparkListenerSQLExecutionEnd => timed {
      sqls.computeIfPresent(s.executionId, (_, x) => x.copy(end = s.time))
    }
    case _ =>
  }

  def dump(): Map[String, Any] = Map(
    "callback_s" -> callbackNs.get / 1e9,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
    "stages" -> stages.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
    "sql" -> sqls.values.asScala.toSeq.sortBy(_.id).map(_.toMap))
}

object Tracer {
  /** Local property naming the harness span a job belongs to. */
  val SpanKey = "perfbench.span"

  /** Target path of a write, from the node's details in the formatted
    * physical plan: a line ending in "InsertIntoHadoopFsRelationCommand",
    * then "Arguments: <path>, ...". */
  private val WritePath =
    """(?s)InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Run `f` with its jobs tagged as span `id` (a no-op tag when the run
    * is untraced: the property is set either way, nothing reads it). */
  def span[T](spark: SparkSession, id: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    try f finally sc.setLocalProperty(SpanKey, prev)
  }

  final case class JobSpan(id: Int, start: Long, end: Long, span: String,
      batchId: String, queryId: String, sqlId: Long, stageIds: Seq[Int],
      ok: Boolean) {
    def toMap: Map[String, Any] = Map("id" -> id, "start" -> start,
      "end" -> end, "span" -> span, "batch" -> batchId,
      "query_id" -> queryId, "sql" -> sqlId, "stages" -> stageIds,
      "ok" -> ok)
  }

  final case class StageSpan(id: Int, name: String, start: Long, end: Long,
      tasks: Int, runMs: Long, shuffleWrite: Long, spill: Long) {
    def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
      "start" -> start, "end" -> end, "tasks" -> tasks, "run_ms" -> runMs,
      "shuffle_write" -> shuffleWrite, "spill" -> spill)
  }

  final case class SqlSpan(id: Long, description: String, start: Long,
      end: Long, path: String) {
    def toMap: Map[String, Any] = Map("id" -> id,
      "description" -> description, "start" -> start, "end" -> end,
      "path" -> path)
  }
}
