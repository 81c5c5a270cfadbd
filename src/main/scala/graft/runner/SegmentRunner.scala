package graft.runner

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.graftbridge.{ParquetBridge, SessionBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fs.NioLocalFileSystem

/** Export sink for one per-segment statement — COPY-TO / EXPORT parity
  * with the reference's exec-mode statements
  * (/root/reference/duck.go:69-72). The result is written
  * executor-parallel (`df.write`), never via the driver. `${segment}`
  * in `path` resolves to the closing segment's directory, so each
  * rotation gets its own artifact.
  */
final case class QuerySink(
    path: String,
    format: String = "parquet",
    mode: String = "overwrite",
    partitionBy: Seq[String] = Nil)

/** One per-segment statement: SQL plus an optional export sink.
  *
  * Without a sink, the statement runs for effect: commands
  * (CTAS/INSERT/CREATE VIEW) execute eagerly inside `spark.sql`;
  * result-bearing SELECTs are forced through a noop write — full
  * distributed execution, zero rows on the driver (the reference
  * streams results through Arrow readers, duck.go:567; collecting
  * them driver-side would be the one thing that can't scale).
  */
final case class SegmentQuery(sql: String, sink: Option[QuerySink] = None)

object SegmentQuery {
  /** Convenience: effect-only statements from bare SQL strings. */
  def sql(statements: String*): Seq[SegmentQuery] =
    statements.map(SegmentQuery(_))
}

/** Q1 — per-segment SQL execution, parity with the reference's
  * `DuckRunner` (/root/reference/duck.go:38-134): an ordered list of
  * SQL statements run against each closed segment's tables before the
  * segment is announced; `exec=true` runs each statement for effect
  * or export (duck.go:69-72); `exec=false` hands control to a
  * user `queryFunc` with live views (result-bearing mode,
  * duck.go:87-100); `deleteOnDone` removes the segment afterwards
  * (duck.go:122-132). Errors accumulate; first error is returned but
  * all statements are attempted (errors.Join parity, duck.go:59).
  *
  * Inside a pipeline the runner runs on the segment sink's close
  * thread, while later micro-batches commit (see
  * [[graft.sink.RotatingSegmentSink]]); `queryFunc` is called there,
  * with the session clone [[run]] made.
  */
final case class SegmentRunner(
    queries: Seq[SegmentQuery] = Nil,
    exec: Boolean = true,
    queryFunc: Option[(SparkSession, Map[String, DataFrame]) => Unit] = None,
    deleteOnDone: Boolean = false) {

  require(!(deleteOnDone && queries.exists(
      _.sink.exists(_.path.contains("${segment}")))),
    "deleteOnDone would delete the ${segment}-resolved export right " +
      "after writing it — export outside the segment dir or drop " +
      "deleteOnDone")

  /** Run against one closed segment. `tables` maps logical table name →
    * parquet dir. The run happens in a clone of `spark`
    * ([[SessionBridge.inClone]]): it sees the caller's SQL conf, UDFs and
    * temp views, and each table is a temp view under its logical name
    * there only, so a caller's view of the same name is neither shadowed
    * nor dropped, and a thread that uses `spark` meanwhile is not
    * disturbed. Temp views the statements create are copied back to
    * `spark` (a statement's effect lands where it did when it ran in the
    * caller's session). `segmentDir` resolves the `${segment}` token in
    * sink paths.
    *
    * Each table is read as [[SegmentScan]] reads it: in splits sized by
    * its bytes, not one task per part, with its schema from one part's
    * footer. Unless the session names its own `file:` filesystem, the
    * clone writes exports through [[graft.fs.NioLocalFileSystem]]. */
  def run(spark: SparkSession, tables: Map[String, String],
      segmentDir: Option[String] = None): Seq[Throwable] =
    SessionBridge.inClone(spark, own = tables.keySet)(
      runIn(_, tables, segmentDir))

  private def runIn(spark: SparkSession, tables: Map[String, String],
      segmentDir: Option[String]): Seq[Throwable] = {
    val errs = scala.collection.mutable.Buffer[Throwable]()
    NioLocalFileSystem.install(spark)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val views = tables.flatMap { case (name, dir) =>
      try {
        val df = SegmentScan.read(spark, hadoopConf, name, dir)
        df.createOrReplaceTempView(name)
        Some(name -> df)
      } catch { case t: Throwable => errs += t; None }
    }
    if (exec) {
      queries.foreach { q =>
        try {
          // Validate the sink BEFORE spark.sql: commands execute
          // eagerly there, and a side effect must not land only for
          // its sink to be rejected afterwards.
          q.sink.foreach { s =>
            require(segmentDir.isDefined || !s.path.contains("${segment}"),
              s"sink path ${s.path} uses $${segment} but run() got no " +
                "segmentDir — it would write to a literal ${segment} dir")
          }
          val df = spark.sql(q.sql)
          q.sink match {
            case Some(s) =>
              val resolved = segmentDir
                .map(d => s.path.replace("${segment}", d))
                .getOrElse(s.path)
              val w = df.write.format(s.format).mode(s.mode)
              (if (s.partitionBy.nonEmpty) w.partitionBy(s.partitionBy: _*)
               else w).save(resolved)
            case None =>
              // Commands already ran eagerly inside spark.sql (their
              // logical plan is a CommandResult). A result-bearing
              // SELECT still needs execution — force it distributed
              // with a noop write instead of collect().
              if (!df.queryExecution.logical.isInstanceOf[CommandResult])
                df.write.format("noop").mode("overwrite").save()
          }
        } catch { case t: Throwable => errs += t }
      }
    } else {
      queryFunc.foreach { f =>
        try f(spark, views)
        catch { case t: Throwable => errs += t }
      }
    }
    errs.toSeq
  }

  /** Delete a segment dir (used when `deleteOnDone`). */
  private[graft] def deleteSegment(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
  }
}

/** How the runner reads one closed segment table. A segment holds many
  * small parts (one per staging task and micro-batch), and a plain
  * `spark.read.parquet` pays two costs for them on the close thread:
  *  - a schema-inference job that reads one footer in one task;
  *  - one scan task per part, because a part is smaller than Spark's
  *    open cost and no two parts share a split. Those tasks queue
  *    ahead of the next micro-batch's on the shared executors.
  *
  * So the schema comes from one part's footer, read on the driver
  * (what Spark's inference without merging reads), and the scan is
  * coalesced to `k = ceil(bytes / maxSplit)` splits, where `maxSplit`
  * is Spark's `FilePartition.maxSplitBytes` for the table taken as one
  * file, and `k` is at most the part count. Filters and column pruning
  * still reach the scan. Spark's inference stays where the footer path
  * would differ from it: `spark.sql.parquet.mergeSchema` set, a footer
  * without Spark's schema, or no part at the dir's root (a partitioned
  * dir, whose partition columns no footer holds). */
private[runner] object SegmentScan {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[SegmentRunner])

  /** Spark's file index skips these names (`HadoopFSUtils`). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** `dir`'s parquet table as a DataFrame of `spark`; `conf` is the
    * session's Hadoop conf. */
  def read(spark: SparkSession, conf: Configuration, name: String,
      dir: String): DataFrame = {
    val path = new Path(dir)
    // a missing dir goes to Spark's read, which names it in its error
    val listing = try path.getFileSystem(conf).listStatus(path).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val parts = listing.filter(s => s.isFile && !hidden(s.getPath.getName))
    val bytes = parts.map(_.getLen).sum
    val sqlConf = spark.sessionState.conf
    val schema =
      if (parts.isEmpty || sqlConf.getConf(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)) None
      else footerSchema(parts.head, conf, sqlConf)
    val df = schema.fold(spark.read)(spark.read.schema).parquet(dir)
    val maxSplit = FilePartition.maxSplitBytes(spark,
      bytes + sqlConf.filesOpenCostInBytes)
    val k = math.max(1L, math.min(parts.length.toLong,
      (bytes + maxSplit - 1) / maxSplit)).toInt
    log.info(s"segment table $name: ${parts.length} files, $bytes bytes, " +
      s"$k splits, schema from ${if (schema.isDefined) "a footer" else "inference"}")
    if (k < parts.length) df.coalesce(k) else df
  }

  /** None sends the read to Spark's inference, which also reports a
    * footer that cannot be read. */
  private def footerSchema(part: FileStatus, conf: Configuration,
      sqlConf: SQLConf) =
    try ParquetBridge.sparkSchema(part, conf, sqlConf)
    catch { case NonFatal(_) => None }
}
