package graft.runner

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * sink paths. */
  def run(spark: SparkSession, tables: Map[String, String],
      segmentDir: Option[String] = None): Seq[Throwable] =
    SessionBridge.inClone(spark, own = tables.keySet)(
      runIn(_, tables, segmentDir))

  private def runIn(spark: SparkSession, tables: Map[String, String],
      segmentDir: Option[String]): Seq[Throwable] = {
    val errs = scala.collection.mutable.Buffer[Throwable]()
    val views = tables.flatMap { case (name, dir) =>
      try {
        val df = spark.read.parquet(dir)
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
