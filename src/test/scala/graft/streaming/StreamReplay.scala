package graft.streaming

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Crash windows for the streaming suites, built by hand. */
object StreamReplay {

  /** Run the query `start` builds to the end, delete the newest entry
    * of its commit log — the state a crash leaves between "output
    * written" and "batch committed" — and start it again, so Spark
    * re-runs that batch from its logged offsets. Returns the re-run
    * batch id. */
  def rerunLastBatch(checkpointDir: String)(start: => StreamingQuery)
      : Long = {
    val first = start
    first.processAllAvailable()
    first.stop()
    val commits = new File(checkpointDir, "commits")
    val last = commits.list().filter(_.forall(_.isDigit))
      .map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(n => new File(commits, n).delete())
    val again = start
    again.processAllAvailable()
    again.stop()
    require(again.recentProgress.exists(_.batchId == last),
      s"batch $last was not re-run")
    last
  }

  /** Leave the [[BatchLog]] at `dir` as a compaction that crashed
    * after its first delete: partitions `ids` staged (unfolded, under
    * `partitionBy`) in `.compact_tmp`, the manifest naming
    * `batch_id=ids.head` as destination, that partition deleted and
    * the rename never run. */
  def crashMidCompact(spark: SparkSession, dir: String, ids: Seq[Long],
      partitionBy: String*): Unit = {
    val (fs, folded, tmp) = stage(spark, dir, ids, partitionBy)
    val manifest = fs.create(new Path(tmp, "_graft_swap"), true)
    try manifest.write((folded.head +: folded).mkString("\n")
      .getBytes("UTF-8"))
    finally manifest.close()
    assert(fs.delete(folded.head, true))
  }

  /** Compact partitions `ids` of the [[BatchLog]] at `dir` into
    * `batch_id=ids.head` (unfolded, under `partitionBy`) with `read`
    * run in the window a reader can hit: staging written, manifest
    * not yet. */
  def compactWithReadMidway(spark: SparkSession, dir: String,
      ids: Seq[Long], partitionBy: String*)(read: => Unit): Unit = {
    val (fs, folded, tmp) = stage(spark, dir, ids, partitionBy)
    read
    CompactSwap.swap(fs, folded, tmp, folded.head)
  }

  private def stage(spark: SparkSession, dir: String, ids: Seq[Long],
      partitionBy: Seq[String]) = {
    val folded = ids.map(i => new Path(s"$dir/batch_id=$i"))
    val tmp = new Path(s"$dir/.compact_tmp")
    spark.read.option("basePath", dir)
      .parquet(folded.map(_.toString): _*).drop("batch_id")
      .write.partitionBy(partitionBy: _*).parquet(tmp.toString)
    (tmp.getFileSystem(spark.sessionState.newHadoopConf()), folded, tmp)
  }
}
