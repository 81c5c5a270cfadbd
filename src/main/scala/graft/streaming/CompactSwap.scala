package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The store file of the streaming twins: the two state disciplines
  * ([[BatchLog]], [[Snapshot]]) and the delete-then-rename swap both
  * rest on.
  *
  * == State ==
  * Every persistent twin store is one of two kinds (SCALE.md):
  *  - a [[BatchLog]] — parquet partitioned by `batch_id=N`, each
  *    micro-batch OVERWRITING its own partition, so a replay (write
  *    landed, checkpoint commit did not) rewrites instead of
  *    duplicating. Stores whose replay must not see its own first
  *    attempt read `excluding` the current batch (dedup, budget);
  *    stores whose rows are keyed by a unique id read everything
  *    (near-dup, vectors, additive series).
  *  - a [[Snapshot]] — one whole-state dir replaced per batch by a
  *    staged write and a swap, for idempotent merges (group top-k,
  *    CDC upsert).
  *
  * == The swap ==
  * Every filesystem boolean is CHECKED (round-12 ADVICE):
  * `FileSystem.delete` and `rename` report failure by RETURN VALUE,
  * not exception — HDFS `rename` returns false when the destination
  * exists, and a swallowed false silently loses the folded snapshot.
  *
  * Crash recovery (round-13 review finding): once the folded
  * partitions are deleted, the staging dir holds the ONLY copy of
  * their rows. So the swap records a MANIFEST (`_graft_swap` inside
  * the staging dir: line 1 = destination, rest = folded paths;
  * written under a temporary name and renamed, so a reader never sees
  * half of it) before the first delete. A leftover staging dir is
  * read by it:
  *
  *  - no manifest ⇒ the staging WRITE itself crashed (or is still
  *    running); originals are untouched ⇒ ignore / discard it;
  *  - manifest present, every recorded path still exists ⇒ the crash
  *    hit before any delete ⇒ ignore / discard it (the
  *    `attach(compactEvery)` replay contract relies on this);
  *  - manifest present, some recorded path gone ⇒ an interrupted
  *    swap ([[pendingSwap]]): readers read the staging dir in place
  *    of the recorded paths; [[recoverStaleStaging]] COMPLETES it
  *    (delete the surviving recorded paths, move staging into the
  *    recorded destination).
  *
  * Only WRITER entries recover (a twin's processBatch through
  * [[Snapshot.update]], [[BatchLog.compact]]): a read may run while
  * the writer is mid-swap, and a reader that discarded or completed
  * that swap would be a second writer. Reads write nothing; racing
  * an active swap they can transiently miss files, never lose them.
  *
  * The manifest rides into the destination on rename; its leading
  * underscore keeps it invisible to Spark's file index. */
private[streaming] object CompactSwap {

  private val ManifestName = "_graft_swap"

  def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** True iff `p` holds a parquet DATA file at any depth — an empty
    * batch leaves a dir with no part file (only `_SUCCESS` under
    * `partitionBy`), from which `spark.read.parquet` cannot infer a
    * schema. Hadoop FS, never java.io.File: the latter is always
    * false for hdfs:// and s3a:// paths (round-11 ADVICE). */
  def hasDataFile(fs: FileSystem, p: Path): Boolean = {
    // listStatus, not listFiles: a LocatedFileStatus loads each file's
    // permission, which Hadoop's local filesystem forks `ls` for
    def walk(dir: Path): Boolean = fs.listStatus(dir).exists { s =>
      if (s.isDirectory) walk(s.getPath)
      else s.getPath.getName.endsWith(".parquet")
    }
    fs.exists(p) && walk(p)
  }

  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The interrupted swap a leftover staging dir `tmp` records —
    * (destination, folded paths) when its manifest names a folded
    * path that is gone — else None. Writes nothing. */
  def pendingSwap(fs: FileSystem, tmp: Path): Option[(Path, Seq[Path])] = {
    val manifest = new Path(tmp, ManifestName)
    if (!fs.exists(manifest)) return None
    val lines = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toVector
      finally in.close()
    }
    val folded = lines.tail.map(new Path(_))
    if (folded.forall(fs.exists)) None
    else Some(new Path(lines.head) -> folded)
  }

  /** Resolve a leftover staging dir per the ruleset above — writer
    * entries only. Call BEFORE listing partitions: recovery can
    * change the set. */
  def recoverStaleStaging(fs: FileSystem, tmp: Path): Unit =
    if (fs.exists(tmp)) pendingSwap(fs, tmp) match {
      // interrupted swap: the staging dir holds the only full copy —
      // finish what the crashed run started
      case Some((dest, folded)) =>
        swapStaged(fs, folded.filter(fs.exists), tmp, dest)
      // staging write never completed, or no delete ran: the
      // originals are intact
      case None =>
        if (!fs.delete(tmp, true) && fs.exists(tmp))
          throw new java.io.IOException(
            s"graft compact: cannot discard stale staging dir $tmp")
    }

  /** Record the manifest, then delete each folded path and move
    * `tmp` to `dest`. */
  def swap(fs: FileSystem, folded: Seq[Path], tmp: Path, dest: Path)
      : Unit = {
    val part = new Path(tmp, s"$ManifestName.part")
    val out = fs.create(part, true)
    try {
      out.write((dest.toString +: folded.map(_.toString))
        .mkString("\n").getBytes("UTF-8"))
    } finally out.close()
    if (!fs.rename(part, new Path(tmp, ManifestName)))
      throw new java.io.IOException(
        s"graft compact: cannot publish the swap manifest in $tmp")
    swapStaged(fs, folded, tmp, dest)
  }

  private def swapStaged(fs: FileSystem, folded: Seq[Path], tmp: Path,
      dest: Path): Unit = {
    folded.foreach { p =>
      if (!fs.delete(p, true) && fs.exists(p))
        throw new java.io.IOException(
          s"graft compact: failed to delete folded partition $p; " +
            "aborting before the snapshot swap (a leftover partition " +
            "would double-count against the snapshot)")
    }
    if (fs.exists(dest) && !fs.delete(dest, true))
      throw new java.io.IOException(
        s"graft compact: failed to clear stale snapshot target $dest; " +
          s"folded snapshot preserved at $tmp")
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(
        s"graft compact: rename $tmp -> $dest returned false; " +
          s"folded snapshot preserved at $tmp — the next compaction " +
          "completes the swap automatically (recoverStaleStaging)")
  }
}

/** A parquet store partitioned by `batch_id=N` (see [[CompactSwap]]
  * State). `partitionBy` sub-partitions each batch (the vector
  * index's `cid`); compactions stage under `dir/.compact_tmp`. */
private[graft] final case class BatchLog(dir: String,
    partitionBy: Seq[String] = Nil) {
  import CompactSwap._

  private def root = new Path(dir)
  private def staging = new Path(root, ".compact_tmp")

  /** The `batch_id=N` partitions. Parquet files at the root mean a
    * flat store or output written before this layout — Spark's
    * partition discovery rejects the mix, so fail here by name. */
  private def partitions(fs: FileSystem): Seq[(Path, Long)] = {
    val entries = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
    entries.find(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .foreach(s => throw new IllegalStateException(
        s"$dir holds ${s.getPath.getName} at its root: a flat store " +
          "or output from before the batch_id=N layout; restart the " +
          "stream on a fresh directory"))
    entries.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith("batch_id=") =>
        s.getPath -> s.getPath.getName.stripPrefix("batch_id=").toLong
    }
  }

  private def put(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)

  /** Every stored row (data columns and sub-partitions, not
    * `batch_id`) — minus batch `excluding`'s partition — or an empty
    * frame of `emptySchema` when no batch has written a data file
    * yet. Writes nothing: an interrupted compaction is read through,
    * its staging dir standing in for the partitions it folded. */
  def read(spark: SparkSession, emptySchema: StructType,
      excluding: Option[Long] = None): DataFrame = {
    val fs = fileSystem(spark, dir)
    val frames = pendingSwap(fs, staging) match {
      case None =>
        if (partitions(fs).exists(p => hasDataFile(fs, p._1)))
          Seq(spark.read.parquet(dir))
        else Nil
      case Some((dest, folded)) =>
        val gone = folded.map(_.getName).toSet
        val rest = partitions(fs).map(_._1)
          .filter(p => !gone(p.getName) && hasDataFile(fs, p))
        val destId = dest.getName.stripPrefix("batch_id=").toLong
        (if (rest.isEmpty) Nil
         else Seq(spark.read.option("basePath", dir)
           .parquet(rest.map(_.toString): _*))) ++
          (if (!hasDataFile(fs, staging)) Nil
           else Seq(spark.read.parquet(staging.toString)
             .withColumn("batch_id", lit(destId))))
    }
    if (frames.isEmpty) emptyFrame(spark, emptySchema)
    else {
      val all = frames.reduce(_ unionByName _)
      excluding.fold(all)(id => all.where(col("batch_id") =!= id))
        .drop("batch_id")
    }
  }

  /** Overwrite batch `batchId`'s partition — a replay rewrites it. */
  def write(df: DataFrame, batchId: Long): Unit = {
    partitions(fileSystem(df.sparkSession, dir)) // the layout check
    put(df, s"$dir/batch_id=$batchId")
  }

  /** Finish or discard a crashed compaction, then fold partitions into
    * one, staged and swapped in by [[CompactSwap.swap]]. By default
    * all but the max id fold into the lowest folded id: the max id may
    * still be rewritten by a replay, every lower id has committed (a
    * no-op below 3 partitions). `into = Some(id)` folds EVERY
    * partition into `batch_id=id` (the vector index's offline
    * rebuild). `fold` sees the rows as [[read]] returns them.
    * Maintenance contract: the store's single writer runs it, with no
    * other write mid-swap. */
  def compact(spark: SparkSession, into: Option[Long] = None)(
      fold: DataFrame => DataFrame): Unit = {
    val fs = fileSystem(spark, dir)
    if (!fs.exists(root)) return
    recoverStaleStaging(fs, staging)
    val parts = partitions(fs)
    val folded = into match {
      case Some(_) => parts
      case None if parts.length > 2 =>
        val maxId = parts.map(_._2).max
        parts.filter(_._2 != maxId)
      case None => Nil
    }
    val withData = folded.map(_._1).filter(hasDataFile(fs, _))
    if (withData.isEmpty) return
    put(fold(spark.read.option("basePath", dir)
        .parquet(withData.map(_.toString): _*).drop("batch_id")),
      staging.toString)
    val snapId = into.getOrElse(folded.map(_._2).min)
    swap(fs, folded.map(_._1), staging,
      new Path(root, s"batch_id=$snapId"))
  }
}

/** A whole-state parquet snapshot at `dir`, replaced by a staged
  * write to `staging` and a [[CompactSwap.swap]] (see [[CompactSwap]]
  * State). */
private[streaming] final case class Snapshot(dir: String,
    staging: String) {
  import CompactSwap._

  /** The snapshot — None before the first [[update]]. Writes nothing:
    * an interrupted swap is read from its staging dir. */
  def read(spark: SparkSession): Option[DataFrame] = {
    val fs = fileSystem(spark, dir)
    val at =
      if (pendingSwap(fs, new Path(staging)).isDefined) staging else dir
    if (hasDataFile(fs, new Path(at))) Some(spark.read.parquet(at))
    else None
  }

  /** Finish or discard a crashed swap — for a reader that shares the
    * writer's single-writer contract. */
  def recover(spark: SparkSession): Unit =
    recoverStaleStaging(fileSystem(spark, dir), new Path(staging))

  /** The writer's step: recover, then materialize `next(current)` to
    * staging (it may read the current snapshot) and swap it in. */
  def update(spark: SparkSession)(
      next: Option[DataFrame] => DataFrame): Unit = {
    recover(spark)
    next(read(spark)).write.mode("overwrite").parquet(staging)
    val fs = fileSystem(spark, dir)
    val path = new Path(dir)
    swap(fs, if (fs.exists(path)) Seq(path) else Nil, new Path(staging),
      path)
  }
}
