package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TimeSeries

/** The streaming series store: chunked replay must rebuild EXACTLY the
  * batch operator's series (the store log is per-batch partial sums —
  * additive, so ANY chunking works), per-batch replay must be
  * idempotent (sums double-count under the flat-append pattern dedup
  * stores get away with), and the similarity search over the store
  * must equal the registered batch query. */
class StreamingSeriesSuite extends SparkSpec {
  import spark.implicits._

  private def replayParity(sfDir: String, tag: String): Unit = {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    val batchSeries = TimeSeries.dailySeries(events, "2024-01-01", 30)
      .as[(Long, Seq[Double])].collect().toMap

    val root = Files.createTempDirectory(s"graft-sstore-$tag").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = store.attach(
      in.toDF().toDF("event_id", "ts", "user_id", "value"),
      s"$root/ckpt")
    val rows = events
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
    (0 until 3).foreach { c =>
      in.addData(rows.filter(_._1 % 3 == c).toSeq)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = store.series(spark)
      .as[(Long, Seq[Double])].collect().toMap
    assert(streamed == batchSeries,
      s"$tag: store series differ from the batch operator")

    // replay idempotency: re-folding an already-committed batch (same
    // batch_id, same rows) must leave the series unchanged — the
    // double-count hazard the per-batch overwrite exists for
    store.processBatch(
      rows.filter(_._1 % 3 == 0).toSeq
        .toDF("event_id", "ts", "user_id", "value"), batchId = 0L)
    val replayed = store.series(spark)
      .as[(Long, Seq[Double])].collect().toMap
    assert(replayed == batchSeries, s"$tag: batch replay double-counted")
  }

  test("chunked replay rebuilds the batch series exactly; replay is " +
      "idempotent (sf0.001)") {
    replayParity(sf0001, "sf0001")
  }

  test("replay parity and idempotency hold at sf0.1") {
    replayParity(sf01, "sf01")
  }

  test("an untouched store is queryable: empty series, no read error") {
    val root = Files.createTempDirectory("graft-sstore-empty").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    assert(store.series(spark).count() == 0L)
    assert(store.topK(spark, col("user_id") < 10, k = 5).count() == 0L)
  }

  test("an EMPTY micro-batch (idle trigger — partition dir with zero " +
      "part files) does not poison later reads") {
    val root = Files.createTempDirectory("graft-sstore-idle").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    val schema = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value").schema
    store.processBatch(
      spark.createDataFrame(spark.sparkContext.emptyRDD[
        org.apache.spark.sql.Row], schema), batchId = 0L)
    // the store now holds batch_id=0 with no data files; series()
    // must read empty, and a later real batch must fold normally
    assert(store.series(spark).count() == 0L)
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    store.processBatch(events, batchId = 1L)
    val expect = TimeSeries.dailySeries(events, "2024-01-01", 30)
      .as[(Long, Seq[Double])].collect().toMap
    assert(store.series(spark)
      .as[(Long, Seq[Double])].collect().toMap == expect)
  }

  test("string-keyed store: series/topK parity with the batch operator " +
      "and a string-typed pre-data schema (round-12 LongType gap)") {
    import org.apache.spark.sql.types.StringType
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select(concat(lit("user-"), col("user_id")).as("user_id"),
        col("ts"), col("value"), col("event_id"))
    val batchSeries = TimeSeries.dailySeries(events, "2024-01-01", 30)
      .as[(String, Seq[Double])].collect().toMap
    val root = Files.createTempDirectory("graft-sstore-str").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30,
      keyType = StringType)
    // pre-data: the declared key type governs the empty schema
    val empty = store.series(spark)
    assert(empty.schema("user_id").dataType == StringType)
    assert(empty.count() == 0L)
    (0 until 3).foreach { c =>
      store.processBatch(events.where(col("event_id") % 3 === c),
        batchId = c.toLong)
    }
    val streamed = store.series(spark)
      .as[(String, Seq[Double])].collect().toMap
    assert(streamed == batchSeries,
      "string-keyed store series differ from the batch operator")
    val got = store.topK(spark, col("user_id") === "user-1", k = 3)
    assert(got.count() == 3L)
  }

  test("scheme-qualified store paths probe through the Hadoop FS API " +
      "(a java.io.File probe silently read these as empty)") {
    // round-11 ADVICE defect: the existence probe used java.io.File,
    // which is always false for any scheme-qualified path — the exact
    // hdfs://-s3a:// scale deployment the scaladoc invokes — so
    // series()/topK() silently returned nothing. `file:/...` is the
    // scheme-qualified path this environment can serve; the probe now
    // resolves the FileSystem FROM the path scheme, so it exercises
    // the same code path hdfs:// would.
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    val batchSeries = TimeSeries.dailySeries(events, "2024-01-01", 30)
      .as[(Long, Seq[Double])].collect().toMap
    val root = Files.createTempDirectory("graft-sstore-scheme")
      .toUri.toString.stripSuffix("/") // file:/... form
    assert(root.startsWith("file:"))
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    // untouched scheme-qualified store: still empty-not-error
    assert(store.series(spark).count() == 0L)
    store.processBatch(events, batchId = 0L)
    val streamed = store.series(spark)
      .as[(Long, Seq[Double])].collect().toMap
    assert(streamed == batchSeries,
      "scheme-qualified store read as empty — FS probe regressed")
  }

  test("compact folds the log to snapshot+latest, series identical, " +
      "latest-batch replay still idempotent") {
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    val batchSeries = TimeSeries.dailySeries(events, "2024-01-01", 30)
      .as[(Long, Seq[Double])].collect().toMap
    val root = Files.createTempDirectory("graft-sstore-compact").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    val rows = events
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
    (0 until 5).foreach { c =>
      store.processBatch(rows.filter(_._1 % 5 == c).toSeq
        .toDF("event_id", "ts", "user_id", "value"), batchId = c.toLong)
    }
    def partDirs(): Set[String] =
      new java.io.File(s"$root/store").listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("batch_id=")).toSet
    assert(partDirs() == (0 until 5).map(i => s"batch_id=$i").toSet)
    store.compact(spark)
    // batches 0-3 fold into a snapshot at the lowest folded id; the
    // LATEST batch stays out (it is the only replay-eligible one)
    assert(partDirs() == Set("batch_id=0", "batch_id=4"),
      s"unexpected layout: ${partDirs()}")
    assert(store.series(spark).as[(Long, Seq[Double])].collect().toMap ==
      batchSeries, "compaction changed the series")
    // replay of the preserved latest batch: still a per-partition
    // overwrite, still idempotent against the snapshot
    store.processBatch(rows.filter(_._1 % 5 == 4).toSeq
      .toDF("event_id", "ts", "user_id", "value"), batchId = 4L)
    assert(store.series(spark).as[(Long, Seq[Double])].collect().toMap ==
      batchSeries, "latest-batch replay double-counted after compaction")
    // re-compacting 2 partitions is a no-op
    store.compact(spark)
    assert(partDirs() == Set("batch_id=0", "batch_id=4"))
    // and the store keeps accepting batches after compaction — an
    // EMPTY one writes an empty partition the read path tolerates
    store.processBatch(
      Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
        .toDF("event_id", "ts", "user_id", "value"), batchId = 5L)
    assert(store.series(spark).as[(Long, Seq[Double])].collect().toMap ==
      batchSeries)
  }

  test("attach with compactEvery folds the log inline; series still " +
      "equals the batch operator") {
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    val batchSeries = TimeSeries.dailySeries(events, "2024-01-01", 30)
      .as[(Long, Seq[Double])].collect().toMap
    val root = Files.createTempDirectory("graft-sstore-auto").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val q = store.attach(
      in.toDF().toDF("event_id", "ts", "user_id", "value"),
      s"$root/ckpt", compactEvery = Some(3))
    val rows = events
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
    (0 until 7).foreach { c =>
      in.addData(rows.filter(_._1 % 7 == c).toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // 7 batches with folds at batch 3 and 6 → far fewer than 7
    // partitions remain, and the series is untouched
    val parts = new java.io.File(s"$root/store").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .count(_.startsWith("batch_id="))
    assert(parts < 7, s"auto-compaction never fired: $parts partitions")
    assert(store.series(spark).as[(Long, Seq[Double])].collect().toMap ==
      batchSeries, "auto-compaction changed the series")
  }

  test("similarity search over the store equals the registered batch query") {
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    val root = Files.createTempDirectory("graft-sstore-q").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    store.processBatch(events, batchId = 0L)
    val fromStore = store.topK(spark, col("user_id") < 10, k = 5)
      .as[(Long, Long, Int, Double)].collect().toSet
    val batch = graft.SparkEntry.queries("op_ts_topk")(spark, sf0001)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(fromStore == batch)
  }

  test("series() reads through an interrupted compact swap") {
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    val root = Files.createTempDirectory("graft-sstore-heal").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    (0 until 3).foreach(c => store.processBatch(
      events.where(col("event_id") % 3 === c), batchId = c.toLong))
    def read() = store.series(spark).as[(Long, Seq[Double])].collect()
      .toMap
    val before = read()
    StreamReplay.crashMidCompact(spark, s"$root/store", Seq(0L, 1L))
    assert(read() == before, "series() missed the folded batches")
  }

  test("a series() read between a compaction's staging write and its " +
      "manifest leaves the store whole") {
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id", "ts", "user_id", "value")
    val root = Files.createTempDirectory("graft-sstore-race").toString
    val store = StreamingSeriesStore(s"$root/store", "2024-01-01", 30)
    (0 until 3).foreach(c => store.processBatch(
      events.where(col("event_id") % 3 === c), batchId = c.toLong))
    def read() = store.series(spark).as[(Long, Seq[Double])].collect()
      .toMap
    val before = read()
    StreamReplay.compactWithReadMidway(spark, s"$root/store",
      Seq(0L, 1L)) {
      assert(read() == before)
    }
    assert(read() == before, "the raced read lost the folded batches")
  }
}
