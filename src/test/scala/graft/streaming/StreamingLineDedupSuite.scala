package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Dedup

/** Streaming line dedup parity: under doc-id-ordered replay, first
  * ARRIVAL == global first occurrence, so the streaming kept set must
  * equal the batch operator row-for-row — including the shared
  * header/footer boilerplate landing with exactly one owner and blank
  * lines surviving everywhere. */
class StreamingLineDedupSuite extends SparkSpec {
  import spark.implicits._

  // the llm_line_dedup corpus shape: per-source header, body, global
  // footer; every doc carries the footer, docs of one source share
  // the header
  private def boiler = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"),
      concat(lit("begin shared preamble for source "),
        pmod(col("doc_id"), lit(20L)).cast("string"), lit(" end\n"),
        col("text"),
        lit("\nglobal footer boilerplate shared by every document"))
        .as("text"))

  test("two-batch replay equals the batch operator (doc-ordered split)") {
    val root = Files.createTempDirectory("graft-sld").toString
    val d = boiler
    val cut = 250L // doc-ordered split: batch 1 = low ids, batch 2 = rest
    val sld = StreamingLineDedup(s"$root/store")
    val out1 = sld.processBatch(d.where(col("doc_id") < cut), 0L)
      .collect()
    val out2 = sld.processBatch(d.where(col("doc_id") >= cut), 1L)
      .collect()
    val streamed = (out1 ++ out2).map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("text_dedup"), r.getAs[Long]("n_removed"))).toSet
    val batch = Dedup.dedupLines(d).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text_dedup"), r.getAs[Long]("n_removed"))).toSet
    assert(streamed == batch)
    // the cross-batch state actually fired: batch 2 docs lost their
    // footer (its fingerprint was claimed in batch 1)
    assert(out2.forall(_.getAs[Long]("n_removed") >= 1))
    assert(streamed.nonEmpty)
  }

  test("scheme-qualified store paths probe through the Hadoop FS API " +
      "(a java.io.File probe silently kept every duplicate line)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sld-fs").toString
    val sld = StreamingLineDedup(s"file:$root/store")
    val doc = "unique line one\nshared boilerplate footer line"
    sld.processBatch(Seq((1L, doc)).toDF("doc_id", "text"), 0L)
      .collect()
    // batch 2's footer must be recognized as seen THROUGH the
    // file:-qualified store path
    val out2 = sld.processBatch(
      Seq((2L, "another body line\nshared boilerplate footer line"))
        .toDF("doc_id", "text"), 1L).collect()
    assert(out2.length == 1 && out2.head.getAs[Long]("n_removed") == 1L,
      s"file:-qualified store read as empty — duplicate line kept: " +
        out2.mkString(","))
  }

  test("compact folds the per-batch fp file-sets into one snapshot; " +
      "content preserved, later batches still dedup against it") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sld-cmp").toString
    val sld = StreamingLineDedup(s"$root/store")
    // five batches → five appended file-sets (≥ 5 part files)
    (1 to 5).foreach { i =>
      sld.processBatch(Seq((i.toLong,
        s"unique line number $i\nshared footer line"))
        .toDF("doc_id", "text"), i.toLong - 1).collect()
    }
    def partDirs() = new java.io.File(s"$root/store").listFiles()
      .count(_.getName.startsWith("batch_id="))
    val fpsBefore = spark.read.parquet(s"$root/store")
      .select("fp").collect().map(_.getString(0)).toSet
    assert(partDirs() == 5, s"expected 5 partitions, ${partDirs()}")
    sld.compact(spark)
    assert(partDirs() == 2, // snapshot at the lowest folded id + latest
      s"compact did not fold partitions: ${partDirs()}")
    assert(spark.read.parquet(s"$root/store")
      .select("fp").collect().map(_.getString(0)).toSet == fpsBefore,
      "compact changed the fingerprint set")
    // the compacted store still serves the anti-join
    val out = sld.processBatch(Seq((9L,
      "fresh niner line\nshared footer line")).toDF("doc_id", "text"),
      5L).collect()
    assert(out.head.getAs[Long]("n_removed") == 1L,
      "compacted store lost the shared footer fingerprint")
  }

  test("crash-replay emits the IDENTICAL deduped docs (per-batch " +
      "partition overwrite — a flat-append store gutted a replayed " +
      "batch's docs of their own first-occurrence lines)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sld-replay").toString
    val sld = StreamingLineDedup(s"$root/store")
    sld.processBatch(Seq((1L, "alpha line one\nshared footer line"))
      .toDF("doc_id", "text"), 0L).collect()
    val b2 = Seq((2L, "beta line two\nshared footer line"))
      .toDF("doc_id", "text")
    val first = sld.processBatch(b2, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // crash window: store partition written, sink commit lost —
    // the replay must see ONLY earlier batches' state
    val replay = sld.processBatch(b2, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(replay == first,
      s"replay diverged: $replay vs $first")
    assert(first.head._2.contains("beta line two"),
      "the batch's own first-occurrence line was deleted")
    assert(first.head._3 == 1L) // only the footer dropped
  }

  test("foreachBatch wiring dedups across micro-batches end to end") {
    val root = Files.createTempDirectory("graft-sld-e2e").toString
    val d = boiler.limit(60).cache()
    // one parquet file per trigger → multiple micro-batches
    d.repartition(4).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(d.schema).
      option("maxFilesPerTrigger", "1").parquet(s"$root/in")
    val q = StreamingLineDedup(s"$root/store")
      .attach(stream, s"$root/out", s"$root/ckpt")
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 60) // every doc survives (lines drop, docs don't)
    // the global footer fingerprint was kept exactly once corpus-wide
    val withFooter = out.where(col("text_dedup")
      .contains("global footer boilerplate")).count()
    assert(withFooter == 1L, s"footer kept $withFooter times")
    // arbitrary micro-batch order keeps SOME single owner per line
    // fingerprint: re-running batch dedup on the streamed output
    // removes nothing
    val rededup = Dedup.dedupLines(
      out.withColumnRenamed("text_dedup", "text"))
    assert(rededup.agg(sum("n_removed")).head().getLong(0) == 0L)
  }

  test("attach: a micro-batch re-run after a lost commit leaves each " +
      "doc in the output once") {
    val root = Files.createTempDirectory("graft-sld-rerun").toString
    (1L to 3L).foreach(i =>
      Seq((i, s"body line of doc $i\nshared footer line"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$root/in"))
    val sld = StreamingLineDedup(s"$root/store")
    StreamReplay.rerunLastBatch(s"$root/ckpt") {
      sld.attach(spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
        s"$root/out", s"$root/ckpt")
    }
    val out = spark.read.parquet(s"$root/out")
    assert(out.select("doc_id").as[Long].collect().toSeq.sorted ==
      Seq(1L, 2L, 3L))
    // the re-run saw only earlier batches: the footer has one owner
    assert(out.where(col("text_dedup").contains("shared footer"))
      .count() == 1L)
  }
}
