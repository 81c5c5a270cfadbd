package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.TextAnalysis

class StreamingDriftSuite extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "lang", "text")

  test("zero drift on a batch distributed exactly like the reference") {
    val root = Files.createTempDirectory("graft-drift").toString
    val sd = StreamingDrift(s"$root/ref")
    sd.buildReference(corpus)
    // the reference corpus itself as one batch: p = q per term →
    // every JS term is exactly 0 → js_div == 0.0, not just small
    val out = sd.processBatch(corpus).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Double]("js_div") == 0.0))
    // and reference/batch masses agree per language
    assert(out.forall(r =>
      r.getAs[Long]("n_tokens_a") == r.getAs[Long]("n_tokens_b")))
  }

  test("skewed batch reads positive bounded drift; missing langs absent") {
    val root = Files.createTempDirectory("graft-drift2").toString
    val sd = StreamingDrift(s"$root/ref")
    sd.buildReference(corpus)
    // a batch of gibberish tagged as one language: vocabulary almost
    // disjoint from the reference → JS near its ln 2 ceiling
    val bad = Seq((1L, "en", "zzqx vvnm qqpla wrrtk zzqx mmvnb")).
      toDF("doc_id", "lang", "text")
    val out = sd.processBatch(bad).collect()
    assert(out.length == 1) // only 'en' — reference-only langs absent
    val js = out.head.getAs[Double]("js_div")
    assert(js > 0.5 && js <= math.log(2.0) + 1e-9, s"js=$js")
  }

  test("a language ABSENT from the reference reads ln2/2, not NULL") {
    val root = Files.createTempDirectory("graft-drift4").toString
    val sd = StreamingDrift(s"$root/ref")
    sd.buildReference(corpus)
    // the language-flip scenario the monitor exists to catch: a batch
    // arrives in a language the reference store has never seen →
    // reference mass ta = 0. Unguarded ratios make p = 0/0 = NULL and
    // null the whole js_div; guarded, every term contributes
    // ½·q·ln(2q/q) = ½·q·ln 2, so the lang reports exactly ln2/2 —
    // the formula's one-sided ceiling (the empty measure's KL term is
    // zero by convention).
    val flipped = Seq(
      (1L, "xx", "alpha beta gamma alpha"),
      (2L, "xx", "delta beta")).toDF("doc_id", "lang", "text")
    val out = sd.processBatch(flipped).collect()
    assert(out.length == 1 && out.head.getAs[String]("lang") == "xx")
    val r = out.head
    assert(r.getAs[Long]("n_tokens_a") == 0L)
    assert(r.getAs[Long]("n_tokens_b") == 6L)
    assert(!r.isNullAt(r.fieldIndex("js_div")),
      "js_div must not be NULL for a reference-absent language")
    val expected = math.rint(math.log(2.0) / 2.0 * 1e4) / 1e4
    assert(r.getAs[Double]("js_div") == expected,
      s"js=${r.getAs[Double]("js_div")} expected $expected")
  }

  test("foreachBatch wiring: per-batch rows, parity with direct compute") {
    val root = Files.createTempDirectory("graft-drift3").toString
    val sd = StreamingDrift(s"$root/ref")
    sd.buildReference(corpus)
    val d = corpus.limit(40).cache()
    d.repartition(2).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
    val q = sd.attach(stream, s"$root/out", s"$root/ckpt")
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$root/out")
    assert(out.select("batch_id").distinct().count() == 2)
    assert(out.where(col("js_div").isNull || col("js_div") < 0).count() == 0)
    // each monitored batch row is reproducible by processBatch on the
    // same rows — code-path identity, so just sanity-check one batch:
    // total batch token mass across langs equals the direct count
    val massPerBatch = out.groupBy("batch_id")
      .agg(sum("n_tokens_b").as("m")).as[(Long, Long)].collect().toMap
    val totalMass = massPerBatch.values.sum
    val direct = d.select(
      sum(size(TextAnalysis.tokens(col("text"))))).head().getLong(0)
    assert(totalMass == direct,
      s"streamed mass $totalMass != direct $direct")
  }

  test("attach: a micro-batch re-run after a lost commit leaves one " +
      "row per (batch, lang)") {
    val root = Files.createTempDirectory("graft-drift-rerun").toString
    val sd = StreamingDrift(s"$root/ref")
    sd.buildReference(corpus)
    corpus.limit(40).repartition(2).write.parquet(s"$root/in")
    val rerun = StreamReplay.rerunLastBatch(s"$root/ckpt") {
      sd.attach(spark.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
        s"$root/out", s"$root/ckpt")
    }
    val out = spark.read.parquet(s"$root/out")
    assert(rerun == 1L)
    assert(out.select("batch_id").distinct().count() == 2)
    assert(out.count() == out.select("batch_id", "lang").distinct().count(),
      "the re-run batch's drift rows landed twice")
  }
}
