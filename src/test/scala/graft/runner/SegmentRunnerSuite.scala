package graft.runner

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkSpec
import graft.pipeline.PipelineMetrics
import graft.sink.TableStats

/** How the runner reads a closed segment's tables: splits sized by the
  * table's bytes (not one task per part), the schema from one part's
  * footer (no inference job), Spark's inference where that would
  * differ, and the same rows, pushdown and pruning as a plain read. */
class SegmentRunnerSuite extends SparkSpec {

  /** A segment dir as the sink leaves one: `msgs` and `msgs_norm`, 40
    * small parts each. */
  private def segment(): (String, Map[String, String]) = {
    val seg = Files.createTempDirectory("graft-runner").toString
    spark.range(0, 400)
      .selectExpr("id", "concat('site', id % 7) AS site", "id % 3 = 0 AS flag")
      .repartition(40).write.parquet(s"$seg/msgs")
    spark.range(0, 400)
      .selectExpr("id", "explode(sequence(0, id % 3)) AS store")
      .repartition(40).write.parquet(s"$seg/msgs_norm")
    seg -> Map("msgs" -> s"$seg/msgs", "msgs_norm" -> s"$seg/msgs_norm")
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The views a queryFunc run hands over, passed to `f` in the clone. */
  private def inViews(tables: Map[String, String])(
      f: (SparkSession, Map[String, DataFrame]) => Unit): Unit = {
    val errs = SegmentRunner(exec = false, queryFunc = Some(f)).run(spark, tables)
    errs.foreach(e => throw e)
  }

  /** `sql` over plain `spark.read.parquet` views of `tables`. */
  private def plain(tables: Map[String, String], sql: String): Seq[Row] = {
    tables.foreach { case (n, d) => spark.read.parquet(d).createOrReplaceTempView(n) }
    try sorted(spark.sql(sql))
    finally tables.keys.foreach(spark.catalog.dropTempView)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private val RunnerSql =
    "SELECT (SELECT count(*) FROM msgs) AS raw_rows, " +
      "(SELECT sum(id) FROM msgs) AS id_sum, " +
      "(SELECT count(*) FROM msgs_norm) AS norm_rows"

  test("under 4 MB splits the runner starts no job before its statement's, " +
      "and each scan of a 40-part table runs in one task") {
    val (seg, tables) = segment()
    val runner = SegmentRunner(Seq(SegmentQuery(RunnerSql,
      Some(QuerySink("${segment}/agg")))))
    var errs = Seq.empty[Throwable]
    val jobs = withConf("spark.sql.files.maxPartitionBytes" -> "4m") {
      countTasks { errs = runner.run(spark, tables, Some(seg)) }
    }
    assert(errs.isEmpty, errs)
    assert(jobs.nonEmpty && jobs.forall(_.sqlExecution.isDefined),
      s"a job ran outside the statement (schema inference?): $jobs")
    assert(jobs.forall(_.tasks == 1), s"jobs: $jobs")
    assert(sorted(spark.read.parquet(s"$seg/agg")) == plain(tables, RunnerSql))
  }

  test("a table larger than one split is read in k = ceil(bytes / maxSplit) " +
      "splits") {
    val (_, tables) = segment()
    val dir = new Path(tables("msgs"))
    val bytes = dir.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
      .map(_.getLen).sum
    // below the 4 MB open cost, maxSplit is maxPartitionBytes
    val maxSplit = (bytes + 2) / 3
    var splits = -1
    withConf("spark.sql.files.maxPartitionBytes" -> maxSplit.toString) {
      inViews(tables) { (_, views) => splits = views("msgs").rdd.getNumPartitions }
    }
    assert(splits == 3, s"$bytes bytes at $maxSplit per split")
  }

  test("the runner's views give a plain read's rows and schema: an " +
      "aggregate, a filter that still reaches the scan, a join; exec and " +
      "queryFunc modes alike") {
    val (seg, tables) = segment()
    val sqls = Seq(
      "agg" -> "SELECT site, count(*) AS n, sum(id) AS s FROM msgs GROUP BY site",
      "filter" -> "SELECT id, site FROM msgs WHERE id > 250 AND flag",
      "join" -> ("SELECT m.site, count(*) AS n, sum(r.store) AS st " +
        "FROM msgs m JOIN msgs_norm r ON m.id = r.id GROUP BY m.site"))
    val expected = sqls.map { case (n, q) => n -> plain(tables, q) }.toMap
    val errs = SegmentRunner(sqls.map { case (n, q) =>
      SegmentQuery(q, Some(QuerySink("${segment}/q_" + n)))
    }).run(spark, tables, Some(seg))
    assert(errs.isEmpty, errs)
    sqls.foreach { case (n, _) =>
      assert(sorted(spark.read.parquet(s"$seg/q_$n")) == expected(n), n)
    }
    inViews(tables) { (clone, views) =>
      tables.foreach { case (n, d) =>
        assert(views(n).schema == spark.read.parquet(d).schema, n)
        assert(views(n).rdd.getNumPartitions == 1, n)
      }
      sqls.foreach { case (n, q) => assert(sorted(clone.sql(q)) == expected(n), n) }
      val plan = clone.sql(sqls(1)._2).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(id), IsNotNull(flag), " +
        "GreaterThan(id,250), EqualTo(flag,true)]"), plan)
      val agg = clone.sql(sqls.head._2).queryExecution.executedPlan.toString
      assert(agg.contains("ReadSchema: struct<id:bigint,site:string>"), agg)
    }
  }

  test("with spark.sql.parquet.mergeSchema set, parts of two schemas merge") {
    val dir = Files.createTempDirectory("graft-runner-merge").toString + "/t"
    spark.range(5).write.parquet(dir)
    spark.range(5, 10).selectExpr("id", "id * 2 AS twice")
      .write.mode("append").parquet(dir)
    var got = Seq.empty[Row]
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      inViews(Map("t" -> dir)) { (_, views) =>
        got = sorted(views("t").select("id", "twice"))
      }
    }
    assert(got == (0L until 10L).map(i => Row(i, if (i < 5) null else i * 2)))
  }

  test("Spark's inference reads a part without Spark's schema in its " +
      "footer, and a partitioned dir") {
    val dir = Files.createTempDirectory("graft-runner-foreign").toString + "/t"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => w.write(groups.newGroup()
      .append("id", i.toLong).append("name", s"n$i")))
    finally w.close()
    var got = Seq.empty[Row]
    inViews(Map("t" -> dir)) { (_, views) =>
      assert(views("t").schema == spark.read.parquet(dir).schema)
      got = sorted(views("t"))
    }
    assert(got == (0 until 3).map(i => Row(i.toLong, s"n$i")))

    val parted = Files.createTempDirectory("graft-runner-parted").toString + "/p"
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k")
      .parquet(parted)
    inViews(Map("p" -> parted)) { (_, views) =>
      got = sorted(views("p").select("id", "k"))
    }
    assert(got == (0L until 6L).map(i => Row(i, i % 2)))
  }

  test("the report gives the runner's p50 and p99 over the last 100 closes") {
    val m = new PipelineMetrics()
    m.recordCommit(Map("t" -> TableStats(1L, 1L)), 0L, 0L, 0L, 0L, 0L)
    assert(!m.report().contains("runner_close_ms"), "no close yet")
    (1 to 150).foreach(i => m.recordRotation(i * 1000000L, 0L))
    assert(m.report().contains(
      """"runner_close_ms": {"p50": 100.0, "p99": 149.0, "closes": 100}"""),
      m.report())
  }
}
