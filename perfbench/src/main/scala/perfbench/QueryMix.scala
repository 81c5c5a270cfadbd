package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query-mix workload: one client runs an ordered list of registered
  * queries, each through `SparkEntry.queries(name)`, then
  * `queryExecution.executedPlan`, then a parquet write of the result
  * (the write that `run.py` checks against the DuckDB oracle).
  *
  * The process is fresh and warms up on a smaller generated dataset
  * first. Its tables live at other paths, so every plan-keyed memo in
  * the program is cold for the timed inputs. */
object QueryMix {
  /** (family, queries) in run order. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_agg", "q3_join_agg", "q5_window",
      "q13_star_join", "q14_cube", "q20_recursive"),
    "pipeline_ops" -> Seq("op_munge_decode", "op_proto_repeated",
      "op_normalize", "op_pipeline_sink"),
    "operators" -> Seq("op_asof_join", "op_sessionize", "op_range_join",
      "op_heavy_hitters_grouped"),
    "llm_scan" -> Seq("llm_exact_dedup", "llm_minhash_md5",
      "llm_ngram_jaccard", "llm_kn3_lm", "llm_decontaminate"),
    "llm_iterative" -> Seq("llm_ann_ivfpq", "llm_dedup_clusters"))

  val TimedSf = 0.005
  val WarmSf = 0.0005

  def run(spark: SparkSession, seed: Long, root: String,
      rec: Record): Unit = {
    val timedDir = s"$root/data_timed"
    val warmDir = s"$root/data_warm"
    val registry = SparkEntry.queries
    val all = Families.flatMap { case (f, qs) => qs.map(q => (f, q)) }
    Parallel.run(DataGen.tables(spark, warmDir, WarmSf, seed + 1, minText = 50))

    // Warm-up runs the same queries on a small dataset, several at a
    // time and longest first, while the timed dataset is written: it only
    // has to make the JVM warm, and the program's memos key on plans over
    // other paths, so they stay cold for the timed run.
    Parallel.run(DataGen.tables(spark, timedDir, TimedSf, seed, minText = 250) ++
      all.reverse.map { case (_, name) => () =>
        try registry(name)(spark, warmDir).write.mode("overwrite")
          .parquet(s"$root/warm_out/$name")
        catch { case t: Throwable =>
          System.err.println(s"[perfbench] warm-up $name failed: $t") }
      })
    spark.catalog.clearCache()
    rec("setup_end_ms") = System.currentTimeMillis()

    val out = s"$root/query_out"
    val t0 = System.nanoTime()
    val results = all.map { case (family, name) =>
      var marks = Vector(System.nanoTime())
      def mark(): Unit = marks :+= System.nanoTime()
      val error = try {
        val df = Tracer.span(spark, s"$name/construct")(registry(name)(spark, timedDir))
        mark()
        Tracer.span(spark, s"$name/plan")(df.queryExecution.executedPlan)
        mark()
        Tracer.span(spark, s"$name/exec")(
          df.write.mode("overwrite").parquet(s"$out/$name"))
        mark()
        None
      } catch { case t: Throwable =>
        System.err.println(s"[perfbench] $name failed: $t")
        Some(t.toString)
      } finally spark.catalog.clearCache()
      val end = System.nanoTime()
      val phases = marks.sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }
        .toSeq
      Map("name" -> name, "family" -> family,
        "construct_s" -> phases.lift(0), "plan_s" -> phases.lift(1),
        "exec_s" -> phases.lift(2), "total_s" -> (end - marks.head) / 1e9,
        "error" -> error)
    }
    rec("mix_s") = (System.nanoTime() - t0) / 1e9
    rec("queries") = results
    rec("data_dir") = timedDir
    rec("out_dir") = out
    rec("tables") = graft.Tables.names
    rec("oracles") = SparkEntry.oracleSql.filter { case (k, _) =>
      all.exists(_._2 == k) }
  }
}
