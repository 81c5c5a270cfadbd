package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicInteger

/** Dev tool: time registered queries with the BENCH methodology (noop
  * sink — evaluates every output column, no count-time join
  * elimination) and report min-of-N plus job/stage counts and
  * plan-construction time. The honest A/B harness for optimization
  * work: a count() harness lets Catalyst eliminate unique-key left
  * joins and prune expensive output columns (CLAUDE.md probe lesson),
  * so recompute-vs-checkpoint A/Bs measured there can be artifacts.
  * Jobs and stages are split by phase: construct (cjobs), building
  * the executed plan (pjobs) and exec.
  *
  * Usage: runMain graft.examples.NoopTime <name>[,<name>...] [sfDir] [reps]
  */
object NoopTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    })
    spark.range(1).count() // session warmup
    names.foreach { name =>
      val times = (1 to reps).map { i =>
        val jc0 = jobs.get(); val sc0 = stages.get()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val tPlan = System.nanoTime()
        val jp0 = jobs.get(); val sp0 = stages.get()
        df.queryExecution.executedPlan // force analysis+optimize+plan
        val tPlanned = System.nanoTime()
        val j0 = jobs.get(); val s0 = stages.get()
        df.write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        spark.sharedState.cacheManager.clearCache()
        val total = (t1 - t0) / 1e9
        // construct-time jobs matter for the streaming replay queries
        // (processBatch runs eager jobs at query construction)
        println(f"[$i] $name: total $total%.2f s " +
          f"(construct ${(tPlan - t0) / 1e9}%.2f, " +
          f"plan ${(tPlanned - tPlan) / 1e9}%.2f, " +
          f"exec ${(t1 - tPlanned) / 1e9}%.2f; " +
          f"cjobs ${jp0 - jc0}, cstages ${sp0 - sc0}, " +
          f"pjobs ${j0 - jp0}, pstages ${s0 - sp0}, " +
          f"jobs ${jobs.get() - j0}, stages ${stages.get() - s0})")
        total
      }
      println(f"== $name min-of-$reps: ${times.min}%.2f s")
    }
    spark.stop()
  }
}
