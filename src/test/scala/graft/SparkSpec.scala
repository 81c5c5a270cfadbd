package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — suites reuse it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** Count the Spark jobs `body` starts: `countTasks(body).length`. */
  def countJobs(body: => Unit): Int = countTasks(body).length

  /** The Spark jobs `body` starts, in order, each with the SQL
    * execution it ran under (None for a job outside one, such as
    * parquet schema inference) and the tasks its stages launched. A
    * marker action under a unique job group bounds the ASYNC listener
    * bus: the marker's JobStart is posted after every event of the jobs
    * `body` ran, so once it has been processed they have all been
    * counted (the PlanQualitySuite probe-memo pattern, shared). Relies
    * on the suites' sequential execution — a concurrent job from
    * another thread would be counted. */
  def countTasks(body: => Unit): Seq[SparkSpec.JobTasks] = {
    import org.apache.spark.scheduler._
    val marker = s"count-jobs-marker-${java.util.UUID.randomUUID()}"
    @volatile var seen = false
    val jobs = scala.collection.mutable.Buffer[(Option[Long], Seq[Int])]()
    val tasks = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.map(_.getProperty("spark.jobGroup.id")).orNull == marker)
          seen = true
        else jobs.synchronized {
          jobs += props.flatMap(p => Option(p.getProperty(
            "spark.sql.execution.id"))).map(_.toLong) -> js.stageIds
        }
      }
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        jobs.synchronized { tasks(ts.stageId) += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup(marker, "listener flush")
      try spark.range(1).count() finally
        spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, "countJobs listener flush timed out")
      jobs.synchronized {
        // a stage listed by more than one job ran in the first of them
        val owned = scala.collection.mutable.Set[Int]()
        jobs.toSeq.map { case (exec, stages) =>
          SparkSpec.JobTasks(exec, stages.filter(owned.add).map(tasks).sum)
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One job [[SparkSpec.countTasks]] saw. */
  final case class JobTasks(sqlExecution: Option[Long], tasks: Int)
}
