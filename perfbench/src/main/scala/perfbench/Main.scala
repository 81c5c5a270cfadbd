package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. One process runs one workload once
  * and writes a raw JSON record; `perfbench/run.py` turns the record
  * into metrics and checks the outputs.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <workDir> <recordPath>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, recordPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(Tracer.install(spark)) else None
    val rec = Record()
    rec("seed") = seed
    rec("cpus") = cpus
    rec("jvm_start_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
    rec("session_ms") = System.currentTimeMillis()
    try workload match {
      case "ingest" => Ingest.run(spark, seed, seconds, workDir, rec)
      case "query_mix" => QueryMix.run(spark, seed, workDir, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case t: Throwable =>
      rec("error") = s"${t.getClass.getName}: ${t.getMessage}"
      t.printStackTrace()
    }
    rec("gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
    rec("peak_rss_kb") = Proc.vmHwmKb()
    tracer.foreach(t => rec("trace_spans") = t.dump())
    Files.writeString(Paths.get(recordPath), Json(rec.toMap))
    spark.stop()
  }
}

/** Ordered, mutable run record. */
final case class Record() {
  private val m = scala.collection.mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m(k) = v
  def toMap: scala.collection.Map[String, Any] = m
}

object Proc {
  /** Peak resident set of this process (VmHWM), in KiB. */
  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case Raw(s) => s
    case other => quote(other.toString)
  }

  /** A value that is already JSON text (Spark's progress JSON). */
  final case class Raw(json: String)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
