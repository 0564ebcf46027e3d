package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** graft's benchmark: one workload per process, closed loop, one client
  * thread. Prints every metric as a `metric <name> <value> <unit>` line,
  * each failed op as a `failure ...` line, and last a
  * `result attempted=<n> failed=<n>` line; `run.py` turns these into the
  * benchmark's JSON result.
  *
  *   --workload ingest_query_mix|analytics_batch
  *   --seed N --seconds S --trace 0|1 --data DIR --work DIR
  */
object Main {

  final case class Failure(workload: String, op: String, error: Throwable) {
    def render: String =
      s"failure workload=$workload op=$op class=${error.getClass.getName} " +
        s"message=${String.valueOf(error.getMessage).replace('\n', ' ')} at " +
        error.getStackTrace.take(4).mkString(" <- ")
  }

  /** What a workload measured: named values with units (end-to-end and
    * per-layer), and its op tally. */
  final class Result(val workload: String) {
    val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
    var attempted = 0
    val failures: mutable.ArrayBuffer[Failure] = mutable.ArrayBuffer.empty
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    /** Run one op, recording an exception or a wrong answer as failed. */
    def attempt(op: String)(body: => Boolean): Boolean = {
      attempted += 1
      try {
        val ok = body
        if (!ok) failures += Failure(workload, op,
          new IllegalStateException(s"answer of $op differs from the expected one"))
        ok
      } catch {
        case e: Exception => failures += Failure(workload, op, e); false
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = Path.of(opts("data"))
    val work = Path.of(opts("work"))
    require(Workloads.Names.contains(workload), s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced)
    val counters = if (traced) {
      val c = new SparkCounters(spark.sparkContext)
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None

    val result = new Result(workload)
    val w = new Workloads(spark, data, work, seed, seconds, trace, counters, result)
    try workload match {
      case "ingest_query_mix" => w.ingestQueryMix()
      case "analytics_batch" => w.analyticsBatch()
    } catch {
      case e: Exception => result.failures += Failure(workload, "workload", e)
    }
    result.put("peak_rss_mb", peakRssMb(), "MB")
    result.put("failed_ratio",
      result.failures.size.toDouble / math.max(1, result.attempted), "ratio")
    if (traced) {
      w.layerMetrics()
      trace.writeSpans(work.resolve("spans.jsonl"))
    }
    spark.stop()

    result.failures.foreach(f => println(f.render))
    result.metrics.foreach { case (n, (v, u)) => println(s"metric $n $v $u") }
    println(s"result attempted=${result.attempted} failed=${result.failures.size}")
    sys.exit(if (result.failures.isEmpty) 0 else 1)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
