package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters per operation label, from a listener the benchmark
  * registers. Jobs are labelled through the `perfbench.op` local
  * property, which Spark copies onto every job, stage and task event
  * submitted from the labelling thread. `snapshot` drains the listener
  * bus first, so every event of a finished operation has been counted
  * and the counts repeat exactly from run to run.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import SparkCounters._

  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, Array[Double]]

  private def add(label: String, i: Int, v: Double): Unit = synchronized {
    totals.getOrElseUpdate(label, new Array[Double](Names.length))(i) += v
  }
  private def labelOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Key))).getOrElse("unlabelled")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = labelOf(e.properties)
    synchronized(e.stageIds.foreach(stageLabel(_) = label))
    add(label, 0, 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val label = labelOf(e.properties)
    synchronized(stageLabel(e.stageInfo.stageId) = label)
    add(label, 1, 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val label = synchronized(stageLabel.getOrElse(e.stageId, "unlabelled"))
    val m = e.taskMetrics
    add(label, 2, 1)
    if (m != null) {
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      add(label, 3, m.executorCpuTime / 1e9)
      add(label, 4, m.executorRunTime / 1e3)
      add(label, 5, m.jvmGCTime / 1e3)
      add(label, 6, delay / 1e3)
      add(label, 7, m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(label, 8, (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add(label, 9, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(label, 10, m.inputMetrics.bytesRead.toDouble)
      add(label, 11, m.outputMetrics.bytesWritten.toDouble)
    }
  }

  /** Run `body` with its jobs labelled `label`. */
  def labelled[T](label: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Counter totals per label, after the listener bus has drained. */
  def snapshot(): Map[String, Map[String, Double]] = {
    org.apache.spark.ListenerBusDrain(sc)
    synchronized(totals.map { case (l, a) => l -> Names.zip(a).toMap }.toMap)
  }
}

object SparkCounters {
  val Key = "perfbench.op"
  /** Counter names, in the order `SparkCounters` accumulates them. */
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "executor_cpu_s",
    "executor_run_s", "gc_s", "scheduler_delay_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes")
}
