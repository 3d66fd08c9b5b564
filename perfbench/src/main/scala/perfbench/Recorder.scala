package perfbench

import java.util.concurrent.atomic.DoubleAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Cumulative Spark counters from the public listener events. Readers
  * call [[snapshot]], which first drains the listener bus so every
  * event of the work already finished has been counted; the counters
  * of a call are the difference of the snapshots around it.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val names = Seq("jobs", "stages", "tasks", "executor_cpu_s",
    "executor_run_s", "gc_s", "input_bytes", "output_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
  private val c: Map[String, DoubleAdder] = names.map(_ -> new DoubleAdder).toMap

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").add(1)

  // Stage-level task metrics are the sums over the stage's tasks,
  // including failed attempts; one event per stage keeps the bus light.
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    c("stages").add(1)
    c("tasks").add(i.numTasks)
    if (m != null) {
      c("executor_cpu_s").add(m.executorCpuTime / 1e9)
      c("executor_run_s").add(m.executorRunTime / 1e3)
      c("gc_s").add(m.jvmGCTime / 1e3)
      c("input_bytes").add(m.inputMetrics.bytesRead)
      c("output_bytes").add(m.outputMetrics.bytesWritten)
      c("shuffle_write_bytes").add(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").add(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    c.map { case (k, v) => k -> v.sum() }
  }
}

object Recorder {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
