package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task and job counters from a SparkListener that the benchmark
  * registers on its own session. Engine code is not touched: everything
  * here is what Spark reports for the jobs the engine runs. */
final class Meter(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val spill = new AtomicLong
  private val inputBytes = new AtomicLong
  private val outputBytes = new AtomicLong
  private val peakExec = new AtomicLong

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      peakExec.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
  }

  /** counters after every event posted so far has been delivered. */
  def read(): Meter.Counters = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Meter.Counters(jobs.get, tasks.get, cpuNs.get / 1e9, runMs.get / 1e3,
      gcMs.get / 1e3, shuffleWrite.get, shuffleRead.get, spill.get,
      inputBytes.get, outputBytes.get, peakExec.get)
  }

  /** restart the peak-memory maximum (the other counters are deltas). */
  def resetPeak(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    peakExec.set(0L)
  }
}

object Meter {
  final case class Counters(jobs: Long, tasks: Long, taskCpuS: Double,
                            taskRunS: Double, gcS: Double,
                            shuffleWrite: Long, shuffleRead: Long,
                            spill: Long, inputBytes: Long,
                            outputBytes: Long, peakExec: Long) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs,
      tasks - o.tasks, taskCpuS - o.taskCpuS, taskRunS - o.taskRunS,
      gcS - o.gcS, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill,
      inputBytes - o.inputBytes, outputBytes - o.outputBytes, peakExec)

    /** the `spark.*` per-layer metrics over a window of `wallS` seconds
      * on `slots` task slots. */
    def metrics(wallS: Double, slots: Int): Seq[Metric] = Seq(
      Metric("spark.task_cpu_s", taskCpuS, "s"),
      Metric("spark.task_run_s", taskRunS, "s"),
      Metric("spark.gc_s", gcS, "s"),
      Metric("spark.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
      Metric("spark.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
      Metric("spark.spill_bytes", spill.toDouble, "bytes"),
      Metric("spark.input_bytes", inputBytes.toDouble, "bytes"),
      Metric("spark.output_bytes", outputBytes.toDouble, "bytes"),
      Metric("spark.jobs", jobs.toDouble, "count"),
      Metric("spark.tasks", tasks.toDouble, "count"),
      Metric("spark.slot_busy_frac", taskRunS / (wallS * slots), "ratio"))
  }
}
