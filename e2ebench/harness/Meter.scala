package graft.e2ebench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters at one instant; `-` gives the counters of the
  * interval between two snapshots.
  */
final case class Counters(
    tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0, outputRecords: Long = 0, jobs: Long = 0,
    planNs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs,
    shuffleWrite - o.shuffleWrite, spill - o.spill, inputBytes - o.inputBytes,
    inputRecords - o.inputRecords, outputBytes - o.outputBytes,
    outputRecords - o.outputRecords, jobs - o.jobs, planNs - o.planNs)
  def taskCpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = shuffleWrite / 1e6
}

/** Sums Spark's own task metrics (executor CPU, run time, shuffle, spill,
  * input and output) and each finished query's analysis + optimisation +
  * planning time. Registered once per session; read only after the
  * listener bus has drained.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  private var c = Counters()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c = c.copy(
        tasks = c.tasks + 1,
        cpuNs = c.cpuNs + m.executorCpuTime,
        runMs = c.runMs + m.executorRunTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
        outputRecords = c.outputRecords + m.outputMetrics.recordsWritten)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    synchronized { c = c.copy(planNs = c.planNs + ms * 1000000L) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Counters = synchronized(c)
}
