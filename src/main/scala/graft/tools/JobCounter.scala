package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusShim

/** Counts the Spark jobs a session starts, and sums its tasks' executor
  * CPU time and shuffle-write bytes. Add one per session with
  * [[JobCounter.attach]] and read it around a unit of work with [[count]]
  * or [[measure]]; work that other threads start in that window counts too.
  */
final class JobCounter private (spark: SparkSession) extends SparkListener {
  private val started, cpuNs, shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    cpuNs.addAndGet(m.executorCpuTime)
    shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
  }

  /** The totals so far, after every event posted before the call has been
    * delivered.
    */
  private def totals: JobCounter.Work = {
    ListenerBusShim.drain(spark.sparkContext)
    JobCounter.Work(started.get, cpuNs.get, shuffleBytes.get)
  }

  /** `body`'s result and the work of the jobs started while it ran. */
  def measure[A](body: => A): (A, JobCounter.Work) = {
    val before = totals
    val a = body
    (a, totals - before)
  }

  /** `body`'s result and the number of jobs started while it ran. */
  def count[A](body: => A): (A, Long) = {
    val (a, w) = measure(body)
    (a, w.jobs)
  }
}

object JobCounter {
  /** Jobs started, and their tasks' executor CPU nanoseconds and
    * shuffle-write bytes.
    */
  final case class Work(jobs: Long, cpuNs: Long, shuffleBytes: Long) {
    def -(o: Work): Work = Work(jobs - o.jobs, cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes)
  }

  def attach(spark: SparkSession): JobCounter = {
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }
}
