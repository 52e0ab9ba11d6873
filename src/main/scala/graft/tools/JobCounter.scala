package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusShim

/** Counts the Spark jobs a session starts. Add one per session with
  * [[JobCounter.attach]] and read it around a unit of work with [[count]];
  * jobs that other threads start in that window count too.
  */
final class JobCounter private (spark: SparkSession) extends SparkListener {
  private val started = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()

  /** Jobs started so far, after every event posted before the call has
    * been delivered.
    */
  private def jobs: Long = {
    ListenerBusShim.drain(spark.sparkContext)
    started.get
  }

  /** `body`'s result and the number of jobs started while it ran. */
  def count[A](body: => A): (A, Long) = {
    val before = jobs
    val a = body
    (a, jobs - before)
  }
}

object JobCounter {
  def attach(spark: SparkSession): JobCounter = {
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }
}
