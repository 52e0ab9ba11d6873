package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain. Listener events are
  * delivered asynchronously; a listener's counters are complete only once
  * every event posted before the read has been delivered.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
