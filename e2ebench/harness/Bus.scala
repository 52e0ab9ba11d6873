package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The harness drains the bus before reading its listener counters and
  * before each host-speed kernel, so no event of the previous unit is
  * still in flight and no program work overlaps the kernel.
  */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
