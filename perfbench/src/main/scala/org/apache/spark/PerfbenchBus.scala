package org.apache.spark

/** The listener bus's drain is `private[spark]`; the span tracer needs it
  * to read complete stage counters right after a pass. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
