package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far. The traced run calls it at span boundaries, so listener callbacks
  * (which run on the bus thread) are attributed to the span whose calls
  * caused them. Lives in this package because the bus is Spark-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
