package org.apache.spark

/** The listener bus's drain is `private[spark]`; this adapter is the only
  * reason the benchmark has a file in Spark's package. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
