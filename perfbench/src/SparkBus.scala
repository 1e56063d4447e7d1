package org.apache.spark

/** The listener bus drain is package-private; the benchmark needs it so the
  * job counts it reads after a call include every event of that call.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
