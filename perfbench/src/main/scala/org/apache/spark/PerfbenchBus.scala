package org.apache.spark

/** Lets the benchmark close a listener window exactly: blocks until the
  * listener bus has delivered every event posted so far. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
