package org.apache.spark

/** Package-private access to the listener bus barrier: the traced run
  * drains every queued event before it reads its listener's counts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
