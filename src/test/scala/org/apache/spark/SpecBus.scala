package org.apache.spark

/** Spec access to the listener bus: returns once every event posted so far
  * has reached every listener. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
