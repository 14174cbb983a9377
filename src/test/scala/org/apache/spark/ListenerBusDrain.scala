package org.apache.spark

/** Test access to the listener bus barrier: listener events are delivered
  * asynchronously, so a spec that counts them must wait for the bus to
  * drain before it reads its counters.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
