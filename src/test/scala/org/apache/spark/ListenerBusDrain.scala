package org.apache.spark

/** Lives in Spark's package for the one private call the suites need:
  * waiting until the listener bus has delivered every posted event. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
