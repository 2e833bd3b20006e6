package org.apache.spark

/** Lives in Spark's package for the one private call the tracer needs:
  * waiting until the listener bus has delivered every posted event. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
