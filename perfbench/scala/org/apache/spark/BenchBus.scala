package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * trace read right after an action sees all of that action's tasks.
  * Lives in Spark's package because the bus is `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
