package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * metrics read right after an action see all of that action's tasks.
  * Lives in Spark's package because the bus is `private[spark]`.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
