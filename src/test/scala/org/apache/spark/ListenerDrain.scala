package org.apache.spark

/** Test access to the driver's `private[spark]` listener bus: returns
  * once every event posted so far has reached its listeners, so a spec
  * can count jobs right after an action. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
