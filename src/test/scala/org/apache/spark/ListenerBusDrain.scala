package org.apache.spark

/** Test access to the `private[spark]` listener bus: returns once every
  * event posted so far has reached the listeners, so a count a listener
  * keeps is complete when it is read. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
