package org.apache.spark

/** Test access to the listener bus: block until every event posted so far
  * has reached the listeners, so a spec can read what a listener saw
  * right after the action that produced it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
