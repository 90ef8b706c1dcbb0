package org.apache.spark

/** Test access to the driver's listener bus: block until every event
  * posted so far has reached the listeners, so a spec can count the
  * jobs an action ran without racing the asynchronous delivery. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
