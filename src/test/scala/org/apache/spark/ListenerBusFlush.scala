package org.apache.spark

/** Test access to the listener bus drain, which is `private[spark]`: after
  * `flush`, every event posted so far has reached every listener. */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
