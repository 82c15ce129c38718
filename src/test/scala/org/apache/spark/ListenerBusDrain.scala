package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * after a drain, every event of the actions that already returned has
  * reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
