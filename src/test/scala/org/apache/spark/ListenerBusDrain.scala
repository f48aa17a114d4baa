package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * `private[spark]`: returns once every event posted so far has reached
  * every registered listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
