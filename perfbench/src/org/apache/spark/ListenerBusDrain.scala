package org.apache.spark

/** The listener bus delivers task and stage events asynchronously; the
  * benchmark attributes counters to one operation only after every event
  * that operation posted has been delivered. `listenerBus` is
  * `private[spark]`, hence this one-line shim in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
