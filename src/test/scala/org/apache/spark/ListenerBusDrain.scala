package org.apache.spark

/** Drains the listener bus so a spec reads listener state only after
  * every event posted so far has been delivered. `listenerBus` is
  * package-private to Spark, hence this shim in its package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
