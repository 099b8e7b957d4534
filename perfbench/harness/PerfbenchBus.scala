package org.apache.spark

/** Drains the listener bus so a traced figure is read only after every
  * event posted so far has been delivered. `listenerBus` is
  * package-private to Spark, hence this one-line shim in its package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
