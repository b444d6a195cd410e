package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run waits
  * for it to drain before it writes its spans. `waitUntilEmpty` is
  * private to Spark's package, hence this bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
