package org.apache.spark

/** The listener bus delivers task events asynchronously; the harness
  * reads its counters only after every event posted so far has been
  * handled. `listenerBus` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
