package org.apache.spark

/** The listener bus is package-private; the traced run drains it before
  * it reads its listeners' counters, so every event of an operation is
  * counted for that operation.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
