package org.apache.spark

/** The listener bus is package-private; code that counts jobs with a
  * listener drains it before reading the count, so every event of the
  * action it measured has been delivered.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
