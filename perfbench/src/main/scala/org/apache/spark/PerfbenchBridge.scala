package org.apache.spark

/** The listener bus is package-private; the traced run waits for it to
  * drain so that each statement's jobs are counted before the next one. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
