package org.apache.spark

/** The listener bus is package-private; a run waits for it so that every
  * task of the timed phase is counted before the metrics are read. */
object LakebenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
