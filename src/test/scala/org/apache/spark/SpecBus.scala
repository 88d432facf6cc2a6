package org.apache.spark

/** The listener-bus drain Spark keeps package-private: a test reads its
  * listener's counters only after every posted event has been handled. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
