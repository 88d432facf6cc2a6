package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters are read only after every posted event has been handled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
