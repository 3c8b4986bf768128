package org.apache.spark

/** Spark delivers listener events on its own thread; this waits until
  * every event posted so far has been handed to the listeners, so a
  * traced run's counts are complete before they are written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
