package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener read right after a job sees that job's task metrics. Lives in
  * this package because `listenerBus` is private to it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
