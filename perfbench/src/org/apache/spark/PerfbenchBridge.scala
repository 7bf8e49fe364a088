package org.apache.spark

/** The benchmark's one use of Spark's non-public surface: block until the
  * listener bus has delivered every event posted so far, so that counters
  * read after an action include all of its tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
