package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark's
  * tracer needs it so that span counts are complete before they are read,
  * and the retained-heap reading so that no queued event is counted.
  */
object RefbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
