package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting for queued listener events, so counters
  * read after a window include every event the window produced. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
