package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: block until every
  * event posted so far has reached the listeners, so a query's jobs,
  * stages, tasks and streaming batches are all counted before the next
  * query starts. */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
