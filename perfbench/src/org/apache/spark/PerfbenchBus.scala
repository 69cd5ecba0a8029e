package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's counters are complete before they are read. Lives in
  * this package because `SparkContext.listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
