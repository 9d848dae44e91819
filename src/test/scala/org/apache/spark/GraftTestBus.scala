package org.apache.spark

/** Test access to the listener bus: a `SparkListener` sees a job's events
  * asynchronously, so a count is read only after the bus has drained. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
