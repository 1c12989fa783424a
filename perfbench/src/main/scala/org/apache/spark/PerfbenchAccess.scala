package org.apache.spark

/** The one scheduler hook the tracer needs that Spark keeps package-private:
  * block until every posted listener event has been delivered, so a gate's
  * counters are complete before they are read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
