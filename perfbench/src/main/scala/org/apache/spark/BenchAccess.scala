package org.apache.spark

/** Access to Spark's package-private listener bus, so the tracer can
  * wait until every posted event has been delivered before reading its
  * records. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
