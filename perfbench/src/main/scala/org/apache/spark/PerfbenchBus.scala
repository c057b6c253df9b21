package org.apache.spark

/** Listener events arrive asynchronously; the tracer drains the bus
  * before it reads its counters. `listenerBus` is private to Spark,
  * hence this one-line accessor in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
