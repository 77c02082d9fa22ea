package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark's tracer
  * needs it so that every event of a finished operation has been
  * delivered before its counters are read. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
