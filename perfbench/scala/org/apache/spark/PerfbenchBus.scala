package org.apache.spark

/** The listener bus delivers events on its own thread; the benchmark
  * reads its counters only after the bus has drained (the drain call
  * is private to the spark package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
