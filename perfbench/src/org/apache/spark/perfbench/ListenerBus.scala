package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events on its own thread; the tracer reads
  * its counters only after every event posted so far has been handled. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
