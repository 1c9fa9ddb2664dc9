package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the registered
  * listeners. Lives in Spark's package because the listener bus is
  * package-private; the traced run calls it after a pass so the
  * per-pass Spark counters are complete before they are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
