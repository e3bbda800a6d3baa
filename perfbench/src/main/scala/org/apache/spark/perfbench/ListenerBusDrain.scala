package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so
  * the benchmark can close one op's trace before the next op starts.
  * Spark exposes this only inside its own package (its test suites use
  * it), hence the package of this file. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
