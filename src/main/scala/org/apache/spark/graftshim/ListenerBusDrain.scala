package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so a
  * reader of listener-fed state (a spec's own listeners, the status tracker,
  * `graft.tools.Probe`'s record) sees the events it is about. The bus is
  * private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
