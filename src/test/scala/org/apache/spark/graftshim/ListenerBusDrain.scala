package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so a
  * spec reads listener-fed state (its own listeners, the status tracker)
  * only after the events it is about. The bus is private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
