package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain call is Spark-internal: a
  * traced read of listener counters must first wait until every event
  * posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
