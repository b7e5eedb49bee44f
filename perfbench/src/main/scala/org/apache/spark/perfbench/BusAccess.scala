package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package to reach the listener bus, whose
 * `waitUntilEmpty` is package-private: a counter read at a span
 * boundary must include every event posted before it. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
