package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus so the events of one operation are
  * delivered before its counters are read. `waitUntilEmpty` is
  * `private[spark]`, hence this package. */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
