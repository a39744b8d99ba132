package org.apache.spark.chbench

import org.apache.spark.SparkContext

/** Access to the private[spark] listener bus, so the traced run can wait
  * until every event of an op has reached the benchmark's listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
