package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access to the private[spark] listener bus, so a test can wait until
  * every event of an action has reached its listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
