package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test-scope hook into the `private[spark]` listener bus: blocks until
  * every posted event has been delivered, so a listener's counts are
  * complete when it is read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
