package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Waits until the private[spark] listener bus has delivered every
  * event posted so far, so a listener's view is current.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
