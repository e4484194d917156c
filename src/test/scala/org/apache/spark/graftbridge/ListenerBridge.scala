package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus (`private[spark]`): wait until every
  * posted event reached the listeners. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
