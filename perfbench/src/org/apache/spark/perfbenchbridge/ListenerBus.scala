package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced iteration must wait for
  * every event it produced before its spans are summed. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
