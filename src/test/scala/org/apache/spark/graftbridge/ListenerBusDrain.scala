package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus: blocks until every event posted so
  * far has reached every listener, so a spec can count the jobs an
  * action ran right after it returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
