package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered on its own thread; the traced run reads its
  * listener only after every posted event has been handled.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
