package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a spec that asserts on
  * its own listener's records first waits for every posted event. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
