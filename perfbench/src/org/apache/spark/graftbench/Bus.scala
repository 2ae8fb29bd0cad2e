package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; counters are read
  * only after it has delivered everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
