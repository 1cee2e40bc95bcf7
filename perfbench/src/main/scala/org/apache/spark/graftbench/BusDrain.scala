package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the traced run must read its
  * listeners only after every posted event has been delivered. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
