package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
