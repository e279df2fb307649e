package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the benchmark needs
  * to wait until its listener has seen every event before reading
  * counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
