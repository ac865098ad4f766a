package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass is summarised only after its last job and stage events
  * have reached the benchmark's listener. Lives in Spark's package
  * because the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
