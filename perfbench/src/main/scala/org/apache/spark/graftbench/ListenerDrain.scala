package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so counters read at a pass boundary belong to that pass. The
  * bus's wait is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
