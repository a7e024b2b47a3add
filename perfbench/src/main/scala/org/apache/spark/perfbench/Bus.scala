package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so every job and task event of a run has reached its
  * listener before the spans are joined with them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
