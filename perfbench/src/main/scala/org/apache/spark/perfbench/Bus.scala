package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread; the benchmark reads
  * the counters of an operation only after every event of it arrived.
  * The listener bus is package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
