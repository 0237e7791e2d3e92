package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread. The traced run reads
  * what its listener collected only after every queued event arrived.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
