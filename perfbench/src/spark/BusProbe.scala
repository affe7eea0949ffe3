package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the harness needs: listener events are
  * delivered asynchronously, so counters are read only after the bus has
  * handed every event of the finished span to the listeners. */
object BusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
