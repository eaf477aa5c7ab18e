package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the benchmark drains it before it
  * reads counters so that no event of a finished call is missed.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
