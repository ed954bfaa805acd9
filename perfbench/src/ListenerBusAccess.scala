package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so that every event of the jobs that have
  * already finished has reached the benchmark's listeners. The bus is
  * package-private to Spark, hence this object's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
