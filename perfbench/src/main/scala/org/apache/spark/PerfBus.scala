package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus, so a
  * traced phase's job records are complete before they are written. */
object PerfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
