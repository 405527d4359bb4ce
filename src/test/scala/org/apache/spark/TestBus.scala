package org.apache.spark

/** Lets a spec wait for Spark's asynchronous listener bus, so every
  * event of the work it ran has reached its listeners before it counts
  * them. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
