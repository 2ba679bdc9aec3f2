package org.apache.spark

/** Lets the benchmark drain Spark's asynchronous listener bus before it
  * reads what its listeners collected (the bus is private to Spark). */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
