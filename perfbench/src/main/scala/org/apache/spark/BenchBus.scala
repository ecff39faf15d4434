package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run must see every task-end event before it reads its counters.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
