package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a job counter must see every job-start event before
  * it is read.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
