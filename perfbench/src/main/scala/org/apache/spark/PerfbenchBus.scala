package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus, so
  * job, task and streaming-progress events of an op are all delivered
  * before the op's counts are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
