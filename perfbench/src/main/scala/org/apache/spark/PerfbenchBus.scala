package org.apache.spark

/** Bridge into `private[spark]` internals: the benchmark reads
  * listener-delivered task and query metrics at span boundaries, so it must
  * drain the asynchronous listener bus first. `waitUntilEmpty()` is the bus's
  * own way to do that; this object only exposes it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
