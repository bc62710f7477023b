package org.apache.spark

/** Exposes the package-private listener bus's `waitUntilEmpty()`: code that
  * counts listener-delivered jobs or task metrics must drain the async bus
  * before reading (a fixed sleep races event delivery under load).
  */
object GraftListenerSync {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
