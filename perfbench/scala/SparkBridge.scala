package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * ledger is complete before the harness reads it.  The bus's drain is
  * package-private, hence this one-line bridge.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
