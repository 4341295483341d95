package org.apache.spark

/** Listener events arrive asynchronously; the benchmark reads its ledger
  * only after every event posted so far has been delivered.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
