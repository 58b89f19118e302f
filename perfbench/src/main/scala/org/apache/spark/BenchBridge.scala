package org.apache.spark

/** Access to the listener bus's drain, which is private[spark]: the
  * benchmark reads its listener's per-call totals only after every
  * event of that call has been delivered.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
