package org.apache.spark

/** Waits for the listener bus to deliver every posted event. The bus is
  * asynchronous and its drain method is package-private, so the
  * benchmark reaches it from inside the package. Called only outside
  * timed windows.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
