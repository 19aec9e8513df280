package org.apache.spark

/** The listener bus delivers events asynchronously; a count read right
  * after an action can miss that action's last events. Draining the
  * bus first makes per-span counts exact. The bus is package-private,
  * hence this one-line bridge.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
