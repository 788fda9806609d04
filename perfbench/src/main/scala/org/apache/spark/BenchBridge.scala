package org.apache.spark

/** The listener bus delivers events asynchronously; a counter read right
  * after an action can miss that action's last task events. Draining the
  * bus needs package-private access, hence this one-method bridge. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
