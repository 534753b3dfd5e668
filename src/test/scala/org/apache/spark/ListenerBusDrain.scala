package org.apache.spark

/** Test hook: blocks until Spark's listener bus has delivered every
  * posted event, so listener-side counts are complete before a test
  * reads them. The bus is package-private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
