package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * a spec's listener counters are complete when it asserts on them.
  * The bus accessor is package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
