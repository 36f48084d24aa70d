package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * span's census is complete when the span closes. The bus is
  * package-private in Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
