package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so a `QueryExecutionListener` has seen each query run before the
  * call. The bus is `private[spark]`, hence this package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
