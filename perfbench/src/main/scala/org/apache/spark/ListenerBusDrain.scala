package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so counters read right after a call include that call's jobs and
  * query executions. The bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
