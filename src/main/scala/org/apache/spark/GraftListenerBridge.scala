package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; [[graft.SparkActivity]]
  * must drain every queued event before reading its counters, instead of
  * sleeping and hoping the bus caught up. Same minimal-bridge pattern as
  * [[org.apache.spark.rdd.GraftRddBridge]].
  */
object GraftListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
