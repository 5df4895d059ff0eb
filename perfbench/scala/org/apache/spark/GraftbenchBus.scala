package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete job, stage and task records. The bus is
  * private to Spark; this is the only reason the object lives here. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
