package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Visibility bridge to the context's `private[spark]` listener bus. */
object ListenerBusShim {
  /** Block until every posted listener event has been delivered. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
