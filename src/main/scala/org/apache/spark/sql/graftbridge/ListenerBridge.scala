package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** private[spark] access for [[graft.tools.QueryMetrics]]: drain the
  * listener bus so a measurement window sees every task-end and streaming
  * progress event of the work it just ran, and none of earlier work
  * (events are delivered asynchronously). */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
