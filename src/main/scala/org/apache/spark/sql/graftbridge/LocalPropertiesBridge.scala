package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** private[spark] access to a thread's Spark local properties (job
  * description, group, scheduler pool, SQL execution ids), so
  * [[graft.util.Async]] can run a leg under its submitter's properties. */
object LocalPropertiesBridge {
  /** A copy of the calling thread's local properties. */
  def capture(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` with `props` (a [[capture]], which `body` may change) as
    * this thread's local properties, then put the thread's own back. */
  def withProperties[A](sc: SparkContext, props: Properties)(body: => A): A = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
