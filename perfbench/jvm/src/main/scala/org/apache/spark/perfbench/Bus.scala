package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so
  * a traced pass's job, stage and task records are complete before they
  * are attributed. The wait itself is `private[spark]`; this object lives
  * in Spark's package only to reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
