package org.apache.spark.sql.graftbridge

/** Spec hook: block until the listener bus has delivered every event
  * posted so far (Spark scopes the bus to its own package), so a
  * `QueryExecutionListener` has seen every query a block ran. */
object ListenerDrain {
  def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
