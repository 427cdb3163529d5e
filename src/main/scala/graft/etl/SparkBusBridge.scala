package org.apache.spark

/** Bridge into the `private[spark]` listener bus, the same pattern
  * `org.apache.spark.sql.GraftStreamBridge` uses for `Dataset.ofRows`.
  * `graft.etl.Pipeline` drains the bus before it reads the status
  * tracker, so that the tracker reflects every event posted so far.
  */
object GraftBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
