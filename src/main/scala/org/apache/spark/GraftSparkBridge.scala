package org.apache.spark

/** Bridge into `private[spark]` surface: flushing the listener bus has no
  * public API, and graft.QueryRun needs it so counters read after a run
  * hold every event that run posted. Lives in the `org.apache.spark`
  * package solely for access; no Spark internals are modified.
  */
object GraftSparkBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
