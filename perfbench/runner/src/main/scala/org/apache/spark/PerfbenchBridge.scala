package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains after every operation so that each operation's
  * job, stage and task events are attributed before the next one starts.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
