package org.apache.spark

/** The one Spark-internal call the tracer needs: listener events are
  * delivered asynchronously, so an operation's counters are complete only
  * once the bus has drained. Lives in Spark's package because the method
  * is `private[spark]`.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
