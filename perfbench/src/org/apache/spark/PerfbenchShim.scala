package org.apache.spark

/** Access to the one `private[spark]` call the benchmark's tracer needs: listener
  * events are delivered asynchronously, so per-span totals are read only after the
  * bus has delivered every event posted so far.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
