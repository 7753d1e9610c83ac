package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark can read
  * a job's listener events as soon as the job has finished. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
