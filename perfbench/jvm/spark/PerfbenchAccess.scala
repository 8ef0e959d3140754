package org.apache.spark

/** The one package-private hook the benchmark needs: wait for the
  * asynchronous listener bus so per-op counters are complete before the
  * next op starts. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
