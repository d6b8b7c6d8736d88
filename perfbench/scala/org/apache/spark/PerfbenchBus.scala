package org.apache.spark

/** The benchmark's one reach into Spark internals: the live listener bus is
  * `private[spark]`, and waiting for it to empty is the only way to know that
  * every event of a finished action has reached the benchmark's listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
