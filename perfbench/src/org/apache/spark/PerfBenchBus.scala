package org.apache.spark

/** Spark keeps the listener bus package-private. The benchmark reads its
  * listener's records only after every event of a finished call has been
  * delivered, so it needs the bus's drain.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
