package org.apache.spark

/** The live listener bus is `private[spark]`; the benchmark reads its
  * listeners' counters only after every queued event has been
  * delivered, so it needs this one accessor from inside the package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
