package org.apache.spark

/** The listener bus is `private[spark]`; the traced run needs to wait
  * for it to drain so every event is attributed before spans are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
