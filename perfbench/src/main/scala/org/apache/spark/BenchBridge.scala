package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark reads its
  * listener only after every event of the measured window is delivered.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
