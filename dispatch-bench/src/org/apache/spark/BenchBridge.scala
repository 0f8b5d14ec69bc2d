package org.apache.spark

/** Access to the listener bus, so the bench reads listener counts only
  * after every event of a pass has been delivered.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
