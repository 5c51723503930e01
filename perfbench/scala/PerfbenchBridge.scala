package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits for
  * it to drain before reading the recorded events. `waitUntilEmpty` is
  * package-private, hence this bridge.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
