package org.apache.spark

/** The listener bus's flush is package-private; the benchmark needs it
  * to read its listener's totals at a measurement boundary. */
object LakebenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
