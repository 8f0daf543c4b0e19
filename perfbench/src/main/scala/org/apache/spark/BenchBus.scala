package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the benchmark reads complete counters. `listenerBus` is
  * `private[spark]`, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
