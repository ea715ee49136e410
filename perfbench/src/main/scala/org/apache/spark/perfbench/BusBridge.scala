package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge into `private[spark]` internals: drains the listener bus so
  * every listener callback for the work done so far has been delivered
  * before the benchmark attributes it to an op.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
