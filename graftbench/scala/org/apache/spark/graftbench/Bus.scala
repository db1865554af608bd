package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the benchmark reads its
  * counters only after every event posted so far has been delivered.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
