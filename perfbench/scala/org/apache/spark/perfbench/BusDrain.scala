package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's async listener bus, so that a span reads its task,
  * job and query events only after all of them were delivered.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
