package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the tracer needs to wait
  * for it so that a span's numbers are complete when the span closes.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
