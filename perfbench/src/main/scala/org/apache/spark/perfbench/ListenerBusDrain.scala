package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so
  * a pass's ledger is complete before it is read. Spark keeps the bus
  * package-private; its own test suites drain it the same way. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
