package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark's asynchronous listener bus has delivered every event
  * posted so far, so counts read afterwards include all finished tasks.
  * Lives under `org.apache.spark` because the bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
