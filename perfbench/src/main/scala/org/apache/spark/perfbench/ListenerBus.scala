package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so that a listener has seen
  * every event of the jobs that already ended. The bus is internal to
  * the `org.apache.spark` package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)
}
