package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Barrier on Spark's asynchronous listener bus. The benchmark's tracer
  * reads only public `SparkListener` / `StreamingQueryListener` events,
  * but those arrive on a bus thread after the action returns; draining
  * the bus before attributing jobs to a span is the one thing the public
  * API does not offer (`listenerBus` is `private[spark]`).
  */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
