package org.apache.spark.perfbench

/** `listenerBus` is private[spark]; this bench-local shim blocks until
  * every queued listener event has been delivered, so counters are read
  * after a deterministic drain instead of after a sleep. */
object ListenerBusDrain {
  def apply(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
