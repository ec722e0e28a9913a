package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * the benchmark's trace is complete before it is summarized. Lives in
  * Spark's package because the listener bus is not public.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
