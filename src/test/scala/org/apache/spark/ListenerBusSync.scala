package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * a spec can read what its SparkListener saw. Lives in Spark's package
  * because the listener bus is not public.
  */
object ListenerBusSync {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
