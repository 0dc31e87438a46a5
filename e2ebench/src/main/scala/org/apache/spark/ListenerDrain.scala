package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The benchmark's listeners attribute events to the span that was open
  * when they were posted, so each span drains the bus before it closes.
  * Lives in this package because the listener bus is `private[spark]`.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
