package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; this accessor lets the
  * benchmark block until every posted listener event has been delivered,
  * instead of sleeping and hoping the queue has emptied. */
object ListenerDrain {
  /** Blocks until the listener queues are empty; throws
    * `java.util.concurrent.TimeoutException` after `timeoutMs`. */
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
