package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain; its one caller is
  * `graft.obs.measure`.
  *
  * `graft.obs` attributes a timed body's wall time to the Spark jobs it
  * submitted. Job/stage events ride an ASYNC bus, so a counter snapshot
  * taken right after the body returns can misattribute the tail of its
  * jobs to the next body. `LiveListenerBus.waitUntilEmpty` is exactly
  * the drain Spark's own test harness uses; it is `private[spark]`,
  * hence this one-object bridge package. Not used on any query
  * execution path — harness instrumentation only.
  */
object BusDrain {
  /** Wait until the listener bus has dispatched all posted events.
    * Returns false (instead of throwing) on timeout so a wedged bus
    * degrades to an approximate count rather than a failed bench run.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 2000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
