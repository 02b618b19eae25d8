package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Package-location accessor for the `private[spark]` listener bus.
  *
  * [[graft.Bench]] attributes Spark JOB COUNTS to individual queries by
  * snapshotting a counting listener before/after each timed execution;
  * the listener bus is ASYNC, so without an explicit drain a query's
  * trailing job events would bleed into the next query's count (the
  * round-10 job-floor measurement, SCALE.md, settled it with
  * Thread.sleep(800), which at 362 queries x 2 boundaries would add ~10
  * minutes of dead wall).
  * `LiveListenerBus.waitUntilEmpty` is exactly the needed barrier but is
  * `private[spark]`, hence this one-call shim in the org.apache.spark
  * namespace (same discipline as the sql/graft expression bridge).
  */
object BusDrain {
  /** Blocks until all queued listener events are dispatched, or the
    * timeout elapses (a timeout degrades telemetry precision, never
    * correctness — swallow it). */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
