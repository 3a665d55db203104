package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Package-private-bridge to the listener bus's flush: per-query
  * driver-JOB counts (graft.Bench) delta a
  * SparkListener's counters around a timed run, and the bus is async —
  * without a flush the delta can lag the jobs the run actually
  * scheduled. `LiveListenerBus.waitUntilEmpty` is `private[spark]`
  * (it exists for exactly this measurement/test purpose), so the one
  * call lives in an `org.apache.spark` subpackage; nothing else
  * reaches in.
  */
object ListenerFlush {
  /** Block until every posted listener event has been delivered
    * (bounded by the bus's 10 s default); a timeout degrades to
    * slightly-stale counters instead of failing the measurement.
    */
  def waitUntilEmpty(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
