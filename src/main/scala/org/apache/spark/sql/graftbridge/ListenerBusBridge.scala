package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Connector-namespace seam for the `private[spark]`
  * `LiveListenerBus.waitUntilEmpty`: listener events are delivered on the
  * bus's own thread, so a listener's view of a finished action lags the
  * action. [[graft.Harness.run]] waits here before it reads the counts its
  * listener collected for a query.
  */
object ListenerBusBridge {

  /** Wait until every event posted so far has been delivered to every
    * listener, for at most `timeoutMs`. False when the wait timed out.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
