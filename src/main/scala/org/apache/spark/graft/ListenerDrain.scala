package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for measurement listeners: a fixed
  * sleep lets a lagging async bus bleed one sample's job/stage counters
  * into the next sample's delta. The bus API is private[spark]; this
  * package-located shim exposes exactly the drain.
  */
object ListenerDrain {
  /** Block until every queued listener event is dispatched, or timeout. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Exception => () } // timeout: read what has arrived
}
