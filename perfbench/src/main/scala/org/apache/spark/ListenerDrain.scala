package org.apache.spark

import java.util.concurrent.TimeoutException

/** Waits until the listener bus has delivered every posted event, so a
  * listener can be read or detached without losing the tail of a
  * finished operation's events. Spark's own wait gives up after 10 s,
  * which a loaded host can exceed; this one waits `timeoutMs` and
  * returns whether the bus emptied. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 120000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
