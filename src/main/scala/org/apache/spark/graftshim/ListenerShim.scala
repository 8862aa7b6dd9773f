package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`, so code that reads
  * listener-accumulated counters (the test suites' `SparkSpec.jobsDuring`
  * job and task counts) needs an accessor compiled inside the
  * `org.apache.spark` package tree to DRAIN the async bus before reading
  * — a fixed sleep is a race on a loaded machine (round-12 ADVICE). Same
  * pattern as sql.graftshim.ColumnShim; no Spark internals modified. */
object ListenerShim {
  /** Block until every queued listener event has been delivered, up to
    * `timeoutMillis`. The no-arg `waitUntilEmpty()` uses Spark's internal
    * default and THROWS on a loaded machine with a deep backlog — which
    * would turn a measurement under-report into a crashed probe run
    * (round-13 ADVICE). A timeout here degrades to a loud warning: the
    * caller's counter may under-report, but the run completes.
    * @return true when the bus drained, false on timeout. */
  def waitUntilListenerBusEmpty(sc: SparkContext,
      timeoutMillis: Long = 120000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          s"[graft] listener bus not drained after ${timeoutMillis} ms — " +
            "listener-accumulated counters may under-report")
        false
    }
}
