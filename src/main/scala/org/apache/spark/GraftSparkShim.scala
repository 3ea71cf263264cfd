package org.apache.spark

/** Bridge to `private[spark]` SparkContext internals the bench
  * harness needs: listener-bus draining. Per-query resource metrics
  * (shuffle/spill/peak-memory — r11 verdict item #4) are collected by
  * a SparkListener, and listener events are ASYNCHRONOUS — without a
  * drain between queries, the tail of query A's task-end events
  * lands in query B's counters. `waitUntilEmpty` is the standard
  * test-harness seam Spark itself uses for exactly this, just not
  * public. */
object GraftSparkShim {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
