package org.apache.spark

/** Test access to `private[spark]` SparkContext state. */
object GraftTestShim {
  /** Unset a test-set checkpoint dir (there is no public API to clear
    * it): a leaked dir would silently switch every iterative loop in
    * later suites to reliable per-round checkpointing. */
  def clearCheckpointDir(sc: SparkContext): Unit =
    sc.checkpointDir = None
}
