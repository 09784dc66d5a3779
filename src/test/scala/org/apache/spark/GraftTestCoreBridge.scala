package org.apache.spark

/** Test-only bridge to `private[spark]` members of `SparkContext`. */
object GraftTestCoreBridge {

  /** `SparkContext.checkpointDir` is `private[spark]` with a setter but
    * no public unset, and the test JVM shares ONE session across all
    * suites — a suite that exercises the reliable-checkpoint path must
    * restore the no-dir default afterwards or every later suite's
    * iterative loops silently switch to disk checkpoints.
    */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`), so a test's listener has seen
    * all the jobs it is about to assert on.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
