package org.apache.spark

/** Bridge to the `private[spark]` listener bus. The phase recorder
  * ([[graft.Phase.Recorder]]) folds events an ASYNC listener receives;
  * a snapshot taken without draining the bus first would miss the
  * stages and tasks of jobs that already returned. Lives in the spark
  * package namespace solely to reach the private member; graft code
  * calls this instead of touching internals.
  */
object GraftSparkInterop {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
