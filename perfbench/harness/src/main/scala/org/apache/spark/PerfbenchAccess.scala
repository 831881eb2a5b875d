package org.apache.spark

/** The two runtime hooks the harness needs that Spark keeps package-private:
  * draining the listener bus (so counters are complete before they are
  * read) and observing the ContextCleaner (so a timed call starts only after
  * the previous call's shuffle and RDD cleanup has finished).
  */
object PerfbenchAccess {

  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Calls `onClean` after each shuffle/RDD/broadcast/accumulator cleanup.
    * Returns false when the context runs without a cleaner.
    */
  def watchCleaner(sc: SparkContext)(onClean: () => Unit): Boolean =
    sc.cleaner match {
      case Some(c) =>
        c.attachListener(new CleanerListener {
          def rddCleaned(rddId: Int): Unit = onClean()
          def shuffleCleaned(shuffleId: Int): Unit = onClean()
          def broadcastCleaned(broadcastId: Long): Unit = onClean()
          def accumCleaned(accId: Long): Unit = onClean()
          def checkpointCleaned(rddId: Long): Unit = onClean()
        })
        true
      case None => false
    }
}
